"""Full Snowball stemmers (de fr es sv no da ru it nl pt ro fi hu)
from ONE spec per language, interpreted by THREE backends: Spark-SQL
step text, DuckDB SQL text, and plain Python. The Spark step texts are
applied two ways: as step columns (``snowball_spark_steps``) and as one
Column (``snowball_stem``).

Reference: the per-language analyzer registry the reference routes
text through (utils/src/main/scala/com/salesforce/op/utils/text/
LuceneTextAnalyzer.scala). Through r9 the de/fr/es chains here shipped
ordered light-suffix subsets (PARITY delta 1a: "stems one step
shallower"); this module closes those arms with the COMPLETE published
Snowball algorithms (M.F. Porter, snowballstem.org — the stemmer
family Lucene ships as SnowballFilter), the porter.py pattern
generalized: every rule table below is the single source of truth, and
the Spark expression chain, the DuckDB oracle CTEs, and the Python
mirror are all generated from it by the same step interpreter walking
the same control flow. A law test pins Spark == Python over fixture +
hypothesis words; the driver oracle pins Spark == SQL end-to-end.

Spark-first design notes (the 100 TB shape):
- Pure expressions, zero UDFs: suffix steps are longest-first CASE
  chains; regions (R1/R2/RV) are two regexp skeleton rewrites + locate
  arithmetic computed ONCE per word.
- Bind-once: each step binds its output (plus the region integers)
  before the next step references it — as a column, or as a
  transform-lambda variable in the one-Column form — because naive
  chaining would re-inline every step into each reference and grow the
  plan exponentially across the 8-13 stages (the engine-wide rule
  porter.py states; SQL binds via CTE-per-step, Python is eager).
- Small parses: the step texts are parsed a step or a level of at most
  ``_LEVEL_TEXT`` characters at a time, never as one big ``F.expr``
  (ANTLR's cost and DFA-cache retention are superlinear in text size),
  and never node by node over py4j (ARCHITECTURE rule 7).

Documented micro-deltas vs the Snowball reference implementation (all
three shared by every backend, so laws and oracles stay exact):
- Prelude marking runs as ORDERED consume-scans (u-between-vowels pass
  before y/i passes) instead of one left-to-right combined scan; the
  two diverge only on abutting mark sites inside vowel runs ('ayua',
  'aiue') which real de/fr words don't produce.
- French diaeresis: ë/ï stay plain vowels (the pre-2018 behavior; the
  2018 revision rewrites them He/Hi through the whole algorithm).
- German2's ae/oe/ue umlaut folding is available as variant="german2"
  (law-tested; the driver oracle gates the standard variant).
- Romanian (r11): the step-1 repeat loop is unrolled to 4 passes (every
  replacement strictly shortens the word and a re-match needs a >=4-char
  suffix; a no-match pass is a fixpoint, so extra passes are identity —
  real vocabulary never chains past 3); comma-below ş/ţ fold to the
  cedilla forms the rule tables use (the ad-hoc extension modern
  Snowball also applies).
- Finnish (r11): preceding-char guards (cv, Vi, LV, hXn, the step-2
  possessive contexts) are tested UNRESTRICTED — only the suffix itself
  must lie in R1/R2 (the published kalaa -> kala requires the 'c' of
  the cv test to sit before R1); step-6 a-d consume entirely inside R1.
- Hungarian (r11): the á->a/é->e ending normalization runs only when a
  case suffix was actually deleted; the owned/sing-owner/plural-owner
  tables are reconstructed from the published algorithm description —
  rare paradigm cells may differ from the reference binary.
"""
from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column

from ..util import bind_sql

__all__ = ["snowball_stem", "snowball_stem_py", "snowball_sql_ctes",
           "SNOWBALL_LANGS"]

SNOWBALL_LANGS = ("de", "fr", "es", "sv", "no", "da", "ru", "it", "nl",
                  "pt", "ro", "fi", "hu")

_DE_V = "aeiouyäöü"
_FR_V = "aeiouyâàëéêèïîôûù"
_ES_V = "aeiouáéíóúü"

_DE_S_END = "bdfghklmnrt"     # valid s-endings (step 1)
_DE_ST_END = "bdfghklmnt"     # valid st-endings (step 2)


# ---------------------------------------------------------------------------
# backends


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class _SqlB:
    """Values are DuckDB SQL expression strings; bind emits one CTE per
    step (the SQL bind-once — each step's text references its input
    COLUMN, never the previous step's expression)."""

    def __init__(self, prefix: str, key: str, source: str):
        self.prefix, self.key = prefix, key
        self.ctes: list[str] = []
        self.cols = [key, "w0"]
        self.n = 0
        self.src = source

    def lit(self, s):
        return _q(s)

    def num(self, n):
        return str(n)

    def true(self):
        return "TRUE"

    def when(self, c, a, b):
        return f"CASE WHEN {c} THEN {a} ELSE {b} END"

    def endswith(self, w, s):
        return f"ends_with({w}, {_q(s)})"

    def startswith(self, w, s):
        return f"starts_with({w}, {_q(s)})"

    def drop(self, w, n):
        return f"substr({w}, 1, length({w}) - {n})"

    def append(self, w, s):
        return f"({w} || {_q(s)})"

    def concat2(self, a, b):
        return f"({a} || {b})"

    def length(self, w):
        return f"length({w})"

    def add(self, a, b):
        return f"({a} + {b})"

    def sub(self, a, b):
        return f"({a} - {b})"

    def ge(self, a, b):
        return f"({a} >= {b})"

    def gt(self, a, b):
        return f"({a} > {b})"

    def eq(self, a, b):
        return f"({a} = {b})"

    eqs = eq

    def and_(self, *cs):
        return "(" + " AND ".join(cs) + ")"

    def or_(self, *cs):
        return "(" + " OR ".join(cs) + ")"

    def not_(self, c):
        return f"(NOT {c})"

    def char_from_end(self, w, i):
        return (f"CASE WHEN length({w}) >= {i} THEN "
                f"substr({w}, length({w}) - {i - 1}, 1) ELSE '' END")

    def take_char(self, w, i):
        return f"substr({w}, {i}, 1)"

    def in_chars(self, ch, chars):
        lst = ", ".join(_q(c) for c in chars)
        return f"({ch} IN ({lst}))"

    def regex_replace(self, w, pat, repl):
        repl_sql = repl.replace("$", "\\")
        return (f"regexp_replace({w}, {_q(pat)}, {_q(repl_sql)}, 'g')")

    def replace_all(self, w, a, b):
        return f"replace({w}, {_q(a)}, {_q(b)})"

    def locate_from(self, w, sub, start):
        tail = f"substr({w}, {start})"
        found = f"instr({tail}, {_q(sub)})"
        return (f"CASE WHEN {found} > 0 THEN {found} + {start} - 1 "
                f"ELSE 0 END")

    def char_at(self, w, pos):
        return (f"CASE WHEN ({pos}) >= 1 AND ({pos}) <= length({w}) "
                f"THEN substr({w}, {pos}, 1) ELSE '' END")

    def substr_at(self, w, pos, n):
        return (f"CASE WHEN ({pos}) >= 1 "
                f"THEN substr({w}, {pos}, {n}) ELSE '' END")

    def prefix_to(self, w, pos):
        return (f"CASE WHEN ({pos}) >= 1 "
                f"THEN substr({w}, 1, {pos}) ELSE '' END")

    def suffix_from(self, w, pos):
        return (f"CASE WHEN ({pos}) >= 1 AND ({pos}) <= length({w}) "
                f"THEN substr({w}, {pos}) ELSE '' END")

    def greatest(self, a, b):
        return f"greatest({a}, {b})"

    def bind(self, refs, name, val, cont):
        self.n += 1
        cte = f"{self.prefix}{self.n}"
        prev = f"{self.prefix}{self.n - 1}" if self.n > 1 else self.src
        # MATERIALIZED: DuckDB inlines single-reference CTEs, which
        # substitutes each step's defining expression into EVERY
        # reference the next step makes — the exact exponential
        # re-inlining the CTE-per-step form exists to prevent. The
        # hint pins one evaluation per step.
        self.ctes.append(
            f"{cte} AS MATERIALIZED (SELECT {', '.join(self.cols)}, "
            f"{val} AS {name} FROM {prev})")
        self.cols.append(name)
        return cont({**refs, name: name})

    # NO subbind here (chunking stays step-backend-only): measured on
    # the stopwords-gate oracle, DuckDB's ~20 s planning cost scales
    # with the COUNT of MATERIALIZED CTEs, not with single-expression
    # size — chunking the big amongs into extra CTEs made planning 3x
    # WORSE (69 s). The opposite of ANTLR/Janino, whose costs are
    # superlinear in one expression; each engine gets the shape its
    # front-end prefers. The third option — merging several steps into
    # one CTE via DuckDB's lateral column aliases — is ALSO out:
    # DuckDB binds lateral aliases by SUBSTITUTION, so chained step
    # references re-inline multiplicatively (the ru chain never
    # finished planning). One step, one CTE is the measured optimum.


def _ref(i: int) -> str:
    """Placeholder for binding ``i`` of a step chain (0 is the input
    word): step texts are recorded with these, and each rendering
    substitutes its own name for them."""
    return f"\x00{i}\x00"


_REF_RE = re.compile("\x00(\\d+)\x00")


def _render(text: str, name) -> str:
    """``text`` with each placeholder replaced by ``name(i)``."""
    return _REF_RE.sub(lambda m: name(int(m[1])), text)


class _SparkStepB(_SqlB):
    """Spark-SQL dialect with a STEP-PER-BINDING record: each plan step
    — and, via ``subbind``, each ``_RULE_CHUNK``-rule slice of a big
    among — is recorded as (column_name, small_expression_text), its
    references to earlier bindings kept as ``_ref`` placeholders. The
    same record renders two ways: as step columns applied by
    ``withColumn`` (``snowball_spark_steps``), and as one Column of
    nested lambdas parsed level by level (``snowball_stem``). Either
    way the stemmer arrives as SMALL parses instead of one giant
    ``F.expr`` (whose ANTLR prediction cost and DFA-cache retention
    are superlinear in text size), and each step evaluates once per
    row. Equal to every other backend by the shared-spec law tests."""

    def __init__(self, col_prefix: str = "_sb_"):
        self.steps: list[tuple[str, str]] = []
        self._aux = 0
        self._pfx = col_prefix

    def endswith(self, w, s):
        return f"endswith({w}, {_q(s)})"

    def startswith(self, w, s):
        return f"startswith({w}, {_q(s)})"

    def regex_replace(self, w, pat, repl):
        # Spark regexp_replace is global; replacement refs stay $1
        return f"regexp_replace({w}, {_q(pat)}, {_q(repl)})"

    def _record(self, col, val):
        self.steps.append((col, val))
        return _ref(len(self.steps))

    def subbind(self, val):
        self._aux += 1
        return self._record(f"{self._pfx}a{self._aux}", val)

    def bind(self, refs, name, val, cont):
        # plan step names ('w', 'r1', 'skel', ...) become COLUMNS in
        # the caller's frame — prefix them so they can never collide
        # with (and silently overwrite) a data column; a per-language
        # prefix also lets several languages' chains share one frame
        return cont({**refs, name: self._record(f"{self._pfx}{name}", val)})


def _step_chain(lang, variant, col_prefix="_sb_"):
    """(steps, final_text) with references left as placeholders."""
    plan, final = _lang_program(lang, variant)
    B = _SparkStepB(col_prefix)
    return B.steps, _run(B, plan, _ref(0), final)


def snowball_spark_steps(lang: str, variant: str | None = None,
                         col_prefix: str = "_sb_",
                         input_col: str = "w0"
                         ) -> tuple[list[tuple[str, str]], str]:
    """The stemmer as a chain of small Spark-SQL step expressions over
    an input column named ``w0``: returns ``(steps, final_expr)`` where
    each step is ``(column_name, expression_text)`` referencing earlier
    step columns, and ``final_expr`` names the stem. Step columns are
    ``col_prefix``-prefixed (default ``_sb_``) so they can never
    collide with a data column — pass a per-language prefix to lay
    several languages' chains side by side in one frame (the
    ``analyze_auto_df`` shape); ``input_col`` names the lowercase
    token column the chain reads. Select (or drop) the step columns
    away after the final projection. Apply with::

        df = df.withColumn("w0", ...)          # lowercase token
        for name, expr in steps:
            df = df.withColumn(name, F.expr(expr))
        df = df.selectExpr(..., f"{final_expr} AS stem")

    Pure-Python text assembly plus one tiny ``F.expr`` parse per
    step/chunk — never one big ``F.expr`` parse, whose ANTLR cost is
    superlinear and whose DFA cache is retained (measured ~300 MB for
    the ru stemmer's 85 KB step). Equal to ``snowball_stem`` by the
    backend law tests."""
    steps, final = _step_chain(lang, variant, col_prefix)
    names = [input_col] + [col for col, _ in steps]
    return ([(col, _render(val, names.__getitem__)) for col, val in steps],
            _render(final, names.__getitem__))


class _PyB:
    """Values are native str/int/bool; eager evaluation (the mirror)."""

    def lit(self, s):
        return s

    num = lit

    def true(self):
        return True

    def when(self, c, a, b):
        return a if c else b

    def endswith(self, w, s):
        return w.endswith(s)

    def startswith(self, w, s):
        return w.startswith(s)

    def drop(self, w, n):
        return w[:len(w) - n] if n <= len(w) else ""

    def append(self, w, s):
        return w + s

    def concat2(self, a, b):
        return a + b

    def length(self, w):
        return len(w)

    def add(self, a, b):
        return a + b

    def sub(self, a, b):
        return a - b

    def ge(self, a, b):
        return a >= b

    def gt(self, a, b):
        return a > b

    def eq(self, a, b):
        return a == b

    eqs = eq

    def and_(self, *cs):
        return all(cs)

    def or_(self, *cs):
        return any(cs)

    def not_(self, c):
        return not c

    def char_from_end(self, w, i):
        return w[len(w) - i] if len(w) >= i else ""

    def take_char(self, w, i):
        return w[i - 1] if len(w) >= i else ""

    def in_chars(self, ch, chars):
        return ch in set(chars)

    def regex_replace(self, w, pat, repl):
        return re.sub(pat, repl.replace("$", "\\"), w)

    def replace_all(self, w, a, b):
        return w.replace(a, b)

    def locate_from(self, w, sub, start):
        idx = w.find(sub, start - 1)
        return idx + 1 if idx >= 0 else 0

    def char_at(self, w, pos):
        return w[pos - 1] if 1 <= pos <= len(w) else ""

    def substr_at(self, w, pos, n):
        return w[pos - 1:pos - 1 + n] if pos >= 1 else ""

    def prefix_to(self, w, pos):
        return w[:pos] if pos >= 1 else ""

    def suffix_from(self, w, pos):
        return w[pos - 1:] if 1 <= pos <= len(w) else ""

    def greatest(self, a, b):
        return max(a, b)

    def bind(self, refs, name, val, cont):
        return cont({**refs, name: val})


# ---------------------------------------------------------------------------
# shared step machinery


def _sorted_rules(rules):
    """Snowball's among(): the longest matching suffix wins; a failed
    condition on the winner does NOT fall through to a shorter one."""
    return sorted(rules, key=lambda r: -len(r[0]))


# rules per sub-bound chunk in backends that support subbind (the
# step backend): ANTLR's adaptive prediction is superlinear in single-
# expression size (an 85 KB ru step parses in ~10 s and retains
# ~300 MB of DFA cache; 8-rule chunks parse in linear time with
# near-zero retention), so big amongs split into chained chunk columns
_RULE_CHUNK = 8

# characters of step text per parsed level of ``snowball_stem``: small
# enough for a linear ANTLR parse, few enough levels (1-12 per
# language) for the analyzer's fixed-point iteration limit
_LEVEL_TEXT = 12_000


def _apply_rules(B, w, rules):
    out = w
    sub = getattr(B, "subbind", None)
    for i, (sfx, act) in enumerate(reversed(_sorted_rules(rules)), 1):
        out = B.when(B.endswith(w, sfx), act(w, sfx), out)
        if sub is not None and i % _RULE_CHUNK == 0:
            out = sub(out)
    return out


def _in_r(B, R, w, sfxlen, rkey):
    """Suffix start position (1-based, absolute — deletions only ever
    shorten the right edge, so prepared-word region marks stay valid)
    at or after the region start."""
    return B.ge(B.sub(B.length(w), B.num(sfxlen - 1)), R[rkey])


def _prev_nonvowel(B, w, sfxlen, vowels):
    """There IS a character before the suffix and it is a non-vowel
    (Snowball's backward non-v test fails at the limit)."""
    return B.and_(B.gt(B.length(w), B.num(sfxlen)),
                  B.not_(B.in_chars(B.char_from_end(w, sfxlen + 1),
                                    vowels)))


def _skeleton(B, w, vowels):
    """Positional consonant/vowel skeleton: vowels -> 'a', every other
    character -> 'b' (length-preserving; marker capitals are
    consonants by construction)."""
    return B.regex_replace(B.regex_replace(w, f"[{vowels}]", "a"),
                           "[^a]", "b")


def _r1_raw(B, R, skel, wlen):
    p = B.locate_from(skel, "ab", B.num(1))
    return B.when(B.gt(p, B.num(0)), B.add(p, B.num(2)),
                  B.add(wlen, B.num(1)))


def _r2_from(B, skel, r1, wlen):
    p = B.locate_from(skel, "ab", r1)
    return B.when(B.gt(p, B.num(0)), B.add(p, B.num(2)),
                  B.add(wlen, B.num(1)))


def _run(B, plan, w0, finalize):
    def go(i, refs):
        if i == len(plan):
            return finalize(B, refs)
        name, build = plan[i]
        return B.bind(refs, name, build(B, refs),
                      lambda r2: go(i + 1, r2))
    return go(0, {"w0": w0})


# ---------------------------------------------------------------------------
# GERMAN (snowballstem.org/algorithms/german/stemmer.html; german2
# variant folds ae/oe/ue in the prelude)


def _de_prelude(B, w, variant):
    w = B.replace_all(w, "ß", "ss")
    if variant == "german2":
        w = B.replace_all(w, "ae", "ä")
        w = B.replace_all(w, "oe", "ö")
        # ue after q keeps its u (Quelle); consume-scan handles ^ue
        w = B.regex_replace(w, "^ue", "ü")
        w = B.regex_replace(w, "([^q])ue", "$1ü")
    w = B.regex_replace(w, f"([{_DE_V}])u([{_DE_V}])", "$1U$2")
    w = B.regex_replace(w, f"([{_DE_V}])y([{_DE_V}])", "$1Y$2")
    return w


def _de_step1(B, R, w):
    def plain(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.drop(wd, len(sfx)), wd)

    def e_group(wd, sfx):
        # after an e/en/es deletion a trailing 'niss' undoubles (nis)
        t = B.drop(wd, len(sfx))
        t = B.when(B.endswith(t, "niss"), B.drop(t, 1), t)
        return B.when(_in_r(B, R, wd, len(sfx), "r1"), t, wd)

    def s_rule(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, 1, "r1"),
                    B.in_chars(B.char_from_end(wd, 2), _DE_S_END))
        return B.when(ok, B.drop(wd, 1), wd)

    return _apply_rules(B, w, [
        ("ern", plain), ("em", plain), ("er", plain),
        ("en", e_group), ("es", e_group), ("e", e_group),
        ("s", s_rule),
    ])


def _de_step2(B, R, w):
    def plain(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.drop(wd, len(sfx)), wd)

    def st_rule(wd, sfx):
        # valid st-ending, itself preceded by at least 3 letters
        ok = B.and_(_in_r(B, R, wd, 2, "r1"),
                    B.in_chars(B.char_from_end(wd, 3), _DE_ST_END),
                    B.ge(B.length(wd), B.num(6)))
        return B.when(ok, B.drop(wd, 2), wd)

    return _apply_rules(B, w, [
        ("est", plain), ("en", plain), ("er", plain), ("st", st_rule),
    ])


def _de_step3(B, R, w):
    def not_e_before(wd, n):
        return B.not_(B.eq(B.char_from_end(wd, n + 1), B.lit("e")))

    def end_ung(wd, sfx):
        t = B.drop(wd, len(sfx))
        ig_ok = B.and_(B.endswith(t, "ig"), _in_r(B, R, t, 2, "r2"),
                       not_e_before(t, 2))
        t2 = B.when(ig_ok, B.drop(t, 2), t)
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def ig_ik_isch(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, len(sfx), "r2"),
                    not_e_before(wd, len(sfx)))
        return B.when(ok, B.drop(wd, len(sfx)), wd)

    def lich_heit(wd, sfx):
        t = B.drop(wd, len(sfx))
        er_ok = B.and_(B.endswith(t, "er"), _in_r(B, R, t, 2, "r1"))
        en_ok = B.and_(B.endswith(t, "en"), _in_r(B, R, t, 2, "r1"))
        t2 = B.when(B.or_(er_ok, en_ok), B.drop(t, 2), t)
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def keit(wd, sfx):
        t = B.drop(wd, len(sfx))
        lich_ok = B.and_(B.endswith(t, "lich"), _in_r(B, R, t, 4, "r2"))
        ig_ok = B.and_(B.endswith(t, "ig"), _in_r(B, R, t, 2, "r2"))
        t2 = B.when(lich_ok, B.drop(t, 4),
                    B.when(ig_ok, B.drop(t, 2), t))
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    return _apply_rules(B, w, [
        ("isch", ig_ik_isch), ("lich", lich_heit), ("heit", lich_heit),
        ("keit", keit), ("end", end_ung), ("ung", end_ung),
        ("ig", ig_ik_isch), ("ik", ig_ik_isch),
    ])


def _de_plan(variant):
    return [
        ("w", lambda B, R: _de_prelude(B, R["w0"], variant)),
        ("skel", lambda B, R: _skeleton(B, R["w"], _DE_V)),
        ("r1r", lambda B, R: _r1_raw(B, R, R["skel"],
                                     B.length(R["w"]))),
        # R2 uses the UNADJUSTED R1; the >=3-letter floor applies after
        ("r2", lambda B, R: _r2_from(B, R["skel"], R["r1r"],
                                     B.length(R["w"]))),
        ("r1", lambda B, R: B.greatest(R["r1r"], B.num(4))),
        ("w1", lambda B, R: _de_step1(B, R, R["w"])),
        ("w2", lambda B, R: _de_step2(B, R, R["w1"])),
        ("w3", lambda B, R: _de_step3(B, R, R["w2"])),
    ]


def _de_final(B, refs):
    w = refs["w3"]
    for a, b in (("U", "u"), ("Y", "y"), ("ä", "a"), ("ö", "o"),
                 ("ü", "u")):
        w = B.replace_all(w, a, b)
    return w


# ---------------------------------------------------------------------------
# FRENCH (snowballstem.org/algorithms/french/stemmer.html, pre-2018
# diaeresis behavior)


def _fr_prelude(B, w):
    V = _FR_V
    w = B.regex_replace(w, f"([{V}])y", "$1Y")
    w = B.regex_replace(w, f"y([{V}])", "Y$1")
    w = B.regex_replace(w, f"([{V}])u([{V}])", "$1U$2")
    w = B.regex_replace(w, "qu", "qU")
    w = B.regex_replace(w, f"([{V}])i([{V}])", "$1I$2")
    return w


def _fr_rv(B, R, w, skel):
    wlen = B.length(w)
    two_vowels = B.and_(B.in_chars(B.take_char(w, 1), _FR_V),
                        B.in_chars(B.take_char(w, 2), _FR_V))
    exc = B.or_(B.startswith(w, "par"), B.startswith(w, "col"),
                B.startswith(w, "tap"))
    p = B.locate_from(skel, "a", B.num(2))
    dflt = B.when(B.gt(p, B.num(0)), B.add(p, B.num(1)),
                  B.add(wlen, B.num(1)))
    return B.when(B.or_(two_vowels, exc), B.num(4), dflt)


def _fr_ment_family(B, w):
    """True iff the longest step-1 suffix of ``w`` is one of amment /
    emment / ment / ments (the endings whose discovery re-enables the
    verb-suffix steps)."""
    return B.and_(
        B.or_(B.endswith(w, "ment"), B.endswith(w, "ments")),
        B.not_(B.or_(B.endswith(w, "ement"), B.endswith(w, "ements"),
                     B.endswith(w, "issement"),
                     B.endswith(w, "issements"))))


def _fr_step1(B, R, w):
    def del_r2(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                      B.drop(wd, len(sfx)), wd)

    def repl_r2(repl):
        def act(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                          B.append(B.drop(wd, len(sfx)), repl), wd)
        return act

    def ateur(wd, sfx):
        t = B.drop(wd, len(sfx))
        ic = B.endswith(t, "ic")
        t2 = B.when(B.and_(ic, _in_r(B, R, t, 2, "r2")), B.drop(t, 2),
                    B.when(ic, B.append(B.drop(t, 2), "iqU"), t))
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def ement(wd, sfx):
        t = B.drop(wd, len(sfx))
        iv = B.and_(B.endswith(t, "iv"), _in_r(B, R, t, 2, "r2"))
        t_iv = B.drop(t, 2)
        t_iv = B.when(B.and_(B.endswith(t_iv, "at"),
                             _in_r(B, R, t_iv, 2, "r2")),
                      B.drop(t_iv, 2), t_iv)
        eus = B.endswith(t, "eus")
        t_eus = B.when(_in_r(B, R, t, 3, "r2"), B.drop(t, 3),
                       B.when(_in_r(B, R, t, 3, "r1"),
                              B.append(B.drop(t, 3), "eux"), t))
        abl_iqU = B.and_(B.or_(B.endswith(t, "abl"),
                               B.endswith(t, "iqU")),
                         _in_r(B, R, t, 3, "r2"))
        ier = B.and_(B.or_(B.endswith(t, "ièr"), B.endswith(t, "Ièr")),
                     _in_r(B, R, t, 3, "rv"))
        t2 = B.when(iv, t_iv,
                    B.when(eus, t_eus,
                           B.when(abl_iqU, B.drop(t, 3),
                                  B.when(ier,
                                         B.append(B.drop(t, 3), "i"),
                                         t))))
        return B.when(_in_r(B, R, wd, len(sfx), "rv"), t2, wd)

    def ite(wd, sfx):
        t = B.drop(wd, len(sfx))
        abil = B.endswith(t, "abil")
        t_abil = B.when(_in_r(B, R, t, 4, "r2"), B.drop(t, 4),
                        B.append(B.drop(t, 4), "abl"))
        ic = B.endswith(t, "ic")
        t_ic = B.when(_in_r(B, R, t, 2, "r2"), B.drop(t, 2),
                      B.append(B.drop(t, 2), "iqU"))
        iv = B.and_(B.endswith(t, "iv"), _in_r(B, R, t, 2, "r2"))
        t2 = B.when(abil, t_abil,
                    B.when(ic, t_ic, B.when(iv, B.drop(t, 2), t)))
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def if_ive(wd, sfx):
        t = B.drop(wd, len(sfx))
        at = B.and_(B.endswith(t, "at"), _in_r(B, R, t, 2, "r2"))
        t_at = B.drop(t, 2)
        ic = B.endswith(t_at, "ic")
        t_at = B.when(B.and_(ic, _in_r(B, R, t_at, 2, "r2")),
                      B.drop(t_at, 2),
                      B.when(ic, B.append(B.drop(t_at, 2), "iqU"),
                             t_at))
        t2 = B.when(at, t_at, t)
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def eaux(wd, sfx):
        return B.drop(wd, 1)                       # eaux -> eau, always

    def aux(wd, sfx):
        return B.when(_in_r(B, R, wd, 3, "r1"),
                      B.append(B.drop(wd, 3), "al"), wd)

    def euse(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                      B.drop(wd, len(sfx)),
                      B.when(_in_r(B, R, wd, len(sfx), "r1"),
                             B.append(B.drop(wd, len(sfx)), "eux"),
                             wd))

    def issement(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, len(sfx), "r1"),
                    _prev_nonvowel(B, wd, len(sfx), _FR_V))
        return B.when(ok, B.drop(wd, len(sfx)), wd)

    def repl_rv(repl):
        def act(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                          B.append(B.drop(wd, len(sfx)), repl), wd)
        return act

    def ment(wd, sfx):
        # preceded by a vowel which is itself in RV
        prev_in_rv = B.ge(B.sub(B.length(wd), B.num(len(sfx))),
                          R["rv"])
        ok = B.and_(B.in_chars(B.char_from_end(wd, len(sfx) + 1),
                               _FR_V), prev_in_rv)
        return B.when(ok, B.drop(wd, len(sfx)), wd)

    rules = []
    for s in ("ance", "iqUe", "isme", "able", "iste", "eux", "ances",
              "iqUes", "ismes", "ables", "istes"):
        rules.append((s, del_r2))
    for s in ("atrice", "ateur", "ation", "atrices", "ateurs",
              "ations"):
        rules.append((s, ateur))
    rules += [("logie", repl_r2("log")), ("logies", repl_r2("log"))]
    for s in ("usion", "ution", "usions", "utions"):
        rules.append((s, repl_r2("u")))
    rules += [("ence", repl_r2("ent")), ("ences", repl_r2("ent")),
              ("ement", ement), ("ements", ement),
              ("ité", ite), ("ités", ite),
              ("if", if_ive), ("ive", if_ive), ("ifs", if_ive),
              ("ives", if_ive),
              ("eaux", eaux), ("aux", aux),
              ("euse", euse), ("euses", euse),
              ("issement", issement), ("issements", issement),
              ("amment", repl_rv("ant")), ("emment", repl_rv("ent")),
              ("ment", ment), ("ments", ment)]
    return _apply_rules(B, w, rules)


_FR_2A = ("îmes", "ît", "îtes", "i", "ie", "ies", "ir", "ira", "irai",
          "iraIent", "irais", "irait", "iras", "irent", "irez",
          "iriez", "irions", "irons", "iront", "is", "issaIent",
          "issais", "issait", "issant", "issante", "issantes",
          "issants", "isse", "issent", "isses", "issez", "issiez",
          "issions", "issons", "it")

_FR_2B_DEL = ("é", "ée", "ées", "és", "èrent", "er", "era", "erai",
              "eraIent", "erais", "erait", "eras", "erez", "eriez",
              "erions", "erons", "eront", "ez", "iez")
_FR_2B_E = ("âmes", "ât", "âtes", "a", "ai", "aIent", "ais", "ait",
            "ant", "ante", "antes", "ants", "as", "asse", "assent",
            "asses", "assiez", "assions")


def _fr_step2a(B, R, w):
    def act(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, len(sfx), "rv"),
                    _prev_nonvowel(B, wd, len(sfx), _FR_V),
                    B.ge(B.sub(B.length(wd), B.num(len(sfx))),
                         R["rv"]))
        return B.when(ok, B.drop(wd, len(sfx)), wd)
    return _apply_rules(B, w, [(s, act) for s in _FR_2A])


def _fr_step2b(B, R, w):
    def ions(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, 4, "rv"), _in_r(B, R, wd, 4, "r2"))
        return B.when(ok, B.drop(wd, 4), wd)

    def del_rv(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                      B.drop(wd, len(sfx)), wd)

    def del_rv_e(wd, sfx):
        t = B.drop(wd, len(sfx))
        e_ok = B.and_(B.endswith(t, "e"),
                      B.ge(B.length(t), R["rv"]))
        t2 = B.when(e_ok, B.drop(t, 1), t)
        return B.when(_in_r(B, R, wd, len(sfx), "rv"), t2, wd)

    rules = [("ions", ions)]
    rules += [(s, del_rv) for s in _FR_2B_DEL]
    rules += [(s, del_rv_e) for s in _FR_2B_E]
    return _apply_rules(B, w, rules)


def _fr_step4(B, R, w):
    # s-removal: word ends s not preceded by a/i/o/u/è/s (a missing
    # preceding character also deletes — the backward test at limit)
    s_ok = B.and_(B.endswith(w, "s"),
                  B.not_(B.in_chars(B.char_from_end(w, 2), "aiouès")))
    w = B.when(s_ok, B.drop(w, 1), w)

    def ion(wd, sfx):
        prev_in_rv = B.ge(B.sub(B.length(wd), B.num(3)), R["rv"])
        ok = B.and_(_in_r(B, R, wd, 3, "rv"), _in_r(B, R, wd, 3, "r2"),
                    B.in_chars(B.char_from_end(wd, 4), "st"),
                    prev_in_rv)
        return B.when(ok, B.drop(wd, 3), wd)

    def ier(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                      B.append(B.drop(wd, len(sfx)), "i"), wd)

    def e_rule(wd, sfx):
        return B.when(_in_r(B, R, wd, 1, "rv"), B.drop(wd, 1), wd)

    def e_trema(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, 1, "rv"), B.endswith(wd, "guë"))
        return B.when(ok, B.drop(wd, 1), wd)

    return _apply_rules(B, w, [
        ("ion", ion), ("ier", ier), ("ière", ier), ("Ier", ier),
        ("Ière", ier), ("e", e_rule), ("ë", e_trema),
    ])


def _fr_plan():
    def w4(B, R):
        # altered = the LAST step obeyed (1, 2a or 2b) changed the word
        altered = B.when(
            B.not_(R["d2a"]), B.not_(B.eqs(R["w1"], R["w"])),
            B.when(B.not_(B.eqs(R["w2a"], R["w1"])), B.true(),
                   B.not_(B.eqs(R["w2b"], R["w2a"]))))
        step3 = B.when(B.endswith(R["w2b"], "Y"),
                       B.append(B.drop(R["w2b"], 1), "i"),
                       B.when(B.endswith(R["w2b"], "ç"),
                              B.append(B.drop(R["w2b"], 1), "c"),
                              R["w2b"]))
        return B.when(altered, step3, _fr_step4(B, R, R["w2b"]))

    def undouble(B, R):
        w = R["w4"]
        cond = B.or_(*[B.endswith(w, d)
                       for d in ("enn", "onn", "ett", "ell", "eill")])
        return B.when(cond, B.drop(w, 1), w)

    def unaccent(B, R):
        return B.regex_replace(R["w5"], f"[éè]([^{_FR_V}]+)$", "e$1")

    return [
        ("w", lambda B, R: _fr_prelude(B, R["w0"])),
        ("skel", lambda B, R: _skeleton(B, R["w"], _FR_V)),
        ("r1", lambda B, R: _r1_raw(B, R, R["skel"],
                                    B.length(R["w"]))),
        ("r2", lambda B, R: _r2_from(B, R["skel"], R["r1"],
                                     B.length(R["w"]))),
        ("rv", lambda B, R: _fr_rv(B, R, R["w"], R["skel"])),
        ("w1", lambda B, R: _fr_step1(B, R, R["w"])),
        ("d2a", lambda B, R: B.or_(B.eqs(R["w1"], R["w"]),
                                   _fr_ment_family(B, R["w"]))),
        ("w2a", lambda B, R: B.when(R["d2a"],
                                    _fr_step2a(B, R, R["w1"]),
                                    R["w1"])),
        ("d2b", lambda B, R: B.and_(R["d2a"],
                                    B.eqs(R["w2a"], R["w1"]))),
        ("w2b", lambda B, R: B.when(R["d2b"],
                                    _fr_step2b(B, R, R["w2a"]),
                                    R["w2a"])),
        ("w4", w4),
        ("w5", undouble),
        ("w6", unaccent),
    ]


def _fr_final(B, refs):
    w = refs["w6"]
    for a, b in (("I", "i"), ("U", "u"), ("Y", "y")):
        w = B.replace_all(w, a, b)
    return w


# ---------------------------------------------------------------------------
# SPANISH (snowballstem.org/algorithms/spanish/stemmer.html)


def _es_rv(B, R, w, skel):
    wlen = B.length(w)
    c1v = B.in_chars(B.take_char(w, 1), _ES_V)
    c2v = B.in_chars(B.take_char(w, 2), _ES_V)
    pa = B.locate_from(skel, "a", B.num(3))
    after_vowel = B.when(B.gt(pa, B.num(0)), B.add(pa, B.num(1)),
                         B.add(wlen, B.num(1)))
    pb = B.locate_from(skel, "b", B.num(3))
    after_cons = B.when(B.gt(pb, B.num(0)), B.add(pb, B.num(1)),
                        B.add(wlen, B.num(1)))
    return B.when(B.not_(c2v), after_vowel,
                  B.when(c1v, after_cons, B.num(4)))


_ES_PRON = ("selas", "selos", "sela", "selo", "las", "les", "los",
            "nos", "me", "se", "la", "le", "lo")

# (suffix, unaccented replacement or None=keep) — the gerund/infinitive
# forms a pronoun may attach to; the form itself must lie in RV
_ES_PRON_PRE = (("iéndo", "iendo"), ("iendo", None), ("yendo", None),
                ("ándo", "ando"), ("ando", None),
                ("ár", "ar"), ("ér", "er"), ("ír", "ir"),
                ("ar", None), ("er", None), ("ir", None))


def _es_step0(B, R, w):
    def act(wd, p_sfx):
        t = B.drop(wd, len(p_sfx))
        out = wd                      # no valid preceding form: keep
        for pre, repl in reversed(_sorted_rules(_ES_PRON_PRE)):
            cond = B.and_(B.endswith(t, pre),
                          _in_r(B, R, t, len(pre), "rv"))
            if pre == "yendo":
                # yendo must follow u (the u may sit outside RV)
                cond = B.and_(cond, B.eq(
                    B.char_from_end(t, len(pre) + 1), B.lit("u")))
            val = t if repl is None else \
                B.append(B.drop(t, len(pre)), repl)
            out = B.when(cond, val, out)
        return out

    return _apply_rules(B, w, [(p, act) for p in _ES_PRON])


def _es_step1(B, R, w):
    def del_r2(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                      B.drop(wd, len(sfx)), wd)

    def del_r2_ic(wd, sfx):
        t = B.drop(wd, len(sfx))
        t2 = B.when(B.and_(B.endswith(t, "ic"),
                           _in_r(B, R, t, 2, "r2")), B.drop(t, 2), t)
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def repl_r2(repl):
        def act(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                          B.append(B.drop(wd, len(sfx)), repl), wd)
        return act

    def amente(wd, sfx):
        t = B.drop(wd, 6)
        iv = B.and_(B.endswith(t, "iv"), _in_r(B, R, t, 2, "r2"))
        t_iv = B.drop(t, 2)
        t_iv = B.when(B.and_(B.endswith(t_iv, "at"),
                             _in_r(B, R, t_iv, 2, "r2")),
                      B.drop(t_iv, 2), t_iv)
        osicad = B.and_(
            B.or_(B.endswith(t, "os"), B.endswith(t, "ic"),
                  B.endswith(t, "ad")),
            _in_r(B, R, t, 2, "r2"))
        t2 = B.when(iv, t_iv, B.when(osicad, B.drop(t, 2), t))
        return B.when(_in_r(B, R, wd, 6, "r1"), t2, wd)

    def mente(wd, sfx):
        t = B.drop(wd, 5)
        pre = B.and_(
            B.or_(B.endswith(t, "ante"), B.endswith(t, "able"),
                  B.endswith(t, "ible")),
            _in_r(B, R, t, 4, "r2"))
        t2 = B.when(pre, B.drop(t, 4), t)
        return B.when(_in_r(B, R, wd, 5, "r2"), t2, wd)

    def idad(wd, sfx):
        t = B.drop(wd, len(sfx))
        abil = B.and_(B.endswith(t, "abil"), _in_r(B, R, t, 4, "r2"))
        iciv = B.and_(B.or_(B.endswith(t, "ic"), B.endswith(t, "iv")),
                      _in_r(B, R, t, 2, "r2"))
        t2 = B.when(abil, B.drop(t, 4), B.when(iciv, B.drop(t, 2), t))
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def iva(wd, sfx):
        t = B.drop(wd, len(sfx))
        t2 = B.when(B.and_(B.endswith(t, "at"),
                           _in_r(B, R, t, 2, "r2")), B.drop(t, 2), t)
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    rules = []
    for s in ("anza", "anzas", "ico", "ica", "icos", "icas", "ismo",
              "ismos", "able", "ables", "ible", "ibles", "ista",
              "istas", "oso", "osa", "osos", "osas", "amiento",
              "amientos", "imiento", "imientos"):
        rules.append((s, del_r2))
    for s in ("adora", "ador", "ación", "adoras", "adores", "aciones",
              "ante", "antes", "ancia", "ancias"):
        rules.append((s, del_r2_ic))
    rules += [("logía", repl_r2("log")), ("logías", repl_r2("log")),
              ("ución", repl_r2("u")), ("uciones", repl_r2("u")),
              ("encia", repl_r2("ente")), ("encias", repl_r2("ente")),
              ("amente", amente), ("mente", mente),
              ("idad", idad), ("idades", idad),
              ("iva", iva), ("ivo", iva), ("ivas", iva), ("ivos", iva)]
    return _apply_rules(B, w, rules)


_ES_2A = ("ya", "ye", "yan", "yen", "yeron", "yendo", "yo", "yó",
          "yas", "yes", "yais", "yamos")

_ES_2B_GU = ("en", "es", "éis", "emos")
_ES_2B = ("arían", "arías", "arán", "arás", "aríais", "aría", "aréis",
          "aríamos", "aremos", "ará", "aré", "erían", "erías", "erán",
          "erás", "eríais", "ería", "eréis", "eríamos", "eremos",
          "erá", "eré", "irían", "irías", "irán", "irás", "iríais",
          "iría", "iréis", "iríamos", "iremos", "irá", "iré", "aba",
          "ada", "ida", "ía", "ara", "iera", "ad", "ed", "id", "ase",
          "iese", "aste", "iste", "an", "aban", "ían", "aran",
          "ieran", "asen", "iesen", "aron", "ieron", "ado", "ido",
          "ando", "iendo", "ió", "ar", "er", "ir", "as", "abas",
          "adas", "idas", "ías", "aras", "ieras", "ases", "ieses",
          "ís", "áis", "abais", "íais", "arais", "ierais", "aseis",
          "ieseis", "asteis", "isteis", "ados", "idos", "amos",
          "ábamos", "íamos", "imos", "áramos", "iéramos", "iésemos",
          "ásemos")


def _es_step2a(B, R, w):
    def act(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, len(sfx), "rv"),
                    B.eq(B.char_from_end(wd, len(sfx) + 1),
                         B.lit("u")))
        return B.when(ok, B.drop(wd, len(sfx)), wd)
    return _apply_rules(B, w, [(s, act) for s in _ES_2A])


def _es_step2b(B, R, w):
    def gu(wd, sfx):
        t = B.drop(wd, len(sfx))
        t2 = B.when(B.endswith(t, "gu"), B.drop(t, 1), t)
        return B.when(_in_r(B, R, wd, len(sfx), "rv"), t2, wd)

    def del_rv(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                      B.drop(wd, len(sfx)), wd)

    rules = [(s, gu) for s in _ES_2B_GU]
    rules += [(s, del_rv) for s in _ES_2B]
    return _apply_rules(B, w, rules)


def _es_step3(B, R, w):
    def del_rv(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                      B.drop(wd, len(sfx)), wd)

    def e_rule(wd, sfx):
        t = B.drop(wd, 1)
        gu_ok = B.and_(B.endswith(t, "gu"),
                       B.ge(B.length(t), R["rv"]))
        t2 = B.when(gu_ok, B.drop(t, 1), t)
        return B.when(_in_r(B, R, wd, 1, "rv"), t2, wd)

    return _apply_rules(B, w, [
        ("os", del_rv), ("a", del_rv), ("o", del_rv), ("á", del_rv),
        ("í", del_rv), ("ó", del_rv), ("e", e_rule), ("é", e_rule),
    ])


def _es_plan():
    return [
        ("skel", lambda B, R: _skeleton(B, R["w0"], _ES_V)),
        ("r1", lambda B, R: _r1_raw(B, R, R["skel"],
                                    B.length(R["w0"]))),
        ("r2", lambda B, R: _r2_from(B, R["skel"], R["r1"],
                                     B.length(R["w0"]))),
        ("rv", lambda B, R: _es_rv(B, R, R["w0"], R["skel"])),
        ("wp", lambda B, R: _es_step0(B, R, R["w0"])),
        ("w1", lambda B, R: _es_step1(B, R, R["wp"])),
        ("d2a", lambda B, R: B.eqs(R["w1"], R["wp"])),
        ("w2a", lambda B, R: B.when(R["d2a"],
                                    _es_step2a(B, R, R["w1"]),
                                    R["w1"])),
        ("d2b", lambda B, R: B.and_(R["d2a"],
                                    B.eqs(R["w2a"], R["w1"]))),
        ("w2b", lambda B, R: B.when(R["d2b"],
                                    _es_step2b(B, R, R["w2a"]),
                                    R["w2a"])),
        ("w3", lambda B, R: _es_step3(B, R, R["w2b"])),
    ]


def _es_final(B, refs):
    w = refs["w3"]
    for a, b in (("á", "a"), ("é", "e"), ("í", "i"), ("ó", "o"),
                 ("ú", "u")):
        w = B.replace_all(w, a, b)
    return w


# ---------------------------------------------------------------------------
# public API


def _lang_program(lang: str, variant: str | None):
    if lang == "de":
        return _de_plan(variant or "german"), _de_final
    if lang == "fr":
        return _fr_plan(), _fr_final
    if lang == "es":
        return _es_plan(), _es_final
    if lang == "sv":
        return _sv_plan(), _ident_final
    if lang == "no":
        return _no_plan(), _ident_final
    if lang == "da":
        return _da_plan(), _ident_final
    if lang == "ru":
        return _ru_plan(), _ident_final
    if lang == "it":
        return _it_plan(), _it_final
    if lang == "nl":
        return _nl_plan(), _nl_final
    if lang == "pt":
        return _pt_plan(), _pt_final
    if lang == "ro":
        return _ro_plan(), _ro_final
    if lang == "fi":
        return _fi_plan(), _ident_final
    if lang == "hu":
        return _hu_plan(), _ident_final
    raise ValueError(
        f"snowball_stem: unsupported language {lang!r} "
        f"(supported: {SNOWBALL_LANGS})")


def snowball_stem(t: Column, lang: str,
                  variant: str | None = None) -> Column:
    """Stem one lowercase token with the complete published Snowball
    algorithm for ``lang`` (see SNOWBALL_LANGS) as one Column of pure
    Catalyst expressions. NULL passes through.

    Built from the step texts ``snowball_spark_steps`` renders as
    columns, in three moves:
    - a binding read exactly once is substituted into its reader while
      the reader stays under ``_LEVEL_TEXT`` characters, so a rule chunk
      is evaluated only when the longer suffixes above it all miss;
    - the remaining bindings are grouped in order into levels of at
      most ``_LEVEL_TEXT`` characters, and each level is one
      ``bind_sql`` over a struct of the bindings later levels read;
    - inside a level the bindings nest as
      ``transform(array(<text>), v<i> -> ...)[0]``, so each evaluates
      once per row; a reference is the bare lambda variable ``v<i>`` in
      its own level and ``s.v<i>`` after it.
    One parse per step would nest 23-54 levels, past the analyzer's 100
    resolution iterations; one level per plan step would parse texts of
    up to 108 KB (ru)."""
    steps, final = _step_chain(lang, variant)
    vals = [val for _, val in steps] + [final]     # vals[i - 1] binds i
    n_reads = Counter(int(j) for val in vals for j in _REF_RE.findall(val))
    texts = {}       # the bindings kept, in order; the last is the stem
    for i, val in enumerate(vals, 1):
        for j in map(int, _REF_RE.findall(val)):
            if (n_reads[j] == 1 and j in texts
                    and len(val) + len(texts[j]) <= _LEVEL_TEXT):
                val = val.replace(_ref(j), texts.pop(j))
        texts[i] = val
    levels, size = [[]], 0
    for i, val in texts.items():
        if levels[-1] and size + len(val) > _LEVEL_TEXT:
            levels.append([])
            size = 0
        levels[-1].append(i)
        size += len(val)
    level_of = {0: 0} | {i: k for k, lv in enumerate(levels) for i in lv}
    reads = {i: {int(j) for j in _REF_RE.findall(val)}
             for i, val in texts.items()}
    col, var = t, "v0"
    for k, lv in enumerate(levels):
        def name(j, k=k):
            return f"v{j}" if level_of[j] == k else f"s.v{j}"
        if k == len(levels) - 1:
            body, lv = _render(texts[lv[-1]], name), lv[:-1]
        else:
            live = sorted({j for i in reads if i > lv[-1] for j in reads[i]
                           if level_of[j] <= k})
            body = "named_struct(" + ", ".join(
                f"'v{j}', {name(j)}" for j in live) + ")"
        for i in reversed(lv):
            body = (f"transform(array({_render(texts[i], name)}), "
                    f"v{i} -> {body})[0]")
        col, var = bind_sql(col, var, body), "s"
    return col


def snowball_stem_py(w: str | None, lang: str,
                     variant: str | None = None) -> str | None:
    """The same algorithm over native Python values — the law-test
    partner, produced by the SAME interpreter walking the SAME rule
    tables (not a hand copy)."""
    if w is None:
        return None
    plan, final = _lang_program(lang, variant)
    return _run(_PyB(), plan, w, final)


def snowball_sql_ctes(lang: str, word_expr: str, prefix: str,
                      source_table: str = "documents",
                      key: str = "doc_id") -> tuple[str, str]:
    """DuckDB replica: CTE-per-step chain generated from the same rule
    tables. Returns (cte_text, final_cte_name); the final CTE has
    columns (key, w0, stem)."""
    plan, final = _lang_program(lang, None)
    B = _SqlB(prefix, key, f"{prefix}0")
    base = (f"{prefix}0 AS (SELECT {key}, {word_expr} AS w0 "
            f"FROM {source_table})")
    out = _run(B, plan, "w0", final)
    fin = f"{prefix}f"
    ctes = ",\n".join([base] + B.ctes)
    last = f"{prefix}{B.n}"
    ctes += (f",\n{fin} AS (SELECT {key}, w0, {out} AS stem "
             f"FROM {last})")
    return ctes, fin


# ---------------------------------------------------------------------------
# SCANDINAVIAN (snowballstem.org swedish/norwegian/danish) — the light
# end of the family: R1 (with the >=3-letter floor), one big step-1
# among + a valid-s-ending s-rule, a consonant-pair undouble, and a
# small step 3.

_SV_V = "aeiouyäåö"
_NO_V = "aeiouyæåø"
_DA_V = "aeiouyæåø"

_SV_STEP1 = ("a arna erna heterna orna ad e ade ande arne are aste en "
             "anden aren heten ern ar er heter or as arnas ernas ornas "
             "es ades andes ens arens hetens erns at andet het "
             "ast").split()
_SV_S_END = "bcdfghjklmnoprtvy"
_SV_PAIRS = ("dd", "gd", "nn", "dt", "gt", "kt", "tt")

_NO_STEP1 = ("a e ede ande ende ane ene hetene en heten ar er heter as "
             "es edes endes enes hetenes ens hetens ers ets et het "
             "ast").split()
_NO_S_END = "bcdfghjlmnoprtvyz"   # plus k-not-after-vowel, special-cased
_NO_STEP3 = ("leg eleg ig eig lig elig els lov elov slov "
             "hetslov").split()

_DA_STEP1 = ("hed ethed ered e erede ende erende ene erne ere en heden "
             "eren er heder erer heds es endes erendes enes ernes eres "
             "ens hedens erens ers ets erets et eret").split()
_DA_S_END = "abcdfghjklmnoprtvyzå"
_DA_PAIRS = ("gd", "dt", "gt", "kt")


def _scand_r1(B, R, skel, wlen):
    return B.greatest(_r1_raw(B, R, skel, wlen), B.num(4))


def _scand_step1(B, R, w, suffixes, s_end, vowels,
                 k_not_after_vowel=False, erte=False):
    def plain(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.drop(wd, len(sfx)), wd)

    def s_rule(wd, sfx):
        prev = B.char_from_end(wd, 2)
        ok = B.in_chars(prev, s_end)
        if k_not_after_vowel:
            ok = B.or_(ok, B.and_(
                B.eq(prev, B.lit("k")),
                B.not_(B.in_chars(B.char_from_end(wd, 3), vowels))))
        return B.when(B.and_(_in_r(B, R, wd, 1, "r1"), ok),
                      B.drop(wd, 1), wd)

    def ert(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.append(B.drop(wd, len(sfx)), "er"), wd)

    rules = [(s, plain) for s in suffixes] + [("s", s_rule)]
    if erte:
        rules += [("erte", ert), ("ert", ert)]
    return _apply_rules(B, w, rules)


def _scand_pairs(B, R, w, pairs):
    cond = B.or_(*[B.and_(B.endswith(w, p), _in_r(B, R, w, 2, "r1"))
                   for p in pairs])
    return B.when(cond, B.drop(w, 1), w)


def _sv_step3(B, R, w):
    def dele(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.drop(wd, len(sfx)), wd)

    def repl(to):
        def act(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                          B.append(B.drop(wd, len(sfx)), to), wd)
        return act

    return _apply_rules(B, w, [
        ("lig", dele), ("ig", dele), ("els", dele),
        ("löst", repl("lös")), ("fullt", repl("full")),
    ])


def _sv_plan():
    return [
        ("skel", lambda B, R: _skeleton(B, R["w0"], _SV_V)),
        ("r1", lambda B, R: _scand_r1(B, R, R["skel"],
                                      B.length(R["w0"]))),
        ("w1", lambda B, R: _scand_step1(B, R, R["w0"], _SV_STEP1,
                                         _SV_S_END, _SV_V)),
        ("w2", lambda B, R: _scand_pairs(B, R, R["w1"], _SV_PAIRS)),
        ("w3", lambda B, R: _sv_step3(B, R, R["w2"])),
    ]


def _no_step3(B, R, w):
    def dele(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.drop(wd, len(sfx)), wd)
    return _apply_rules(B, w, [(s, dele) for s in _NO_STEP3])


def _no_plan():
    def step2(B, R):
        # dt / vt in R1: delete the t
        w = R["w1"]
        cond = B.or_(B.and_(B.endswith(w, "dt"),
                            _in_r(B, R, w, 2, "r1")),
                     B.and_(B.endswith(w, "vt"),
                            _in_r(B, R, w, 2, "r1")))
        return B.when(cond, B.drop(w, 1), w)

    return [
        ("skel", lambda B, R: _skeleton(B, R["w0"], _NO_V)),
        ("r1", lambda B, R: _scand_r1(B, R, R["skel"],
                                      B.length(R["w0"]))),
        ("w1", lambda B, R: _scand_step1(B, R, R["w0"], _NO_STEP1,
                                         _NO_S_END, _NO_V,
                                         k_not_after_vowel=True,
                                         erte=True)),
        ("w2", step2),
        ("w3", lambda B, R: _no_step3(B, R, R["w2"])),
    ]


def _da_step3(B, R, w):
    # igst: drop the st (not R1-limited), then the R1 among; a delete
    # there re-runs the consonant-pair rule on the result
    w = B.when(B.endswith(w, "igst"), B.drop(w, 2), w)

    def dele(wd, sfx):
        t = B.drop(wd, len(sfx))
        t = _scand_pairs(B, R, t, _DA_PAIRS)
        return B.when(_in_r(B, R, wd, len(sfx), "r1"), t, wd)

    def repl(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.append(B.drop(wd, len(sfx)), "løs"), wd)

    return _apply_rules(B, w, [
        ("elig", dele), ("lig", dele), ("els", dele), ("ig", dele),
        ("løst", repl),
    ])


def _da_undouble(B, R, w):
    last = B.char_from_end(w, 1)
    cond = B.and_(B.ge(B.length(w), B.num(2)),
                  B.eq(last, B.char_from_end(w, 2)),
                  B.not_(B.in_chars(last, _DA_V)),
                  _in_r(B, R, w, 1, "r1"))
    return B.when(cond, B.drop(w, 1), w)


def _da_plan():
    return [
        ("skel", lambda B, R: _skeleton(B, R["w0"], _DA_V)),
        ("r1", lambda B, R: _scand_r1(B, R, R["skel"],
                                      B.length(R["w0"]))),
        ("w1", lambda B, R: _scand_step1(B, R, R["w0"], _DA_STEP1,
                                         _DA_S_END, _DA_V)),
        ("w2", lambda B, R: _scand_pairs(B, R, R["w1"], _DA_PAIRS)),
        ("w3", lambda B, R: _da_step3(B, R, R["w2"])),
        ("w4", lambda B, R: _da_undouble(B, R, R["w3"])),
    ]


def _ident_final(B, refs):
    last = [k for k in refs if k.startswith("w")][-1]
    return refs[last]


# ---------------------------------------------------------------------------
# RUSSIAN (snowballstem.org/algorithms/russian/stemmer.html) — all
# suffix searches confined to RV; group-1 endings only match after
# а/я (which stays); R2 gates the derivational step.

_RU_V = "аеиоуыэюя"

_RU_GER1 = ["в", "вши", "вшись"]
_RU_GER2 = ["ив", "ивши", "ившись", "ыв", "ывши", "ывшись"]
_RU_ADJ = ("ее ие ые ое ими ыми ей ий ый ой ем им ым ом его ого ему "
           "ому их ых ею ою ую юю ая яя").split()
_RU_PART1 = ["ем", "нн", "вш", "ющ", "щ"]
_RU_PART2 = ["ивш", "ывш", "ующ"]
_RU_VERB1 = ("ла на ете йте ли й л ем н ло но ет ют ны ть ешь "
             "нно").split()
_RU_VERB2 = ("ила ыла ена ейте уйте ите или ыли ей уй ил ыл им ым ен "
             "ило ыло ено ят ует уют ит ыт ены ить ыть ишь ую "
             "ю").split()
_RU_NOUN = ("а ев ов ие ье е иями ями ами еи ии и ией ей ой ий й иям "
            "ям ием ем ам ом о у ах иях ях ы ь ию ью ю ия ья "
            "я").split()


def _ru_rules(B, R, w, g1, g2):
    """One RV-confined among over group-1 (preceded by а/я, kept) and
    group-2 (unconditional) endings."""
    def del_rv(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                      B.drop(wd, len(sfx)), wd)

    def del_ay(wd, sfx):
        prev_pos_ok = B.ge(B.sub(B.length(wd), B.num(len(sfx))),
                           R["rv"])
        ok = B.and_(_in_r(B, R, wd, len(sfx), "rv"),
                    B.in_chars(B.char_from_end(wd, len(sfx) + 1),
                               "ая"),
                    prev_pos_ok)
        return B.when(ok, B.drop(wd, len(sfx)), wd)

    rules = [(s, del_ay) for s in g1] + [(s, del_rv) for s in g2]
    return _apply_rules(B, w, rules)


def _ru_adjectival(B, R, w):
    def act(wd, sfx):
        t = B.drop(wd, len(sfx))
        t = _ru_rules(B, R, t, _RU_PART1, _RU_PART2)
        return B.when(_in_r(B, R, wd, len(sfx), "rv"), t, wd)
    return _apply_rules(B, w, [(s, act) for s in _RU_ADJ])


def _ru_plan():
    def rv(B, R):
        p = B.locate_from(R["skel"], "a", B.num(1))
        return B.when(B.gt(p, B.num(0)), B.add(p, B.num(1)),
                      B.add(B.length(R["w0"]), B.num(1)))

    def refl(B, R, w):
        def dele(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                          B.drop(wd, len(sfx)), wd)
        return _apply_rules(B, w, [("ся", dele), ("сь", dele)])

    def w2(B, R):
        w = R["w1"]
        return B.when(B.and_(B.endswith(w, "и"),
                             _in_r(B, R, w, 1, "rv")),
                      B.drop(w, 1), w)

    def w3(B, R):
        w = R["w2"]
        def dele(wd, sfx):
            return B.when(B.and_(_in_r(B, R, wd, len(sfx), "r2"),
                                 _in_r(B, R, wd, len(sfx), "rv")),
                          B.drop(wd, len(sfx)), wd)
        return _apply_rules(B, w, [("ость", dele), ("ост", dele)])

    def w4(B, R):
        w = R["w3"]
        nn = B.and_(B.endswith(w, "нн"), _in_r(B, R, w, 2, "rv"))
        def sup(wd, n):
            t = B.drop(wd, n)
            return B.when(B.and_(B.endswith(t, "нн"),
                                 _in_r(B, R, t, 2, "rv")),
                          B.drop(t, 1), t)
        e4 = B.and_(B.endswith(w, "ейше"), _in_r(B, R, w, 4, "rv"))
        e3 = B.and_(B.endswith(w, "ейш"), _in_r(B, R, w, 3, "rv"))
        soft = B.and_(B.endswith(w, "ь"), _in_r(B, R, w, 1, "rv"))
        return B.when(nn, B.drop(w, 1),
                      B.when(e4, sup(w, 4),
                             B.when(e3, sup(w, 3),
                                    B.when(soft, B.drop(w, 1), w))))

    return [
        ("skel", lambda B, R: _skeleton(B, R["w0"], _RU_V)),
        ("rv", rv),
        ("r1r", lambda B, R: _r1_raw(B, R, R["skel"],
                                     B.length(R["w0"]))),
        ("r2", lambda B, R: _r2_from(B, R["skel"], R["r1r"],
                                     B.length(R["w0"]))),
        ("g", lambda B, R: _ru_rules(B, R, R["w0"], _RU_GER1,
                                     _RU_GER2)),
        ("d1", lambda B, R: B.not_(B.eqs(R["g"], R["w0"]))),
        ("rb", lambda B, R: B.when(R["d1"], R["g"],
                                   refl(B, R, R["w0"]))),
        ("aj", lambda B, R: B.when(R["d1"], R["rb"],
                                   _ru_adjectival(B, R, R["rb"]))),
        ("d2", lambda B, R: B.or_(R["d1"],
                                  B.not_(B.eqs(R["aj"], R["rb"])))),
        ("vb", lambda B, R: B.when(R["d2"], R["aj"],
                                   _ru_rules(B, R, R["aj"], _RU_VERB1,
                                             _RU_VERB2))),
        ("d3", lambda B, R: B.or_(R["d2"],
                                  B.not_(B.eqs(R["vb"], R["aj"])))),
        ("w1", lambda B, R: B.when(R["d3"], R["vb"],
                                   _ru_rules(B, R, R["vb"], [],
                                             _RU_NOUN))),
        ("w2", w2),
        ("w3", w3),
        ("w4", w4),
    ]


# ---------------------------------------------------------------------------
# ITALIAN (snowballstem.org/algorithms/italian/stemmer.html) — the
# Spanish shape with an Italian prelude (acute->grave folding, qU and
# u/i-between-vowels marking), attached pronouns after gerund/
# infinitive forms ((b) replaces the pronoun with e), and the
# double-vowel step 3a.

_IT_V = "aeiouàèìòù"

_IT_PRON = ("ci gli la le li lo mi ne si ti vi sene gliela gliele "
            "glieli glielo gliene mela mele meli melo mene tela tele "
            "teli telo tene cela cele celi celo cene vela vele veli "
            "velo vene").split()

_IT_STEP1_DEL_R2 = ("anza anze ico ici ica ice iche ichi ismo ismi "
                    "abile abili ibile ibili ista iste isti istà "
                    "istè istì oso osi osa ose mente atrice atrici "
                    "ante anti").split()

_IT_VERB = ("ammo ando ano are arono asse assero assi assimo ata ate "
            "ati ato ava avamo avano avate avi avo emmo enda ende "
            "endi endo erà erai eranno ere erebbe erebbero erei "
            "eremmo eremo ereste eresti erete erò erono essero ete "
            "eva evamo evano evate evi evo iamo Iamo immo irà irai "
            "iranno ire irebbe irebbero irei iremmo iremo ireste "
            "iresti irete irò irono isca iscano isce isci isco "
            "iscono issero ita ite iti ito iva ivamo ivano ivate ivi "
            "ivo ono uta ute uti uto ar ir").split()


def _it_prelude(B, w):
    for a, b in (("á", "à"), ("é", "è"), ("í", "ì"), ("ó", "ò"),
                 ("ú", "ù")):
        w = B.replace_all(w, a, b)
    w = B.regex_replace(w, f"([{_IT_V}])u([{_IT_V}])", "$1U$2")
    w = B.regex_replace(w, "qu", "qU")
    w = B.regex_replace(w, f"([{_IT_V}])i([{_IT_V}])", "$1I$2")
    return w


def _it_step0(B, R, w):
    def act(wd, p_sfx):
        t = B.drop(wd, len(p_sfx))
        out = wd
        for pre, repl in (("ando", None), ("endo", None),
                          ("ar", "e"), ("er", "e"), ("ir", "e")):
            cond = B.and_(B.endswith(t, pre),
                          _in_r(B, R, t, len(pre), "rv"))
            val = t if repl is None else B.append(t, repl)
            out = B.when(cond, val, out)
        return out
    return _apply_rules(B, w, [(p, act) for p in _IT_PRON])


def _it_step1(B, R, w):
    def del_r2(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                      B.drop(wd, len(sfx)), wd)

    def del_r2_ic(wd, sfx):
        t = B.drop(wd, len(sfx))
        t2 = B.when(B.and_(B.endswith(t, "ic"),
                           _in_r(B, R, t, 2, "r2")), B.drop(t, 2), t)
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def repl_r2(repl):
        def act(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                          B.append(B.drop(wd, len(sfx)), repl), wd)
        return act

    def del_rv(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                      B.drop(wd, len(sfx)), wd)

    def amente(wd, sfx):
        t = B.drop(wd, 6)
        iv = B.and_(B.endswith(t, "iv"), _in_r(B, R, t, 2, "r2"))
        t_iv = B.drop(t, 2)
        t_iv = B.when(B.and_(B.endswith(t_iv, "at"),
                             _in_r(B, R, t_iv, 2, "r2")),
                      B.drop(t_iv, 2), t_iv)
        offs = B.and_(B.or_(B.endswith(t, "os"), B.endswith(t, "ic")),
                      _in_r(B, R, t, 2, "r2"))
        abil = B.and_(B.endswith(t, "abil"), _in_r(B, R, t, 4, "r2"))
        t2 = B.when(iv, t_iv,
                    B.when(abil, B.drop(t, 4),
                           B.when(offs, B.drop(t, 2), t)))
        return B.when(_in_r(B, R, wd, 6, "r1"), t2, wd)

    def ita(wd, sfx):
        t = B.drop(wd, len(sfx))
        t2 = B.when(B.and_(B.endswith(t, "abil"),
                           _in_r(B, R, t, 4, "r2")), B.drop(t, 4),
                    B.when(B.and_(B.or_(B.endswith(t, "ic"),
                                        B.endswith(t, "iv")),
                                  _in_r(B, R, t, 2, "r2")),
                           B.drop(t, 2), t))
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def ivo(wd, sfx):
        t = B.drop(wd, len(sfx))
        at = B.and_(B.endswith(t, "at"), _in_r(B, R, t, 2, "r2"))
        t_at = B.drop(t, 2)
        t_at = B.when(B.and_(B.endswith(t_at, "ic"),
                             _in_r(B, R, t_at, 2, "r2")),
                      B.drop(t_at, 2), t_at)
        t2 = B.when(at, t_at, t)
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    rules = [(s, del_r2) for s in _IT_STEP1_DEL_R2]
    for s in ("azione", "azioni", "atore", "atori"):
        rules.append((s, del_r2_ic))
    rules += [("logia", repl_r2("log")), ("logie", repl_r2("log")),
              ("uzione", repl_r2("u")), ("uzioni", repl_r2("u")),
              ("usione", repl_r2("u")), ("usioni", repl_r2("u")),
              ("enza", repl_r2("ente")), ("enze", repl_r2("ente")),
              ("amento", del_rv), ("amenti", del_rv),
              ("imento", del_rv), ("imenti", del_rv),
              ("amente", amente),
              ("ità", ita),
              ("ivo", ivo), ("ivi", ivo), ("iva", ivo), ("ive", ivo)]
    return _apply_rules(B, w, rules)


def _it_plan():
    def step2(B, R):
        def del_rv(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                          B.drop(wd, len(sfx)), wd)
        w1, wp = R["w1"], R["wp"]
        v = _apply_rules(B, w1, [(s, del_rv) for s in _IT_VERB])
        return B.when(B.eqs(w1, wp), v, w1)

    def step3a(B, R):
        w = R["w2"]
        final_v = B.and_(B.in_chars(B.char_from_end(w, 1), "aeioàèìò"),
                         _in_r(B, R, w, 1, "rv"))
        t = B.when(final_v, B.drop(w, 1), w)
        i_too = B.and_(final_v, B.endswith(t, "i"),
                       B.ge(B.length(t), R["rv"]))
        return B.when(i_too, B.drop(t, 1), t)

    def step3b(B, R):
        w = R["w3"]
        cond = B.and_(B.or_(B.endswith(w, "ch"), B.endswith(w, "gh")),
                      _in_r(B, R, w, 2, "rv"))
        return B.when(cond, B.drop(w, 1), w)

    return [
        ("w", lambda B, R: _it_prelude(B, R["w0"])),
        ("skel", lambda B, R: _skeleton(B, R["w"], _IT_V)),
        ("r1", lambda B, R: _r1_raw(B, R, R["skel"],
                                    B.length(R["w"]))),
        ("r2", lambda B, R: _r2_from(B, R["skel"], R["r1"],
                                     B.length(R["w"]))),
        ("rv", lambda B, R: _es_like_rv(B, R, R["w"], R["skel"],
                                        _IT_V)),
        ("wp", lambda B, R: _it_step0(B, R, R["w"])),
        ("w1", lambda B, R: _it_step1(B, R, R["wp"])),
        ("w2", step2),
        ("w3", step3a),
        ("w4", step3b),
    ]


def _es_like_rv(B, R, w, skel, vowels):
    """The Spanish/Italian RV rule over an arbitrary vowel class."""
    wlen = B.length(w)
    c1v = B.in_chars(B.take_char(w, 1), vowels)
    c2v = B.in_chars(B.take_char(w, 2), vowels)
    pa = B.locate_from(skel, "a", B.num(3))
    after_vowel = B.when(B.gt(pa, B.num(0)), B.add(pa, B.num(1)),
                         B.add(wlen, B.num(1)))
    pb = B.locate_from(skel, "b", B.num(3))
    after_cons = B.when(B.gt(pb, B.num(0)), B.add(pb, B.num(1)),
                        B.add(wlen, B.num(1)))
    return B.when(B.not_(c2v), after_vowel,
                  B.when(c1v, after_cons, B.num(4)))


def _it_final(B, refs):
    w = refs["w4"]
    for a, b in (("I", "i"), ("U", "u")):
        w = B.replace_all(w, a, b)
    return w


# ---------------------------------------------------------------------------
# DUTCH (snowballstem.org/algorithms/dutch/stemmer.html) — umlaut/acute
# folding + initial-y / y-after-vowel / i-between-vowels marking, the
# en/s valid-ending rules with kk/dd/tt undoubling, the e-removal flag
# that gates 'bar', the heid step with its en re-application, and the
# CVD double-vowel undoubling.

_NL_V = "aeiouyè"


def _nl_prelude(B, w):
    for a, b in (("ä", "a"), ("ë", "e"), ("ï", "i"), ("ö", "o"),
                 ("ü", "u"), ("á", "a"), ("é", "e"), ("í", "i"),
                 ("ó", "o"), ("ú", "u")):
        w = B.replace_all(w, a, b)
    w = B.regex_replace(w, "^y", "Y")
    w = B.regex_replace(w, f"([{_NL_V}])y", "$1Y")
    w = B.regex_replace(w, f"([{_NL_V}])i([{_NL_V}])", "$1I$2")
    return w


def _nl_undouble(B, w):
    cond = B.or_(B.endswith(w, "kk"), B.endswith(w, "dd"),
                 B.endswith(w, "tt"))
    return B.when(cond, B.drop(w, 1), w)


def _nl_step1(B, R, w):
    def heden(wd, sfx):
        return B.when(_in_r(B, R, wd, 5, "r1"),
                      B.append(B.drop(wd, 5), "heid"), wd)

    def en_rule(wd, sfx):
        t = B.drop(wd, len(sfx))
        ok = B.and_(_in_r(B, R, wd, len(sfx), "r1"),
                    _prev_nonvowel(B, wd, len(sfx), _NL_V),
                    B.not_(B.endswith(t, "gem")))
        return B.when(ok, _nl_undouble(B, t), wd)

    def s_rule(wd, sfx):
        prev = B.char_from_end(wd, len(sfx) + 1)
        ok = B.and_(_in_r(B, R, wd, len(sfx), "r1"),
                    B.not_(B.in_chars(prev, _NL_V + "j")),
                    B.gt(B.length(wd), B.num(len(sfx))))
        return B.when(ok, B.drop(wd, len(sfx)), wd)

    return _apply_rules(B, w, [
        ("heden", heden), ("ene", en_rule), ("en", en_rule),
        ("se", s_rule), ("s", s_rule),
    ])


def _nl_step2_cond(B, R, w):
    return B.and_(B.endswith(w, "e"), _in_r(B, R, w, 1, "r1"),
                  _prev_nonvowel(B, w, 1, _NL_V))


def _nl_step3a(B, R, w):
    t = B.drop(w, 4)
    en_ok = B.and_(B.endswith(t, "en"), _in_r(B, R, t, 2, "r1"),
                   _prev_nonvowel(B, t, 2, _NL_V),
                   B.not_(B.endswith(B.drop(t, 2), "gem")))
    t2 = B.when(en_ok, _nl_undouble(B, B.drop(t, 2)), t)
    ok = B.and_(B.endswith(w, "heid"), _in_r(B, R, w, 4, "r2"),
                B.not_(B.eq(B.char_from_end(w, 5), B.lit("c"))))
    return B.when(ok, t2, w)


def _nl_step3b(B, R, w, e_removed):
    def end_ing(wd, sfx):
        t = B.drop(wd, 3)
        ig_ok = B.and_(B.endswith(t, "ig"), _in_r(B, R, t, 2, "r2"),
                       B.not_(B.eq(B.char_from_end(t, 3), B.lit("e"))))
        t2 = B.when(ig_ok, B.drop(t, 2), _nl_undouble(B, t))
        return B.when(_in_r(B, R, wd, 3, "r2"), t2, wd)

    def ig(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, 2, "r2"),
                    B.not_(B.eq(B.char_from_end(wd, 3), B.lit("e"))))
        return B.when(ok, B.drop(wd, 2), wd)

    def lijk(wd, sfx):
        t = B.drop(wd, 4)
        e_ok = _nl_step2_cond(B, R, t)
        t2 = B.when(e_ok, _nl_undouble(B, B.drop(t, 1)), t)
        return B.when(_in_r(B, R, wd, 4, "r2"), t2, wd)

    def baar(wd, sfx):
        return B.when(_in_r(B, R, wd, 4, "r2"), B.drop(wd, 4), wd)

    def bar(wd, sfx):
        return B.when(B.and_(_in_r(B, R, wd, 3, "r2"), e_removed),
                      B.drop(wd, 3), wd)

    return _apply_rules(B, w, [
        ("lijk", lijk), ("baar", baar), ("end", end_ing),
        ("ing", end_ing), ("bar", bar), ("ig", ig),
    ])


def _nl_step4(B, w):
    # C V V D at the end, V in {aa,ee,oo,uu}, D a non-vowel other than
    # I, C a non-vowel: drop one of the double vowels
    d = B.char_from_end(w, 1)
    v1 = B.char_from_end(w, 2)
    v2 = B.char_from_end(w, 3)
    c = B.char_from_end(w, 4)
    cond = B.and_(B.ge(B.length(w), B.num(4)),
                  B.not_(B.in_chars(d, _NL_V + "I")),
                  B.eq(v1, v2), B.in_chars(v1, "aeou"),
                  B.not_(B.in_chars(c, _NL_V)))
    return B.when(cond, B.concat2(B.drop(w, 2), d), w)


def _nl_plan():
    return [
        ("w", lambda B, R: _nl_prelude(B, R["w0"])),
        ("skel", lambda B, R: _skeleton(B, R["w"], _NL_V)),
        ("r1r", lambda B, R: _r1_raw(B, R, R["skel"],
                                     B.length(R["w"]))),
        ("r2", lambda B, R: _r2_from(B, R["skel"], R["r1r"],
                                     B.length(R["w"]))),
        ("r1", lambda B, R: B.greatest(R["r1r"], B.num(4))),
        ("w1", lambda B, R: _nl_step1(B, R, R["w"])),
        ("ef", lambda B, R: _nl_step2_cond(B, R, R["w1"])),
        ("w2", lambda B, R: B.when(
            R["ef"], _nl_undouble(B, B.drop(R["w1"], 1)), R["w1"])),
        ("w3a", lambda B, R: _nl_step3a(B, R, R["w2"])),
        ("w3b", lambda B, R: _nl_step3b(B, R, R["w3a"], R["ef"])),
        ("w4", lambda B, R: _nl_step4(B, R["w3b"])),
    ]


def _nl_final(B, refs):
    w = refs["w4"]
    for a, b in (("I", "i"), ("Y", "y")):
        w = B.replace_all(w, a, b)
    return w


# ---------------------------------------------------------------------------
# PORTUGUESE (snowballstem.org/algorithms/portuguese/stemmer.html) —
# the Spanish shape minus attached pronouns, with the nasal-vowel
# prelude (ã/õ -> a~/o~ so '~' rides the pipeline as a consonant and
# the postlude restores it), the e/é/ê + gu/ci residual step, and the
# ç -> c rewrite.

_PT_V = "aeiouáéíóúâêô"

_PT_STEP1_DEL_R2 = ("eza ezas ico ica icos icas ismo ismos ável ível "
                    "ista istas oso osa osos osas amento amentos "
                    "imento imentos adora ador aça~o adoras adores "
                    "aço~es ante antes ância").split()

_PT_VERB = ("ada ida ia aria eria iria ará ara erá era irá ava asse "
            "esse isse aste este iste ei arei erei irei am iam ariam "
            "eriam iriam aram eram iram avam em arem erem irem assem "
            "essem issem ado ido ando endo indo ara~o era~o ira~o ar "
            "er ir as adas idas ias arias erias irias arás aras erás "
            "eras irás avas es ardes erdes irdes ares eres ires "
            "asses esses isses astes estes istes is ais iais aríeis "
            "eríeis iríeis áreis areis éreis ereis íreis ireis "
            "ásseis ésseis ísseis áveis íeis ados idos ámos amos "
            "íamos aríamos eríamos iríamos áramos éramos íramos "
            "ávamos emos aremos eremos iremos ássemos êssemos "
            "íssemos imos armos ermos irmos eu iu ou ira iras").split()


def _pt_prelude(B, w):
    w = B.replace_all(w, "ã", "a~")
    w = B.replace_all(w, "õ", "o~")
    return w


def _pt_step1(B, R, w):
    def del_r2(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                      B.drop(wd, len(sfx)), wd)

    def repl_r2(repl):
        def act(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                          B.append(B.drop(wd, len(sfx)), repl), wd)
        return act

    def amente(wd, sfx):
        t = B.drop(wd, 6)
        iv = B.and_(B.endswith(t, "iv"), _in_r(B, R, t, 2, "r2"))
        t_iv = B.drop(t, 2)
        t_iv = B.when(B.and_(B.endswith(t_iv, "at"),
                             _in_r(B, R, t_iv, 2, "r2")),
                      B.drop(t_iv, 2), t_iv)
        osicad = B.and_(
            B.or_(B.endswith(t, "os"), B.endswith(t, "ic"),
                  B.endswith(t, "ad")),
            _in_r(B, R, t, 2, "r2"))
        t2 = B.when(iv, t_iv, B.when(osicad, B.drop(t, 2), t))
        return B.when(_in_r(B, R, wd, 6, "r1"), t2, wd)

    def mente(wd, sfx):
        t = B.drop(wd, 5)
        pre = B.and_(
            B.or_(B.endswith(t, "ante"), B.endswith(t, "avel"),
                  B.endswith(t, "ível")),
            _in_r(B, R, t, 4, "r2"))
        t2 = B.when(pre, B.drop(t, 4), t)
        return B.when(_in_r(B, R, wd, 5, "r2"), t2, wd)

    def idade(wd, sfx):
        t = B.drop(wd, len(sfx))
        abil = B.and_(B.endswith(t, "abil"), _in_r(B, R, t, 4, "r2"))
        iciv = B.and_(B.or_(B.endswith(t, "ic"), B.endswith(t, "iv")),
                      _in_r(B, R, t, 2, "r2"))
        t2 = B.when(abil, B.drop(t, 4), B.when(iciv, B.drop(t, 2), t))
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def iva(wd, sfx):
        t = B.drop(wd, len(sfx))
        t2 = B.when(B.and_(B.endswith(t, "at"),
                           _in_r(B, R, t, 2, "r2")), B.drop(t, 2), t)
        return B.when(_in_r(B, R, wd, len(sfx), "r2"), t2, wd)

    def eira(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, len(sfx), "rv"),
                    B.eq(B.char_from_end(wd, len(sfx) + 1),
                         B.lit("e")))
        return B.when(ok, B.append(B.drop(wd, len(sfx)), "ir"), wd)

    rules = [(s, del_r2) for s in _PT_STEP1_DEL_R2]
    rules += [("logia", repl_r2("log")), ("logias", repl_r2("log")),
              ("uça~o", repl_r2("u")), ("uço~es", repl_r2("u")),
              ("ência", repl_r2("ente")), ("ências", repl_r2("ente")),
              ("amente", amente), ("mente", mente),
              ("idade", idade), ("idades", idade),
              ("iva", iva), ("ivo", iva), ("ivas", iva), ("ivos", iva),
              ("ira", eira), ("iras", eira)]
    return _apply_rules(B, w, rules)


def _pt_step2(B, R, w):
    def del_rv(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                      B.drop(wd, len(sfx)), wd)
    return _apply_rules(B, w, [(s, del_rv) for s in _PT_VERB])


def _pt_step5(B, R, w):
    def e_rule(wd, sfx):
        t = B.drop(wd, 1)
        gu_ok = B.and_(B.endswith(t, "gu"),
                       B.ge(B.length(t), R["rv"]))
        ci_ok = B.and_(B.endswith(t, "ci"),
                       B.ge(B.length(t), R["rv"]))
        t2 = B.when(B.or_(gu_ok, ci_ok), B.drop(t, 1), t)
        return B.when(_in_r(B, R, wd, 1, "rv"), t2, wd)

    def ccedil(wd, sfx):
        return B.append(B.drop(wd, 1), "c")

    return _apply_rules(B, w, [
        ("e", e_rule), ("é", e_rule), ("ê", e_rule), ("ç", ccedil),
    ])


def _pt_plan():
    def step3(B, R):
        w = R["w2"]
        ok = B.and_(B.endswith(w, "i"), _in_r(B, R, w, 1, "rv"),
                    B.eq(B.char_from_end(w, 2), B.lit("c")))
        return B.when(R["alt"], B.when(ok, B.drop(w, 1), w), w)

    def step4(B, R):
        w = R["w3"]

        def del_rv(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                          B.drop(wd, len(sfx)), wd)

        t = _apply_rules(B, w, [
            ("os", del_rv), ("a", del_rv), ("i", del_rv),
            ("o", del_rv), ("á", del_rv), ("í", del_rv),
            ("ó", del_rv)])
        return B.when(R["alt"], w, t)

    return [
        ("w", lambda B, R: _pt_prelude(B, R["w0"])),
        ("skel", lambda B, R: _skeleton(B, R["w"], _PT_V)),
        ("r1", lambda B, R: _r1_raw(B, R, R["skel"],
                                    B.length(R["w"]))),
        ("r2", lambda B, R: _r2_from(B, R["skel"], R["r1"],
                                     B.length(R["w"]))),
        ("rv", lambda B, R: _es_like_rv(B, R, R["w"], R["skel"],
                                        _PT_V)),
        ("w1", lambda B, R: _pt_step1(B, R, R["w"])),
        ("d1", lambda B, R: B.eqs(R["w1"], R["w"])),
        ("w2", lambda B, R: B.when(R["d1"],
                                   _pt_step2(B, R, R["w1"]),
                                   R["w1"])),
        ("alt", lambda B, R: B.not_(B.eqs(R["w2"], R["w"]))),
        ("w3", step3),
        ("w4", step4),
        ("w5", lambda B, R: _pt_step5(B, R, R["w4"])),
    ]


def _pt_final(B, refs):
    w = refs["w5"]
    w = B.replace_all(w, "a~", "ã")
    w = B.replace_all(w, "o~", "õ")
    return w


# ---------------------------------------------------------------------------
# ROMANIAN (snowballstem.org/algorithms/romanian/stemmer.html) — the
# Romance shape with a plural step 0, the REPEATED combining-suffix
# step 1 (unrolled to a fixed depth: every replacement strictly
# shortens the word and re-matching needs a >=4-char suffix, so real
# vocabulary never chains past 3; a no-match pass is a fixpoint, so
# extra passes are identity), the ţ-aware iune rule, and the
# consonant-or-u guard on group-A verb suffixes. Comma-below ş/ţ
# (U+0219/U+021B) are folded to the cedilla forms the algorithm's
# tables use (the same ad-hoc extension modern Snowball applies).

_RO_V = "aăâeiîou"

_RO_STEP1 = [
    ("abilitate", "abil"), ("abilitati", "abil"), ("abilităi", "abil"),
    ("abilităţi", "abil"), ("ibilitate", "ibil"),
    ("ivitate", "iv"), ("ivitati", "iv"), ("ivităi", "iv"),
    ("ivităţi", "iv"),
    ("icitate", "ic"), ("icitati", "ic"), ("icităi", "ic"),
    ("icităţi", "ic"), ("icator", "ic"), ("icatori", "ic"),
    ("iciv", "ic"), ("iciva", "ic"), ("icive", "ic"), ("icivi", "ic"),
    ("icivă", "ic"), ("ical", "ic"), ("icala", "ic"), ("icale", "ic"),
    ("icali", "ic"), ("icală", "ic"),
    ("ativ", "at"), ("ativa", "at"), ("ative", "at"), ("ativi", "at"),
    ("ativă", "at"), ("aţiune", "at"), ("atoare", "at"), ("ator", "at"),
    ("atori", "at"), ("ătoare", "at"), ("ător", "at"), ("ători", "at"),
    ("itiv", "it"), ("itiva", "it"), ("itive", "it"), ("itivi", "it"),
    ("itivă", "it"), ("iţiune", "it"), ("itoare", "it"), ("itor", "it"),
    ("itori", "it"),
]

_RO_STEP2_DEL = ("at ata ată ati ate abil abila abile abili abilă "
                 "ibil ibila ibile ibili ibilă oasa oasă oase os osi "
                 "oşi ant anta ante anti antă ator atori itate itati "
                 "ităi ităţi iv iva ive ivi ivă ut uta ute uti ută "
                 "it ita ite iti ită ic ica ice ici ică").split()

_RO_ISM = ("ism isme ist ista iste isti istă işti").split()

# group A: delete if the char before the suffix is in RV and is a
# consonant or 'u'
_RO_VERB_A = ("are ere ire âre ind ând indu ându eze ească ez ezi "
              "ează esc eşti eşte ăsc ăşti ăşte am ai au eam eai eau "
              "iam iai iau ui uşi urăm userăm useşi use usem âi âşi "
              "ârăm âserăm âseşi âse âsem işi irăm iserăm iseşi ise "
              "isem aşi arăm aserăm aseşi ase asem").split()
# group B: delete (suffix in RV is the only condition)
_RO_VERB_B = ("ăm aţi em eţi im iţi âm âţi seşi serăm serăţi seră "
              "sei se sesem seseşi sese seserăm seserăţi seseră").split()

_RO_UNROLL = 4


def _ro_prelude(B, w):
    w = B.replace_all(w, "ș", "ş")
    w = B.replace_all(w, "ț", "ţ")
    w = B.regex_replace(w, f"([{_RO_V}])u([{_RO_V}])", "$1U$2")
    w = B.regex_replace(w, f"([{_RO_V}])i([{_RO_V}])", "$1I$2")
    return w


def _ro_step0(B, R, w):
    def repl_r1(repl):
        def act(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                          B.append(B.drop(wd, len(sfx)), repl), wd)
        return act

    def del_r1(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.drop(wd, len(sfx)), wd)

    def ile(wd, sfx):
        t = B.drop(wd, 3)
        ok = B.and_(_in_r(B, R, wd, 3, "r1"),
                    B.not_(B.endswith(t, "ab")))
        return B.when(ok, B.append(t, "i"), wd)

    rules = [("ul", del_r1), ("ului", del_r1),
             ("aua", repl_r1("a")),
             ("ea", repl_r1("e")), ("ele", repl_r1("e")),
             ("elor", repl_r1("e")),
             ("ii", repl_r1("i")), ("iua", repl_r1("i")),
             ("iei", repl_r1("i")), ("iile", repl_r1("i")),
             ("iilor", repl_r1("i")), ("ilor", repl_r1("i")),
             ("ile", ile),
             ("atei", repl_r1("at")),
             ("aţie", repl_r1("aţi")), ("aţia", repl_r1("aţi"))]
    return _apply_rules(B, w, rules)


def _ro_step1_pass(B, R, w):
    def repl(r):
        def act(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                          B.append(B.drop(wd, len(sfx)), r), wd)
        return act
    return _apply_rules(B, w, [(s, repl(r)) for s, r in _RO_STEP1])


def _ro_step2(B, R, w):
    def del_r2(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                      B.drop(wd, len(sfx)), wd)

    def iune(wd, sfx):
        t = B.drop(wd, len(sfx))
        ok = B.and_(_in_r(B, R, wd, len(sfx), "r2"),
                    B.endswith(t, "ţ"))
        return B.when(ok, B.append(B.drop(t, 1), "t"), wd)

    def ist(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                      B.append(B.drop(wd, len(sfx)), "ist"), wd)

    rules = [(s, del_r2) for s in _RO_STEP2_DEL]
    rules += [("iune", iune), ("iuni", iune)]
    rules += [(s, ist) for s in _RO_ISM]
    return _apply_rules(B, w, rules)


def _ro_step3(B, R, w):
    def del_a(wd, sfx):
        prev = B.char_from_end(wd, len(sfx) + 1)
        ok = B.and_(
            _in_r(B, R, wd, len(sfx), "rv"),
            # the preceding char must itself lie in RV ("preceded in
            # RV by...") and be a consonant or u
            B.ge(B.sub(B.length(wd), B.num(len(sfx))), R["rv"]),
            B.or_(B.and_(B.not_(B.eq(prev, B.lit(""))),
                         B.not_(B.in_chars(prev, _RO_V))),
                  B.eq(prev, B.lit("u"))))
        return B.when(ok, B.drop(wd, len(sfx)), wd)

    def del_b(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                      B.drop(wd, len(sfx)), wd)

    rules = [(s, del_a) for s in _RO_VERB_A]
    rules += [(s, del_b) for s in _RO_VERB_B]
    return _apply_rules(B, w, rules)


def _ro_step4(B, R, w):
    def del_rv(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "rv"),
                      B.drop(wd, len(sfx)), wd)
    return _apply_rules(B, w, [
        ("a", del_rv), ("e", del_rv), ("i", del_rv), ("ie", del_rv),
        ("ă", del_rv)])


def _ro_plan():
    plan = [
        ("w", lambda B, R: _ro_prelude(B, R["w0"])),
        ("skel", lambda B, R: _skeleton(B, R["w"], _RO_V)),
        ("r1", lambda B, R: _r1_raw(B, R, R["skel"],
                                    B.length(R["w"]))),
        ("r2", lambda B, R: _r2_from(B, R["skel"], R["r1"],
                                     B.length(R["w"]))),
        ("rv", lambda B, R: _es_like_rv(B, R, R["w"], R["skel"],
                                        _RO_V)),
        ("p0", lambda B, R: _ro_step0(B, R, R["w"])),
    ]
    prev = "p0"
    for i in range(1, _RO_UNROLL + 1):
        plan.append((f"p1{i}",
                     (lambda p: lambda B, R:
                      _ro_step1_pass(B, R, R[p]))(prev)))
        prev = f"p1{i}"
    plan += [
        # standard_suffix_removed: step 1 or step 2 changed the word
        ("w2", lambda B, R: _ro_step2(B, R, R[prev])),
        ("std", lambda B, R: B.not_(B.eqs(R["w2"], R["p0"]))),
        ("w3", lambda B, R: B.when(R["std"], R["w2"],
                                   _ro_step3(B, R, R["w2"]))),
        ("w4", lambda B, R: _ro_step4(B, R, R["w3"])),
    ]
    return plan


def _ro_final(B, refs):
    w = refs["w4"]
    for a, b in (("I", "i"), ("U", "u")):
        w = B.replace_all(w, a, b)
    return w


# ---------------------------------------------------------------------------
# FINNISH (snowballstem.org/algorithms/finnish/stemmer.html) — six
# steps over R1/R2: particle/sti, possessives, the case-ending among
# with per-suffix preceding-char guards (hXn, Vi, LV, cv, e), the
# R2 comparative step, the step-3-coupled plural step, and the
# four-part R1 tidy plus the unrestricted double-consonant undouble
# (aatonaatto -> aatonaato). Preceding-char conditions are tested
# unrestricted (only the suffix itself must lie in the region) — the
# published kalaa -> kala requires the 'c' of the cv test to sit
# before R1.

_FI_V = "aeiouyäö"
_FI_RV = "aeiouäö"          # restricted vowels (no y): Vi / LV tests

_FI_STEP3_PLAIN = ("ta tä ssa ssä sta stä lla llä lta ltä lle na nä "
                   "ksi ine").split()


def _fi_lv_at_end(B, w, vowels=_FI_RV):
    c1 = B.char_from_end(w, 1)
    c2 = B.char_from_end(w, 2)
    return B.and_(B.not_(B.eq(c1, B.lit(""))),
                  B.not_(B.eq(c2, B.lit(""))),
                  B.eqs(c1, c2), B.in_chars(c1, vowels))


def _fi_step1(B, R, w):
    def particle(wd, sfx):
        prev = B.char_from_end(wd, len(sfx) + 1)
        ok = B.and_(_in_r(B, R, wd, len(sfx), "r1"),
                    B.in_chars(prev, "nt" + _FI_V))
        return B.when(ok, B.drop(wd, len(sfx)), wd)

    def sti(wd, sfx):
        return B.when(_in_r(B, R, wd, 3, "r2"), B.drop(wd, 3), wd)

    rules = [(s, particle) for s in
             ("kin", "kaan", "kään", "ko", "kö", "han", "hän", "pa",
              "pä")]
    rules.append(("sti", sti))
    return _apply_rules(B, w, rules)


def _fi_step2(B, R, w):
    def si(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, 2, "r1"),
                    B.not_(B.eq(B.char_from_end(wd, 3), B.lit("k"))))
        return B.when(ok, B.drop(wd, 2), wd)

    def ni(wd, sfx):
        t = B.drop(wd, 2)
        t2 = B.when(B.endswith(t, "kse"),
                    B.append(B.drop(t, 1), "i"), t)
        return B.when(_in_r(B, R, wd, 2, "r1"), t2, wd)

    def del_r1(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.drop(wd, len(sfx)), wd)

    def an(pres):
        def act(wd, sfx):
            t = B.drop(wd, 2)
            ok = B.and_(_in_r(B, R, wd, 2, "r1"),
                        B.or_(*[B.endswith(t, p) for p in pres]))
            return B.when(ok, t, wd)
        return act

    return _apply_rules(B, w, [
        ("si", si), ("ni", ni),
        ("nsa", del_r1), ("nsä", del_r1), ("mme", del_r1),
        ("nne", del_r1),
        ("an", an(("ta", "ssa", "sta", "lla", "lta", "na"))),
        ("än", an(("tä", "ssä", "stä", "llä", "ltä", "nä"))),
        ("en", an(("lle", "ine"))),
    ])


def _fi_step3(B, R, w):
    def del_r1(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.drop(wd, len(sfx)), wd)

    def hxn(prevc):
        def act(wd, sfx):
            ok = B.and_(_in_r(B, R, wd, 3, "r1"),
                        B.eq(B.char_from_end(wd, 4), B.lit(prevc)))
            return B.when(ok, B.drop(wd, 3), wd)
        return act

    def vi(wd, sfx):
        ok = B.and_(
            _in_r(B, R, wd, len(sfx), "r1"),
            B.eq(B.char_from_end(wd, len(sfx) + 1), B.lit("i")),
            B.in_chars(B.char_from_end(wd, len(sfx) + 2), _FI_RV))
        return B.when(ok, B.drop(wd, len(sfx)), wd)

    def seen(wd, sfx):
        c1 = B.char_from_end(wd, 5)
        c2 = B.char_from_end(wd, 6)
        ok = B.and_(_in_r(B, R, wd, 4, "r1"), B.eqs(c1, c2),
                    B.in_chars(c1, _FI_RV))
        return B.when(ok, B.drop(wd, 4), wd)

    def a_cv(wd, sfx):
        v = B.char_from_end(wd, 2)
        c = B.char_from_end(wd, 3)
        ok = B.and_(_in_r(B, R, wd, 1, "r1"),
                    B.in_chars(v, _FI_V),
                    B.not_(B.eq(c, B.lit(""))),
                    B.not_(B.in_chars(c, _FI_V)))
        return B.when(ok, B.drop(wd, 1), wd)

    def tta(wd, sfx):
        ok = B.and_(_in_r(B, R, wd, 3, "r1"),
                    B.eq(B.char_from_end(wd, 4), B.lit("e")))
        return B.when(ok, B.drop(wd, 3), wd)

    def n_rule(wd, sfx):
        t = B.drop(wd, 1)
        lv = B.or_(_fi_lv_at_end(B, t), B.endswith(t, "ie"))
        t2 = B.when(lv, B.drop(t, 1), t)
        return B.when(_in_r(B, R, wd, 1, "r1"), t2, wd)

    rules = [("han", hxn("a")), ("hen", hxn("e")), ("hin", hxn("i")),
             ("hon", hxn("o")), ("hun", hxn("u")), ("hyn", hxn("y")),
             ("hän", hxn("ä")), ("hön", hxn("ö")),
             ("siin", vi), ("den", vi), ("tten", vi),
             ("seen", seen),
             ("a", a_cv), ("ä", a_cv),
             ("tta", tta), ("ttä", tta),
             ("n", n_rule)]
    rules += [(s, del_r1) for s in _FI_STEP3_PLAIN]
    return _apply_rules(B, w, rules)


def _fi_step4(B, R, w):
    def del_r2(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r2"),
                      B.drop(wd, len(sfx)), wd)

    def mpi(wd, sfx):
        t = B.drop(wd, 3)
        ok = B.and_(_in_r(B, R, wd, 3, "r2"),
                    B.not_(B.endswith(t, "po")))
        return B.when(ok, t, wd)

    rules = [(s, del_r2) for s in
             ("impi", "impa", "impä", "immi", "imma", "immä", "eja",
              "ejä")]
    rules += [(s, mpi) for s in
              ("mpi", "mpa", "mpä", "mmi", "mma", "mmä")]
    return _apply_rules(B, w, rules)


def _fi_step5(B, R, w, t1, removed3):
    ij = B.and_(B.or_(B.endswith(w, "i"), B.endswith(w, "j")),
                _in_r(B, R, w, 1, "r1"))
    w_ij = B.when(ij, B.drop(w, 1), w)
    t_ok = B.and_(B.endswith(w, "t"), _in_r(B, R, w, 1, "r1"),
                  B.in_chars(B.char_from_end(w, 2), _FI_V))
    imma = B.and_(B.endswith(t1, "imma"), _in_r(B, R, t1, 4, "r2"))
    mma = B.and_(B.endswith(t1, "mma"), _in_r(B, R, t1, 3, "r2"),
                 B.not_(B.endswith(B.drop(t1, 3), "po")))
    t2 = B.when(imma, B.drop(t1, 4), B.when(mma, B.drop(t1, 3), t1))
    w_t = B.when(t_ok, t2, w)
    return B.when(removed3, w_ij, w_t)


def _fi_step6a(B, R, w):
    # (a) R1 ends with a long vowel: drop the last letter
    a_ok = B.and_(_fi_lv_at_end(B, w),
                  B.ge(B.sub(B.length(w), B.num(1)), R["r1"]))
    return B.when(a_ok, B.drop(w, 1), w)


def _fi_step6b(B, R, w):
    # (b) ends cX, X in a/ä/e/i, both in R1
    xb = B.char_from_end(w, 1)
    cb = B.char_from_end(w, 2)
    b_ok = B.and_(B.in_chars(xb, "aäei"),
                  B.not_(B.eq(cb, B.lit(""))),
                  B.not_(B.in_chars(cb, _FI_V)),
                  B.ge(B.sub(B.length(w), B.num(1)), R["r1"]))
    return B.when(b_ok, B.drop(w, 1), w)


def _fi_step6c(B, R, w):
    # (c) ends oj/uj in R1
    c_ok = B.and_(B.or_(B.endswith(w, "oj"), B.endswith(w, "uj")),
                  B.ge(B.sub(B.length(w), B.num(1)), R["r1"]))
    return B.when(c_ok, B.drop(w, 1), w)


def _fi_step6d(B, R, w):
    # (d) ends jo in R1
    d_ok = B.and_(B.endswith(w, "jo"),
                  B.ge(B.sub(B.length(w), B.num(1)), R["r1"]))
    return B.when(d_ok, B.drop(w, 1), w)


def _fi_step6e(B, w, lpos):
    # double consonant followed by zero or more vowels, unrestricted:
    # remove the second consonant of the pair (lpos = position of the
    # last consonant, bound as its own plan step — it embeds a
    # skeleton regex pair that would otherwise inline 10+ times)
    ok = B.and_(B.ge(lpos, B.num(2)),
                B.eqs(B.char_at(w, lpos),
                      B.char_at(w, B.sub(lpos, B.num(1)))))
    return B.when(
        ok,
        B.concat2(B.prefix_to(w, B.sub(lpos, B.num(1))),
                  B.suffix_from(w, B.add(lpos, B.num(1)))),
        w)


def _fi_plan():
    return [
        ("skel", lambda B, R: _skeleton(B, R["w0"], _FI_V)),
        ("r1", lambda B, R: _r1_raw(B, R, R["skel"],
                                    B.length(R["w0"]))),
        ("r2", lambda B, R: _r2_from(B, R["skel"], R["r1"],
                                     B.length(R["w0"]))),
        ("w1", lambda B, R: _fi_step1(B, R, R["w0"])),
        ("w2", lambda B, R: _fi_step2(B, R, R["w1"])),
        ("w3", lambda B, R: _fi_step3(B, R, R["w2"])),
        ("d3", lambda B, R: B.not_(B.eqs(R["w3"], R["w2"]))),
        ("w4", lambda B, R: _fi_step4(B, R, R["w3"])),
        ("w4d", lambda B, R: B.drop(R["w4"], 1)),
        ("w5", lambda B, R: _fi_step5(B, R, R["w4"], R["w4d"],
                                      R["d3"])),
        # the four R1-restricted tidy parts are separate plan steps —
        # chained inside ONE bind they re-inline each other's text
        # (216 KB for the single w6 CTE in the SQL backend, measured)
        ("w6a", lambda B, R: _fi_step6a(B, R, R["w5"])),
        ("w6b", lambda B, R: _fi_step6b(B, R, R["w6a"])),
        ("w6c", lambda B, R: _fi_step6c(B, R, R["w6b"])),
        ("w6d", lambda B, R: _fi_step6d(B, R, R["w6c"])),
        ("lc", lambda B, R: B.length(B.regex_replace(
            _skeleton(B, R["w6d"], _FI_V), "a+$", ""))),
        ("w6e", lambda B, R: _fi_step6e(B, R["w6d"], R["lc"])),
    ]


# ---------------------------------------------------------------------------
# HUNGARIAN (snowballstem.org/algorithms/hungarian/stemmer.html) —
# digraph-aware R1 (a digraph at the first consonant position counts
# as one consonant), nine suffix families applied in the published
# order (instrumental, case, special case, other case, factive, owned,
# singular owner, plural owner, plural), the double-consonant test
# with digraph doubles (ccs/ggy/lly/nny/ssz/tty/zzs), undoubling, and
# the á->a / é->e ending normalization after case removal.

_HU_V = "aáeéiíoóöőuúüű"
_HU_DIGRAPHS = ("cs", "dz", "dzs", "gy", "ly", "ny", "sz", "ty", "zs")
_HU_DOUBLES2 = ("bb", "cc", "dd", "ff", "gg", "hh", "jj", "kk", "ll",
                "mm", "nn", "pp", "rr", "ss", "tt", "vv", "zz")
_HU_DOUBLES3 = ("ccs", "ggy", "lly", "nny", "ssz", "tty", "zzs")

_HU_CASE = ("ban ben ba be ra re nak nek val vel tól től ról ről ból "
            "ből hoz hez höz nál nél ig at et ot öt ért képp képpen "
            "kor ul ül vá vé onként enként anként ként en on an ön "
            "n t").split()

_HU_SING_OWNER_DEL = ("ünk unk nk juk jük uk ük em om am m od ed ad "
                      "öd d ja je a e o").split()
_HU_SING_OWNER_A = ("ánk ájuk ám ád á").split()
_HU_SING_OWNER_E = ("énk éjük ém éd é").split()

_HU_PLUR_OWNER_DEL = ("jaim jeim aim eim im jaid jeid aid eid id jai "
                      "jei ai ei i jaink jeink aink eink ink jaitok "
                      "jeitek aitok eitek itek jaik jeik aik eik "
                      "ik").split()
_HU_PLUR_OWNER_A = ("áim áid ái áink áitok áik").split()
_HU_PLUR_OWNER_E = ("éim éid éi éink éitek éik").split()


def _hu_r1(B, R):
    w, skel = R["w0"], R["skel"]
    wlen = B.length(w)
    none = B.add(wlen, B.num(1))
    # starts with a vowel: after the first consonant (digraph-aware)
    c = B.locate_from(skel, "b", B.num(1))
    di3 = B.eqs(B.substr_at(w, c, 3), B.lit("dzs"))
    di2 = B.or_(*[B.eqs(B.substr_at(w, c, 2), B.lit(d))
                  for d in _HU_DIGRAPHS if len(d) == 2])
    after_c = B.when(B.eq(c, B.num(0)), none,
                     B.when(di3, B.add(c, B.num(3)),
                            B.when(di2, B.add(c, B.num(2)),
                                   B.add(c, B.num(1)))))
    # starts with a consonant: after the first vowel
    v = B.locate_from(skel, "a", B.num(1))
    after_v = B.when(B.eq(v, B.num(0)), none, B.add(v, B.num(1)))
    return B.when(B.in_chars(B.take_char(w, 1), _HU_V),
                  after_c, after_v)


def _hu_is_double(B, t):
    return B.or_(*([B.endswith(t, d) for d in _HU_DOUBLES3]
                   + [B.endswith(t, d) for d in _HU_DOUBLES2]))


def _hu_undouble(B, t):
    out = B.drop(t, 1)
    for d in _HU_DOUBLES3:
        # doubled digraph xXY -> XY: remove the leading extra char
        out = B.when(B.endswith(t, d),
                     B.append(B.drop(t, 3), d[1:]), out)
    return out


def _hu_v_ending(B, t):
    return B.when(B.endswith(t, "á"), B.append(B.drop(t, 1), "a"),
                  B.when(B.endswith(t, "é"),
                         B.append(B.drop(t, 1), "e"), t))


def _hu_instrum(B, R, w):
    def act(wd, sfx):
        t = B.drop(wd, 2)
        ok = B.and_(_in_r(B, R, wd, 2, "r1"), _hu_is_double(B, t))
        return B.when(ok, _hu_undouble(B, t), wd)
    return _apply_rules(B, w, [("al", act), ("el", act)])


def _hu_case(B, R, w):
    def act(wd, sfx):
        t = B.drop(wd, len(sfx))
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      _hu_v_ending(B, t), wd)
    return _apply_rules(B, w, [(s, act) for s in _HU_CASE])


def _hu_repl_table(B, R, w, dels, to_a, to_e):
    def del_r1(wd, sfx):
        return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                      B.drop(wd, len(sfx)), wd)

    def repl(r):
        def act(wd, sfx):
            return B.when(_in_r(B, R, wd, len(sfx), "r1"),
                          B.append(B.drop(wd, len(sfx)), r), wd)
        return act

    rules = [(s, del_r1) for s in dels]
    rules += [(s, repl("a")) for s in to_a]
    rules += [(s, repl("e")) for s in to_e]
    return _apply_rules(B, w, rules)


def _hu_factive(B, R, w):
    def act(wd, sfx):
        t = B.drop(wd, 1)
        ok = B.and_(_in_r(B, R, wd, 1, "r1"), _hu_is_double(B, t))
        return B.when(ok, _hu_undouble(B, t), wd)
    return _apply_rules(B, w, [("á", act), ("é", act)])


def _hu_plan():
    return [
        ("skel", lambda B, R: _skeleton(B, R["w0"], _HU_V)),
        ("r1", _hu_r1),
        ("w1", lambda B, R: _hu_instrum(B, R, R["w0"])),
        ("w2", lambda B, R: _hu_case(B, R, R["w1"])),
        ("w3", lambda B, R: _hu_repl_table(
            B, R, R["w2"], [], ["án", "ánként"], ["én"])),
        ("w4", lambda B, R: _hu_repl_table(
            B, R, R["w3"], ["astul", "estül", "stul", "stül"],
            ["ástul"], ["éstül"])),
        ("w5", lambda B, R: _hu_factive(B, R, R["w4"])),
        ("w6", lambda B, R: _hu_repl_table(
            B, R, R["w5"],
            ["aké", "eké", "oké", "öké", "ké", "éi", "é"],
            ["áké", "áéi"], ["éké", "ééi"])),
        ("w7", lambda B, R: _hu_repl_table(
            B, R, R["w6"], _HU_SING_OWNER_DEL,
            _HU_SING_OWNER_A, _HU_SING_OWNER_E)),
        ("w8", lambda B, R: _hu_repl_table(
            B, R, R["w7"], _HU_PLUR_OWNER_DEL,
            _HU_PLUR_OWNER_A, _HU_PLUR_OWNER_E)),
        ("w9", lambda B, R: _hu_repl_table(
            B, R, R["w8"], ["ök", "ok", "ek", "ak", "k"],
            ["ák"], ["ék"])),
    ]
