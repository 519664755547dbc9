"""Categorical / text estimators (SURVEY.md §2.7, §2.10).

Re-expression of:
  * OpStringIndexer / OpStringIndexerNoFilter  core/.../impl/feature/
    OpStringIndexer.scala:53, OpStringIndexerNoFilter.scala:48 — label
    indexing with handle-invalid policies (error / skip-to-null / keep).
  * OpIndexToString / NoFilter  OpIndexToString.scala:50 — inverse lookup.
  * SmartTextVectorizer  SmartTextVectorizer.scala:62 (decision logic
    :113-152 — cardinality <= maxCard -> pivot; topK coverage >= minPct ->
    pivot; else hash) — the fit collects bounded stats only
    (approx_count_distinct + topK counts), mirroring the reference's bounded
    TextStats maps (:232-260).
  * MimeTypeDetector  MimeTypeDetector.scala:49 — the reference wraps Tika;
    this rebuild sniffs magic bytes of base64 content with pure column
    expressions (no library, covers the common container formats), with room
    for a pandas-UDF Tika/python-magic backend where available.

Determinism: index assignment orders by (frequency desc, value asc) — the
same deterministic tie-break the oracle gate requires everywhere.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..feature import Feature
from ..stages.base import ColumnTransformer, Estimator
from .numeric import FittedParamTransformer
from .vectorizers import (MIN_SUPPORT, TOP_K, FittedVectorizer, VectorSlot,
                          hashing_vectorizer, one_hot_estimator)


def string_indexer(feat: Feature, handle_invalid: str = "keep",
                   output_name: str | None = None) -> Estimator:
    """OpStringIndexer.scala:53. handle_invalid: 'keep' (unseen -> max index,
    the NoFilter variant), 'skip' (unseen/null -> null), 'error' is validated
    at transform time by the caller."""
    out = output_name or f"{feat.name}_idx"

    def fit(stage: Estimator, df: DataFrame) -> FittedParamTransformer:
        counts = (
            df.where(F.col(feat.name).isNotNull())
            .groupBy(feat.name).agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col(feat.name).asc())
            .collect()
        )
        labels = [r[feat.name] for r in counts]
        return FittedParamTransformer("stringIndexer", [feat], out, "Integral",
                                      {"labels": labels, "handle_invalid": handle_invalid})

    return Estimator("stringIndexer", [feat], out, "Integral", fit)


def index_to_string(idx_feat: Feature, labels: list[str], unseen: str = "UnseenLabel",
                    output_name: str | None = None) -> ColumnTransformer:
    """OpIndexToString.scala:50 — inverse of string_indexer from its fitted
    labels."""
    out = output_name or f"{idx_feat.name}_label"
    return FittedParamTransformer("indexToString", [idx_feat], out, "Text",
                                  {"labels": labels, "unseen": unseen})


def smart_text_vectorizer(feat: Feature, max_cardinality: int = 30,
                          top_k: int = TOP_K, min_support: int = MIN_SUPPORT,
                          coverage_pct: float = 0.9, hash_features: int = 512,
                          output_name: str | None = None) -> Estimator:
    """SmartTextVectorizer.scala:62 — decide pivot vs hash per column from
    bounded fitted stats (decision logic :113-152):
      cardinality <= max_cardinality          -> pivot (one-hot TopK)
      topK covers >= coverage_pct of rows     -> pivot
      else                                    -> hashing trick
    The fit never materializes an unbounded vocabulary: one pass collects
    approx_count_distinct + the topK counts.
    """
    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        c = F.col(feat.name)
        stats = df.agg(
            F.approx_count_distinct(c).alias("card"),
            F.count(c).alias("n_nonnull"),
        ).first()
        topk_rows = (
            df.where(c.isNotNull())
            .groupBy(feat.name).agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col(feat.name).asc())
            .limit(top_k).collect()
        )
        covered = sum(r["n"] for r in topk_rows)
        pivot = (stats["card"] <= max_cardinality) or (
            stats["n_nonnull"] > 0 and covered / stats["n_nonnull"] >= coverage_pct)

        if pivot:
            inner = one_hot_estimator(feat, top_k=top_k, min_support=min_support).fit(df)
            return FittedVectorizer("smartTextPivot", [feat], out, inner.slots,
                                    {"strategy": "pivot", **inner.params})
        hasher = hashing_vectorizer(feat, num_features=hash_features)
        return FittedVectorizer("smartTextHash", [feat], out, hasher.slots,
                                {"strategy": "hash", **hasher.params})

    return Estimator("smartText", [feat], out, "OPVector", fit)


# -- MIME sniffing over Base64 content (MimeTypeDetector.scala:49) ----------

# (mime, [(byte_offset, magic_bytes), ...]) — ALL parts must match; rules are
# tried top-down, first match wins, so multi-part / longer signatures come
# before ambiguous short ones (RIFF containers need bytes 8-11 to tell
# wav/avi/webp apart; "BM" and "MZ" are 2-byte and sit near the bottom).
# Signature values are the standard public magic numbers (as in file(1) /
# Apache Tika's magic database, MimeTypeDetector.scala:49).
_MAGIC: list[tuple[str, list[tuple[int, bytes]]]] = [
    ("image/png", [(0, bytes.fromhex("89504e47"))]),
    ("image/jpeg", [(0, bytes.fromhex("ffd8ff"))]),
    ("image/gif", [(0, b"GIF8")]),
    ("image/webp", [(0, b"RIFF"), (8, b"WEBP")]),
    ("audio/wav", [(0, b"RIFF"), (8, b"WAVE")]),
    ("video/x-msvideo", [(0, b"RIFF"), (8, b"AVI ")]),
    ("application/pdf", [(0, b"%PDF")]),
    # ODF/EPUB container inspection without unzipping: the format REQUIRES
    # the first zip entry to be an uncompressed file literally named
    # "mimetype" whose content is the mime string — local header is 30
    # bytes, the 8-byte name follows, the content starts at offset 38, so
    # the whole thing is an offset-pattern like any other signature
    ("application/epub+zip",
     [(0, b"PK\x03\x04"), (30, b"mimetypeapplication/epub+zip")]),
    ("application/vnd.oasis.opendocument.text",
     [(0, b"PK\x03\x04"),
      (30, b"mimetypeapplication/vnd.oasis.opendocument.text")]),
    ("application/vnd.oasis.opendocument.spreadsheet",
     [(0, b"PK\x03\x04"),
      (30, b"mimetypeapplication/vnd.oasis.opendocument.spreadsheet")]),
    ("application/vnd.oasis.opendocument.presentation",
     [(0, b"PK\x03\x04"),
      (30, b"mimetypeapplication/vnd.oasis.opendocument.presentation")]),
    ("application/zip", [(0, b"PK\x03\x04")]),
    ("application/gzip", [(0, bytes.fromhex("1f8b"))]),
    ("application/x-7z-compressed", [(0, bytes.fromhex("377abcaf271c"))]),
    ("application/x-rar-compressed", [(0, b"Rar!")]),
    ("image/tiff", [(0, bytes.fromhex("49492a00"))]),   # little-endian
    ("image/tiff", [(0, bytes.fromhex("4d4d002a"))]),   # big-endian
    ("image/x-icon", [(0, bytes.fromhex("00000100"))]),
    ("audio/mpeg", [(0, b"ID3")]),
    ("audio/ogg", [(0, b"OggS")]),
    ("audio/flac", [(0, b"fLaC")]),
    ("audio/aiff", [(0, b"FORM"), (8, b"AIFF")]),
    ("audio/midi", [(0, b"MThd")]),
    # specific ISO-BMFF brands must outrank the generic ftyp -> mp4 row
    ("image/avif", [(4, b"ftypavif")]),
    ("image/heic", [(4, b"ftypheic")]),
    ("audio/mp4", [(4, b"ftypM4A ")]),
    ("video/quicktime", [(4, b"ftypqt  ")]),
    ("video/mp4", [(4, b"ftyp")]),
    ("video/x-matroska", [(0, bytes.fromhex("1a45dfa3"))]),
    ("application/x-xz", [(0, bytes.fromhex("fd377a585a00"))]),
    ("application/zstd", [(0, bytes.fromhex("28b52ffd"))]),
    ("application/x-bzip2", [(0, b"BZh")]),
    ("application/x-lz4", [(0, bytes.fromhex("04224d18"))]),
    ("application/x-tar", [(257, b"ustar")]),
    ("application/vnd.sqlite3", [(0, b"SQLite format 3\x00")]),
    ("font/woff", [(0, b"wOFF")]),
    ("font/woff2", [(0, b"wOF2")]),
    ("image/jp2", [(0, bytes.fromhex("0000000c6a5020200d0a870a"))]),
    ("application/wasm", [(0, bytes.fromhex("0061736d"))]),
    ("application/java-vm", [(0, bytes.fromhex("cafebabe"))]),
    ("application/vnd.apache.parquet", [(0, b"PAR1")]),
    ("application/vnd.apache.orc", [(0, b"ORC")]),
    ("application/avro", [(0, b"Obj\x01")]),
    ("application/postscript", [(0, b"%!PS")]),
    ("application/rtf", [(0, b"{\\rtf")]),
    ("application/x-elf", [(0, b"\x7fELF")]),
    ("application/xml", [(0, b"<?xml")]),
    ("image/bmp", [(0, b"BM")]),
    ("application/x-msdownload", [(0, b"MZ")]),
]

#: OOXML refinement (Tika's container inspection, expression-only): a zip
#: whose first entry is [Content_Types].xml is an OOXML document; the
#: payload part path ("word/", "xl/", "ppt/") names the concrete type.
#: The path search is a hex-substring scan with an even-position guard so
#: a byte-misaligned hex coincidence cannot match.
_OOXML_TYPES: list[tuple[bytes, str]] = [
    (b"word/", "application/vnd.openxmlformats-officedocument"
               ".wordprocessingml.document"),
    (b"ppt/", "application/vnd.openxmlformats-officedocument"
              ".presentationml.presentation"),
    (b"xl/", "application/vnd.openxmlformats-officedocument"
             ".spreadsheetml.sheet"),
]


def detect_mime_type(c: Column, default: str = "application/octet-stream",
                     rules: list | None = None) -> Column:
    """Magic-byte MIME sniff of a Base64 Text column — pure expressions
    (try_to_binary + hex-substring compares at the signature offsets, so
    container formats like RIFF disambiguate on their subtype bytes).
    NULL input -> NULL; malformed base64 decodes to NULL (try_to_binary)
    and falls back to the default.

    ``rules`` (r9) substitutes the built-in signature table with
    caller-supplied rules ``[(mime, [(offset, bytes), ...]), ...]`` —
    first-match-wins in list order; each rule is the AND of its
    offset-pattern pairs (the ``_MAGIC`` shape). Load Tika's public
    mimetypes XML straight into this via
    ``operators/mime_metadata.load_tika_mimetypes_xml``. The built-in
    table (and the oracle gate that replicates it) is untouched when
    omitted. The expression-level OOXML container refinement (zip +
    first-entry [Content_Types].xml) still applies on top of injected
    rules — it inspects structure, not signatures.

    Codegen shape (r6): the hex payload is bound ONCE as a transform-lambda
    variable (the parse_phone/winnowing lesson — references, not
    re-inlined hex(try_to_binary(...)) trees), and first-match-wins runs as
    a FLAT boolean array + ``array_position`` + one literal mime-array
    lookup instead of a 48-deep nested CaseWhen. The nested chain compiled
    to >64 KB of bytecode in one janino method — a SILENT fall-back to
    interpreted evaluation on every row (found in the r6 driver-sim stderr
    sweep); CreateArray splits its element code into many small methods,
    so the flat form stays inside whole-stage codegen. Priority semantics
    are unchanged: array_position returns the FIRST true index, list order
    is rule order."""
    raw = F.try_to_binary(c, F.lit("base64"))
    table = _MAGIC if rules is None else rules

    def _sniff(hx: Column) -> Column:
        def cond(parts):
            cc = F.lit(True)
            for off, magic in parts:
                cc = cc & (F.substring(hx, 2 * off + 1, 2 * len(magic))
                           == F.lit(magic.hex().upper()))
            return cc

        conds = F.array(*[cond(parts) for _, parts in table])
        mimes = F.array(*[F.lit(m) for m, _ in table])
        idx = F.array_position(conds, F.lit(True))
        out = F.when(idx > 0, F.element_at(mimes, idx.cast("int"))) \
            .otherwise(F.lit(default))

        # OOXML refinement: first-entry [Content_Types].xml marks the
        # family, the payload directory names the concrete member type
        def _contains(needle: bytes):
            pos = F.instr(hx, F.lit(needle.hex().upper()))
            return (pos > 0) & ((pos - 1) % 2 == 0)

        is_zip = F.substring(hx, 1, 8) == F.lit(b"PK\x03\x04".hex().upper())
        first_ct = F.substring(hx, 61, 2 * len(b"[Content_Types].xml")) \
            == F.lit(b"[Content_Types].xml".hex().upper())
        o_conds = F.array(*[_contains(n) for n, _ in _OOXML_TYPES])
        o_mimes = F.array(*[F.lit(m) for _, m in _OOXML_TYPES])
        o_idx = F.array_position(o_conds, F.lit(True))
        ooxml = F.when(o_idx > 0, F.element_at(o_mimes, o_idx.cast("int"))) \
            .otherwise(F.lit("application/vnd.openxmlformats-officedocument"))
        return F.when(is_zip & first_ct, ooxml).otherwise(out)

    out = F.get(F.transform(F.array(F.hex(raw)), _sniff), 0)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(out)


def detect_charset(c: Column) -> Column:
    """Charset sniff of a Base64 Text column (Tika EncodingDetector
    analogue, expression-only): BOMs first (utf-8/utf-16/utf-32), then a
    UTF-8 VALIDITY law — decode(raw,'UTF-8') replaces invalid sequences,
    so ``is_valid_utf8`` decides well-formedness — refined to us-ascii
    when every byte < 0x80; anything else reports windows-1252 (the
    single-byte superset fallback). NULL/undecodable base64 -> NULL."""
    raw = F.try_to_binary(c, F.lit("base64"))
    hx = F.hex(raw)
    # binary->string cast wraps the bytes unvalidated; is_valid_utf8 is the
    # Spark 4 well-formedness check (decode() THROWS on malformed input)
    utf8_valid = F.is_valid_utf8(raw.cast("string"))
    # anchored byte pairs: every byte's high nibble 0-7 <=> all bytes < 0x80
    # (an unanchored scan could match across a byte boundary)
    ascii_only = F.regexp_like(hx, F.lit("^([0-7][0-9A-F])*$"))
    out = (
        F.when(hx.startswith("EFBBBF"), F.lit("utf-8"))
        .when(hx.startswith("FFFE0000"), F.lit("utf-32le"))
        .when(hx.startswith("0000FEFF"), F.lit("utf-32be"))
        .when(hx.startswith("FFFE"), F.lit("utf-16le"))
        .when(hx.startswith("FEFF"), F.lit("utf-16be"))
        .when(ascii_only, F.lit("us-ascii"))
        .when(utf8_valid, F.lit("utf-8"))
        .otherwise(F.lit("windows-1252")))
    return F.when(raw.isNull(), F.lit(None).cast("string")).otherwise(out)
