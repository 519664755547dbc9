"""Generator determinism: the same seed gives byte-identical inputs, another
seed different inputs of the same sizes."""
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402


@pytest.mark.parametrize("make,size", [(gen.model_inputs, 1_000),
                                       (gen.curate_inputs, 300)])
def test_seeded_inputs(make, size, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    ta, tb, tc = make(a, 5, size), make(b, 5, size), make(c, 6, size)
    assert gen.tree_digest(a) == gen.tree_digest(b) and ta == tb
    assert gen.tree_digest(a) != gen.tree_digest(c)
    assert gen.table_sizes(a) == gen.table_sizes(c)


def test_model_inputs_sizes(tmp_path):
    t = gen.model_inputs(str(tmp_path), 1, 1_000)
    assert t.n_raw == gen.RAW_ROWS_PER_KEY * 1_000
    assert len(os.listdir(tmp_path / "raw")) == gen.RAW_FILES
    assert t.n_with_condition == 970 and 0.2 < t.positive_frac < 0.5


def test_curate_plants(tmp_path):
    t = gen.curate_inputs(str(tmp_path), 3, n_clean=300)
    copies = [c for g in t.exact_groups + t.near_chains for c in g[1:]]
    ids = set(t.low_quality) | set(copies)
    assert len(ids) == len(t.low_quality) + len(copies)
    assert len(copies) == 30
    # ids grow along every group and chain (min-id survivors), and some
    # chain is deeper than one copy, so its near-duplicate graph has a
    # diameter above 1
    assert all(g == sorted(g) for g in t.exact_groups + t.near_chains)
    assert max(len(c) for c in t.near_chains) > 2
    assert 0 < t.distinct_word_frac < 1


def test_components():
    from perfbench.curate import _components
    sizes, diameters = _components([(1, 2), (2, 3), (3, 4), (7, 8), (1, 3)])
    assert sorted(zip(sizes, diameters)) == [(2, 1), (4, 2)]
