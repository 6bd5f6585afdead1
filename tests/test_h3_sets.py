"""H3 compact/uncompact set operations vs independent python oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd

from simple_osm_queries_spark.functions import h3 as H
from simple_osm_queries_spark.functions import h3_encode as E
from tests import h3_oracle as HO
from simple_osm_queries_spark.operators import h3_sets as S


def _children_py(h: int, res: int) -> list[int]:
    """All children one level down (python oracle)."""
    digits = (0, 2, 3, 4, 5, 6) if HO.is_pentagon_py(h) else tuple(range(7))
    shift = H._digit_shift(res)
    base = (h & ~(0xF << 52) & ~(7 << shift)) | (res << 52)
    return [base | (d << shift) for d in digits]


def _uncompact_py(cells: list[int], res: int) -> set[int]:
    out = set()
    stack = list(cells)
    while stack:
        c = stack.pop()
        r = HO.resolution_py(c)
        if r == res:
            out.add(c)
        else:
            stack.extend(_children_py(c, r + 1))
    return out


def _cells_fixture(res: int) -> list[int]:
    # encoder-produced real cells over a mixed region incl. a pentagon area
    lon = np.concatenate([np.linspace(9.8, 10.3, 40), np.linspace(10.0, 11.5, 30)])
    lat = np.concatenate([np.linspace(53.4, 53.9, 40), np.linspace(63.8, 65.5, 30)])
    return sorted(set(E.lnglat_to_cell(lon, lat, res).view(np.int64).tolist()))


def _df(spark, cells):
    return spark.createDataFrame(pd.DataFrame({"cell": np.array(cells, dtype=np.int64)}))


def test_uncompact_matches_python_oracle(spark):
    cells = _cells_fixture(4)
    got = {r.cell for r in S.uncompact_cells(_df(spark, cells), 6).collect()}
    want = _uncompact_py(cells, 6)
    assert got == want
    # counts: hexagons contribute 49, any pentagon fewer
    assert len(got) <= 49 * len(cells)


def test_compact_inverts_uncompact(spark):
    cells = _cells_fixture(5)
    u = S.uncompact_cells(_df(spark, cells), 7)
    back = {r.cell for r in S.compact_cells(u).collect()}
    assert back == set(cells)


def test_compact_partial_families_stay(spark):
    # remove one child from one family: that family must NOT compact
    cells = _cells_fixture(5)[:4]
    u = sorted({r.cell for r in S.uncompact_cells(_df(spark, cells), 6).collect()})
    dropped = u[1:]  # drop one child
    back = {r.cell for r in S.compact_cells(_df(spark, dropped)).collect()}
    # the parent of the dropped child must not appear
    victim_parent = HO.parent_py(u[0], 5)
    assert victim_parent not in back
    # every remaining sibling of the victim family survives uncompacted
    siblings = {c for c in u[1:] if HO.parent_py(c, 5) == victim_parent}
    assert siblings <= back
    # the other families compact back to their parents
    others = {HO.parent_py(c, 5) for c in dropped} - {victim_parent}
    assert others <= back


def test_pentagon_family_size(spark):
    # a real pentagon cell (base cell 4's center child chain) expands to 6
    pent0 = (1 << 59) | (0 << 52) | (4 << 45) | H._digits_mask(1)
    assert HO.is_pentagon_py(pent0)
    got = S.uncompact_cells(_df(spark, [pent0]), 1).collect()
    assert len(got) == 6
    back = {r.cell for r in S.compact_cells(_df(spark, [r.cell for r in got])).collect()}
    assert back == {pent0}


def test_mixed_resolution_input(spark):
    # mixed-res set: a res-3 cell + the res-4 children of a NEIGHBOR cell
    a, b = _cells_fixture(3)[:2]
    kids_b = _children_py(b, 4)
    mixed = [a] + kids_b
    u = {r.cell for r in S.uncompact_cells(_df(spark, mixed), 5).collect()}
    assert u == _uncompact_py(mixed, 5)
    back = {r.cell for r in S.compact_cells(_df(spark, mixed)).collect()}
    assert back == {a, b}


def test_uncompact_rejects_finer_input(spark):
    import pytest as _pytest

    cells = _cells_fixture(5)[:2]
    with _pytest.raises(ValueError, match="coarser than an input cell"):
        S.uncompact_cells(_df(spark, cells), 4).collect()


def test_compact_cells_py_matches_distributed(spark):
    """The plan-time numpy compaction and the distributed DataFrame
    operator implement the same spec — cross-validate them on mixed,
    partially-complete family sets (incl. pentagon-region cells)."""
    cells = _cells_fixture(5)
    u = sorted({r.cell for r in S.uncompact_cells(_df(spark, cells), 6).collect()})
    for drop in (0, 1, 7):  # complete, one-missing, several-missing
        subset = u[drop:]
        dist = {r.cell for r in S.compact_cells(_df(spark, subset)).collect()}
        local = set(HO.compact_cells_py(subset))
        assert dist == local, f"drop={drop}"


