"""S2 compact/uncompact vs python oracles over real encoded cells."""

from __future__ import annotations

import numpy as np
import pandas as pd

from simple_osm_queries_spark.functions import s2 as S2
from simple_osm_queries_spark.operators import s2_sets as SS
from tests.cell_oracle import cell_level


def _children_py(c: int) -> list[int]:
    lsb = c & (~c + (1 << 64)) & ((1 << 64) - 1) if c < 0 else c & -c
    c_u = c & ((1 << 64) - 1)
    lsb = c_u & (-c_u & ((1 << 64) - 1))
    q = lsb >> 2
    kids = [(c_u - lsb + (2 * k + 1) * q) & ((1 << 64) - 1) for k in range(4)]
    return [k - (1 << 64) if k >= (1 << 63) else k for k in kids]


def _uncompact_py(cells, level):
    out = set()
    stack = list(cells)
    while stack:
        c = stack.pop()
        lv = int(cell_level(np.array([c]).astype(np.int64).view(np.uint64))[0])
        if lv == level:
            out.add(c)
        else:
            stack.extend(_children_py(c))
    return out


def _cells_fixture(level):
    rng = np.random.default_rng(8)
    lon = rng.uniform(-180, 180, 60)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 60)))  # incl. faces 4/5
    return sorted(set(S2.to_signed(S2.lnglat_to_cell(lon, lat, level)).tolist()))


def _df(spark, cells):
    return spark.createDataFrame(pd.DataFrame({"cell": np.array(cells, dtype=np.int64)}))


def test_uncompact_matches_python(spark):
    cells = _cells_fixture(6)
    got = {r.cell for r in SS.uncompact_cells(_df(spark, cells), 8).collect()}
    assert got == _uncompact_py(cells, 8)
    assert len(got) == 16 * len(cells)


def test_compact_inverts_uncompact(spark):
    cells = _cells_fixture(7)
    u = SS.uncompact_cells(_df(spark, cells), 9)
    back = {r.cell for r in SS.compact_cells(u).collect()}
    assert back == set(cells)


def test_compact_partial_families_stay(spark):
    cells = _cells_fixture(7)[:3]
    u = sorted({r.cell for r in SS.uncompact_cells(_df(spark, cells), 8).collect()})
    dropped = u[1:]
    back = {r.cell for r in SS.compact_cells(_df(spark, dropped)).collect()}
    victim_parent = int(
        S2.to_signed(S2.parent_id(np.array([u[0]]).astype(np.int64).view(np.uint64), 7))[0]
    )
    assert victim_parent not in back
    others = {
        int(S2.to_signed(S2.parent_id(np.array([c]).astype(np.int64).view(np.uint64), 7))[0])
        for c in dropped
    } - {victim_parent}
    assert others <= back


def test_uncompact_rejects_finer_input(spark):
    import pytest as _pytest

    cells = _cells_fixture(7)[:2]
    with _pytest.raises(ValueError, match="coarser than an input cell"):
        SS.uncompact_cells(_df(spark, cells), 6).collect()
