"""H3 index bit-algebra over real H3 ids: the python twins in
tests/h3_oracle.py and their column forms in functions/h3.py.

Anchors: the canonical ids from the H3 documentation/quickstarts —
'8928308280fffff' (res 9) and '85283473fffffff' (res 5) — plus structural
invariants (parent chains, seven-fill, children counts, pentagon rules) and
column-vs-python parity.
"""

import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import h3
from tests import h3_oracle as HO

DOC_RES9 = 0x8928308280FFFFF  # h3 docs quickstart cell (res 9)
DOC_RES5 = 0x85283473FFFFFFF  # h3-py README example (res 5)


def test_documented_ids_parse():
    for h, res in ((DOC_RES9, 9), (DOC_RES5, 5)):
        assert HO.is_valid_py(h), hex(h)
        assert HO.resolution_py(h) == res
        assert 0 <= HO.base_cell_py(h) <= 121
        # digits above res are seven-filled, below are 0..6
        for i in range(1, res + 1):
            assert 0 <= HO.digit_py(h, i) <= 6
        for i in range(res + 1, 16):
            assert HO.digit_py(h, i) == 7


def test_parent_chain():
    h = DOC_RES9
    prev = h
    for r in range(8, -1, -1):
        p = HO.parent_py(h, r)
        assert HO.is_valid_py(p) and HO.resolution_py(p) == r
        assert HO.base_cell_py(p) == HO.base_cell_py(h)
        # digits 1..r unchanged
        for i in range(1, r + 1):
            assert HO.digit_py(p, i) == HO.digit_py(h, i)
        # parent is monotone: parent(child, r) == parent(parent(child, r+1), r)
        assert p == HO.parent_py(prev, r)
        prev = p
    with pytest.raises(ValueError):
        HO.parent_py(DOC_RES5, 9)


def test_center_child_inverts_parent():
    p = HO.parent_py(DOC_RES9, 4)
    c = HO.center_child_py(p, 9)
    assert HO.resolution_py(c) == 9
    assert HO.parent_py(c, 4) == p
    # center child has zero digits below the parent's res
    for i in range(5, 10):
        assert HO.digit_py(c, i) == 0


def test_children_count_and_pentagon():
    assert HO.children_count_py(DOC_RES5, 7) == 49
    # build a pentagon cell: base cell 4 (documented pentagon), all digits 0
    pent = (1 << 59) | (0 << 52) | (4 << 45) | h3._digits_mask(1)
    assert HO.is_valid_py(pent) and HO.is_pentagon_py(pent)
    assert HO.children_count_py(pent, 2) == 1 + 5 * (49 - 1) // 6
    # digit 1 == K axis is invalid under a pentagon
    bad = HO.center_child_py(pent, 1) | (1 << h3._digit_shift(1))
    assert not HO.is_valid_py(bad)
    # ...but fine under a hexagon base cell
    hexa = (1 << 59) | (0 << 52) | (5 << 45) | h3._digits_mask(1)
    ok = HO.center_child_py(hexa, 1) | (1 << h3._digit_shift(1))
    assert HO.is_valid_py(ok)


def test_invalid_shapes():
    assert not HO.is_valid_py(0)
    assert not HO.is_valid_py(DOC_RES9 | (1 << 63))           # high bit
    assert not HO.is_valid_py((DOC_RES9 & ~(0xF << 59)) | (2 << 59))  # edge mode
    # clearing an in-range digit to 0 stays valid (0 is the center child)
    assert HO.is_valid_py(DOC_RES9 & ~(7 << h3._digit_shift(9)))
    # seven-fill violation: set digit 10 (beyond res 9) to 0
    assert not HO.is_valid_py(DOC_RES9 & ~(7 << h3._digit_shift(10)))
    # base cell out of range
    assert not HO.is_valid_py((DOC_RES9 & ~(0x7F << 45)) | (122 << 45))


def test_columns_match_python(spark):
    import random

    rng = random.Random(3)
    ids = [DOC_RES9, DOC_RES5]
    for _ in range(200):
        res = rng.randrange(0, 16)
        bc = rng.randrange(0, 122)
        h = (1 << 59) | (res << 52) | (bc << 45) | h3._digits_mask(res + 1)
        for i in range(1, res + 1):
            h |= rng.randrange(0, 7) << h3._digit_shift(i)
        ids.append(h)
    df = spark.createDataFrame([(i,) for i in ids], "h long")
    rows = df.select(
        "h",
        h3.resolution(F.col("h")).alias("res"),
        h3.base_cell(F.col("h")).alias("bc"),
        h3.parent(F.col("h"), 0).alias("p0"),
    ).collect()
    for r in rows:
        assert r.res == HO.resolution_py(r.h)
        assert r.bc == HO.base_cell_py(r.h)
        if r.res >= 0:
            assert r.p0 == HO.parent_py(r.h, 0)
