"""Natural-sort comparator: parity with /root/reference/src/common/sort.go and
proof that direct value comparison == dictionary-position comparison with the
reference's parse-time next-lower-value rewrites (parser.go:412-444)."""

import functools

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions.natural_sort import natural_cmp, natural_key_py
from tests.oracle import natural_is_less_py


def go_sort(values):
    """Emulate common.Sort: trim + sort under the natural comparator (our
    deterministic total-order refinement)."""

    def cmp(a, b):
        if natural_is_less_py(a, b):
            return -1
        if natural_is_less_py(b, a):
            return 1
        return 0

    return sorted((v.strip() for v in values), key=functools.cmp_to_key(cmp))


# --- sort_test.go parity -----------------------------------------------------


def test_sort_numbers():
    assert go_sort(["12", "1", "2", "10"]) == ["1", "2", "10", "12"]


def test_sort_numbers_with_suffix():
    # "12 ft" has numeric value 12 (digits collected from anywhere, sort.go:78-96)
    assert go_sort(["12 ft", "1 ft", "2 ft", "10 ft"]) == ["1 ft", "2 ft", "10 ft", "12 ft"]


def test_sort_mixed():
    # pure number sorts before equal-valued number-with-text (sort.go:18-25)
    assert go_sort(["1m", "1"]) == ["1", "1m"]
    assert go_sort(["foo", "1", "bar", "2 m"]) == ["1", "2 m", "bar", "foo"]


def test_sort_strings():
    assert go_sort(["b", "a", "c"]) == ["a", "b", "c"]


def test_tag_test_dictionary():
    # the mixed dictionary from /root/reference/src/index/tag_test.go:46-86
    assert go_sort(["10.5", "2.5", "1m", "1.5 m", "1"]) == ["1", "1m", "1.5 m", "2.5", "10.5"]


def test_number_prefix_edge_cases():
    has, num, pure, _ = natural_key_py("a1b2")
    assert has and num == 12.0 and not pure
    has, num, pure, _ = natural_key_py("1.2.3")
    assert not has  # two dots -> not a number (sort.go:106-110)
    has, num, _, _ = natural_key_py("-")
    assert has and num == 0.0  # ParseFloat fails -> 0 (sort.go:42)
    has, _, _, _ = natural_key_py("ft")
    assert not has


# --- Spark column expr == python mirror --------------------------------------

VALUES = ["1", "1m", "1.5 m", "2.5", "10.5", "2", "3", "12 ft", "foo", "bar",
          "a1b2", "1.2.3", "-", ".", "0", "-5", "site 42", ""]
LITERALS = ["2.5", "2", "1m", "1", "10", "foo", "12 ft", "0", "-1", "zzz"]


@pytest.mark.parametrize("op", [">", ">=", "<", "<="])
def test_spark_expr_matches_python(spark, op):
    df = spark.createDataFrame(pd.DataFrame({"v": VALUES}))
    for lit in LITERALS:
        got = {
            r.v: bool(r.res)
            for r in df.select("v", natural_cmp(F.col("v"), op, lit).alias("res")).collect()
        }
        for v in VALUES:
            expected = _py_cmp(v, op, lit)
            assert got[v] == expected, f"{v!r} {op} {lit!r}: spark={got[v]} py={expected}"


def _py_cmp(v, op, lit):
    v, lit = v.strip(), lit.strip()
    if op == "<":
        return natural_is_less_py(v, lit)
    if op == ">":
        return natural_is_less_py(lit, v)
    if op == "<=":
        return natural_is_less_py(v, lit) or v == lit
    return natural_is_less_py(lit, v) or v == lit


# --- equivalence with dictionary-position + next-lower rewrite ---------------


def next_lower_index(sorted_values, literal):
    """tag.go GetNextLowerValueIndexForKey: largest index whose value is
    strictly less than the literal under the natural order."""
    best = None
    for i, v in enumerate(sorted_values):
        if natural_is_less_py(v, literal):
            best = i
    return best


def position_compare(sorted_values, feature_value, op, literal):
    """The reference pipeline: bind literal to a dictionary position with the
    parser rewrite (parser.go:412-444), then compare positions (filter.go:117-124)."""
    fpos = sorted_values.index(feature_value)
    if literal in sorted_values:
        vpos = sorted_values.index(literal)
    else:
        lower = next_lower_index(sorted_values, literal)
        if lower is None:
            vpos = 0
            if op == ">":
                op = ">="
            elif op == "<=":
                op = "<"
        else:
            vpos = lower
            if op == ">=":
                op = ">"
            elif op == "<":
                op = "<="
    return {
        ">": fpos > vpos,
        ">=": fpos >= vpos,
        "<": fpos < vpos,
        "<=": fpos <= vpos,
    }[op]


@pytest.mark.parametrize("op", [">", ">=", "<", "<="])
def test_direct_compare_equals_position_compare(op):
    dictionary = go_sort(["10.5", "2.5", "1m", "1.5 m", "1", "2", "3", "4"])
    literals = ["2.5", "2.7", "0", "-1", "99", "1m", "1", "1.5 m", "3.5"]
    for v in dictionary:
        for lit in literals:
            direct = _py_cmp(v, op, lit)
            positional = position_compare(dictionary, v, op, lit)
            assert direct == positional, f"{v!r} {op} {lit!r}: direct={direct} positional={positional}"
