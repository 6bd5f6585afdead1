"""Hypothesis fuzz: the Spark column comparison must agree with the Python
mirror on arbitrary ASCII-ish strings (a second, independent implementation
of sort.go semantics)."""

import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions.natural_sort import natural_cmp
from tests.oracle import natural_is_less_py

_ALPHABET = "abz019.- m"
strings = st.text(alphabet=_ALPHABET, min_size=0, max_size=8)


def _py_cmp(v, op, lit):
    v, lit = v.strip(), lit.strip()
    if op == "<":
        return natural_is_less_py(v, lit)
    if op == ">":
        return natural_is_less_py(lit, v)
    if op == "<=":
        return natural_is_less_py(v, lit) or v == lit
    return natural_is_less_py(lit, v) or v == lit


# one Spark round-trip per hypothesis example would be minutes; instead draw
# a batch of values up front and check the whole cartesian set in one job
@settings(max_examples=5, deadline=None)
@given(st.lists(strings, min_size=30, max_size=30, unique=True))
def test_spark_cmp_matches_python_fuzz(spark, values):
    df = spark.createDataFrame(pd.DataFrame({"v": values}))
    literals = values[:8]
    exprs = []
    names = []
    for i, lit in enumerate(literals):
        for op in (">", ">=", "<", "<="):
            exprs.append(natural_cmp(F.col("v"), op, lit).alias(f"c{i}_{op}"))
            names.append((f"c{i}_{op}", op, lit))
    rows = df.select("v", *exprs).collect()
    for r in rows:
        for col, op, lit in names:
            assert bool(r[col]) == _py_cmp(r.v, op, lit), (r.v, op, lit)
