"""Deterministic sampling for training-data pipelines.

`df.sample()` draws from a partition-dependent RNG stream: the selected
rows change with partitioning, task retries, and cluster size — unusable
for reproducible dataset curation at 100 TB (a retried task silently swaps
the sample). These operators hash ROW CONTENT instead, so membership is a
pure function of the row: stable under repartitioning, retries, resumes,
and engine version — and reproducible in ANSI SQL for the oracle twin.

* ``deterministic_sample`` — keep rows whose md5-derived uniform in [0,1)
  falls below ``rate`` (salt separates independent samples of the same
  table) — one pass, no shuffle: sampling is a filter, never an exchange;
* ``split``               — disjoint train/validation/test assignment from
  the same hash (fractions sum to <= 1; rows beyond the sum are dropped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# md5 hex chars 1..13 -> 52 bits -> exact double in [0, 1): every value is
# a dyadic rational, so the comparison against a rate is reproducible
# bit-for-bit in any IEEE engine (the DuckDB twin recomputes it verbatim)
_DENOM = float(1 << 52)


def hash_uniform(key: Column, salt: str = "") -> Column:
    """Deterministic uniform in [0,1) from row content (md5-based).
    Use integer/string keys: the cast-to-string of floats may differ
    between engines, breaking oracle parity (ids are the natural key)."""
    h = F.md5(F.concat_ws("\x1f", key.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(_DENOM)


def deterministic_sample(
    df: DataFrame, rate: float, key: str, salt: str = ""
) -> DataFrame:
    """Keep ~rate of rows, membership a pure function of df[key] + salt."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return df.filter(hash_uniform(F.col(key), salt) < F.lit(rate))


def split(df: DataFrame, fractions: dict, key: str) -> DataFrame:
    """Disjoint named splits from one hash: adds a ``split`` column, drops
    rows beyond sum(fractions). fractions: {'train': .8, 'val': .1, ...}."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-12:
        raise ValueError(f"fractions sum to {total} > 1")
    u = hash_uniform(F.col(key))
    acc = 0.0
    conds = []
    for name, frac in fractions.items():
        conds.append((acc, acc + frac, name))
        acc += frac
    expr = F.lit(None).cast("string")
    for lo, hi, name in reversed(conds):
        expr = F.when((u >= F.lit(lo)) & (u < F.lit(hi)), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr).filter(F.col("split").isNotNull())
