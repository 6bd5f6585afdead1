"""Tag dictionary build + reference-format text persistence (A2, S8).

The reference builds a key->values dictionary over every object during
import pass 1 (/root/reference/src/index/tag.go:43-98), natural-sorts each
key's values (tag.go:58-67) and persists one `key=v1|v2|...` line per key
with `$$EQUAL$$`/`$$PIPE$$`/`$$NEWLINE$$` escaping (tag.go:148-152,304-308).

Our engine does not NEED the dictionary (filters compare decoded values
directly), but it is part of the reference's API surface — queries against a
reference-built index can be interop-checked, and the dictionary doubles as
the distinct-tag statistics table (useful for planning).

Build is distributed: explode tags -> distinct (hash-partitionable); only
the (small) distinct set is collected for the natural sort.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions.natural_sort import natural_is_less_py

# Escaping mirrors the reference EXACTLY (tag.go:301-317 write,
# tag.go:147-153 load): keys are written UNESCAPED; each value escapes only
# '|', then '\n' and '=' are escaped on the JOINED value string. A key
# containing '=' therefore truncates at the first '=' on load — reference
# behavior (SplitN(line, "=", 2)), preserved for file-level interop.


def _natural_sorted(values: list[str]) -> list[str]:
    def cmp(a: str, b: str) -> int:
        if natural_is_less_py(a, b):
            return -1
        if natural_is_less_py(b, a):
            return 1
        return 0

    return sorted((v.strip() for v in values), key=functools.cmp_to_key(cmp))


def build_tag_index(*tag_dfs: DataFrame) -> dict[str, list[str]]:
    """Distinct (key, value) pairs over any number of tables carrying a
    ``tags`` map column; values natural-sorted per key."""
    distinct = None
    for df in tag_dfs:
        kv = df.select(F.explode("tags").alias("k", "v"))
        distinct = kv if distinct is None else distinct.unionByName(kv)
    assert distinct is not None
    rows = (
        distinct.distinct()
        .groupBy("k")
        .agg(F.collect_list("v").alias("vs"))
        .collect()
    )
    return {r.k: _natural_sorted(list(r.vs)) for r in rows}


def save_tag_index(index: dict[str, list[str]], path: str) -> None:
    with open(path, "w") as f:
        for key in sorted(index):
            values = "|".join(v.replace("|", "$$PIPE$$") for v in index[key])
            values = values.replace("\n", "$$NEWLINE$$").replace("=", "$$EQUAL$$")
            f.write(f"{key}={values}\n")
