"""Dedup operators over generated documents with planted duplicate
triplets: the Arrow-UDF boundary, the LSH bucket self-join and the pair
aggregate. No spatial work.

Every group of three consecutive ids shares its text up to a one-word
tail, and groups share nothing else, so the exact answer of every op is a
closed form of the grouping: the within-group pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import oracles as O

SIZES = {
    "full": dict(docs=6_000),
    "tiny": dict(docs=600),
}
WORDS, VOCAB = 20, 5_000
OPS = ["dedup.minhash"]
PLAN_OPS = {"dedup.minhash": "minhash"}


def gen_docs(rng, n: int) -> list[str]:
    groups = (n + 2) // 3
    words = rng.integers(0, VOCAB, size=(groups, WORDS))
    return [" ".join(f"w{w}" for w in words[i // 3]) + f" t{i % 3}" for i in range(n)]


class Dedup:
    name = "dedup"

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.frames: list = []
        self.pairs_found: dict[str, int] = {}  # op id -> pairs the call returned

    def setup(self, rep: int) -> str | None:
        from pyspark.sql import functions as F

        ctx, spark, s = self.ctx, self.ctx.spark, self.size
        self.F = F
        rng = np.random.default_rng([ctx.seed, 3])
        docs = gen_docs(rng, s["docs"])
        for df in self.frames:
            df.unpersist()
        self.docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(s["docs"], dtype=np.int64), "text": docs}))
        self.frames = [self.docs.cache()]
        self.docs.count()
        self.want = {"minhash": O.pair_checksum(np.arange(s["docs"]) // 3)}
        return None

    def ops(self):
        return [(label, getattr(self, "op_" + label.split(".")[1])) for label in OPS]

    def _pairs(self, name, df):
        """Reduce a pair table to (count, checksum) and release its caches."""
        from simple_osm_queries_spark.caching import unpersist_intermediates

        F = self.F
        a, b = F.col("id_a"), F.col("id_b")
        row = df.agg(F.count("*").alias("n"), F.sum(
            F.least(a, b) * F.lit(1 << 20) + F.greatest(a, b)).alias("s")).first()
        unpersist_intermediates(df)
        got, want = (row.n, row.s or 0), self.want[name]
        self.pairs_found[self.ctx.current_op] = row.n
        return lambda: None if got == want else f"{name}: pairs (count, checksum) {got} != {want}"

    def op_minhash(self):
        from simple_osm_queries_spark.operators import dedup

        return self.size["docs"], self._pairs(
            "minhash", dedup.minhash_near_dups(self.docs, threshold=0.5))

    # ------------------------------------------------------------ metrics

    @staticmethod
    def rows_per_s(recs) -> tuple[float, int]:
        mine = [r for r in recs if r.kind in OPS]
        busy = sum(r.t1 - r.t0 for r in mine)
        return sum(r.rows for r in mine) / busy if busy else 0.0, len(mine)

    def summary(self, recs, window_s):
        rate, n = self.rows_per_s(recs)
        return [f"dedup rows_per_s = {rate:.6g} rows/s (input rows / op wall, n={n})"]

    def targeted(self, generic, recs) -> dict[str, float]:
        from harness import count_nodes, join_rows

        reader = self.ctx.reader
        out = {"batch.dedup_rows_per_s": self.rows_per_s([r for r in recs if not r.traced])[0]}
        for label, op in PLAN_OPS.items():
            g = generic.get(label)
            if not g:
                continue
            first = g["_sample"][0]
            nodes = reader.plan_nodes(first.op_id)
            out[f"plan.smj.{op}"] = count_nodes(nodes, "SortMergeJoin")
            out[f"plan.shj.{op}"] = count_nodes(nodes, "ShuffledHashJoin")
            if op == "minhash":
                found = self.pairs_found.get(first.op_id, 0)
                out["minhash.candidates_per_pair"] = max(join_rows(nodes), default=0) / max(1, found)
        return out
