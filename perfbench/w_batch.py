"""batch: the spatial operators over a grid-cell index rewritten by
upserts (w_spatial_index) and the dedup operators (w_dedup), as one
rotation of full-table ops. One workload instead of two keeps every run
of the benchmark inside its time budget; per-layer metrics still report
each op on its own.
"""

from __future__ import annotations

from w_dedup import Dedup
from w_spatial_index import SpatialIndex


class Batch:
    name = "batch"

    def __init__(self, ctx):
        self.parts = [SpatialIndex(ctx), Dedup(ctx)]

    def setup(self, rep: int) -> str | None:
        errors = [e for e in (p.setup(rep) for p in self.parts) if e]
        return "; ".join(errors) or None

    def setup_once(self) -> str | None:
        return self.parts[0].setup_once()

    def ops(self):
        return [op for p in self.parts for op in p.ops()]

    def summary(self, recs, window_s):
        return [line for p in self.parts for line in p.summary(recs, window_s)]

    def targeted(self, generic, recs) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in self.parts:
            out.update(p.targeted(generic, recs))
        return out
