"""Small-file compaction for the cell-partitioned index.

Frequent small upserts fragment partition directories (every upsert
rewrites an affected partition into up to ``files_per_cell`` files, and a
partition touched by many diffs accumulates write-salt fan-out); the
reference cannot hit this because its grid is write-once
(/root/reference/src/importing/import.go:17-163 — no maintenance ops
exist there at all). At 100 TB, un-compacted small files tax every scan:
open cost per file, row-group stats too small to prune, task scheduling
per split.

``compact_index`` rewrites only the offending partition directories into
``ceil(bytes / target_file_bytes)`` files each and commits through the
SAME stage -> commit sequence as ``upsert_index``
(``layout.stage_and_commit``) — so a compaction

* is crash-safe (a pending manifest rolls forward via
  ``recover_pending_upserts``, bytes live in exactly one of
  data/backup/stage at every instant),
* bumps the index version and retains the pre-compaction snapshot
  (``read_index_version`` reassembles older versions through the backup,
  ``gc_snapshots`` bounds retention),
* leaves untouched partitions byte-identical,
* preserves the id->partition mapping, so a valid ``_lookup/``
  projection stays valid — only its version stamp is advanced (no data
  rewrite; a stale one is rebuilt, as an upsert would).

Planning cost: one Hadoop ``listStatus`` per partition directory on the
driver — the same O(partitions) metadata pass the reference's extent
planner does per import (import.go:167-233), and the only driver-side
loop in the operator. The rewrite itself is one partition-pruned scan +
one clustered write through ``cluster_for_write``, its salt modulus the
partition's own target file count (broadcast plan join), so the
per-partition file counts hold and parquet row-group pruning (cell_y/lat
min-max) survives compaction.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from urllib.parse import unquote

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from simple_osm_queries_spark.index import fsio
from simple_osm_queries_spark.index.layout import (
    cluster_for_write,
    current_version,
    data_path,
    recover_pending_upserts,
    stage_and_commit,
)

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def compaction_plan(
    spark: SparkSession,
    out_path: str,
    partition_col: str = "cell_x",
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_files: int = 2,
) -> list[dict]:
    """Partitions worth compacting: >= ``min_files`` data files AND more
    files than ``ceil(bytes / target_file_bytes)``. Returns
    [{"partition", "n_files", "bytes", "target_files"}], worst offenders
    (most excess files) first."""
    if target_file_bytes <= 0:
        raise ValueError(f"target_file_bytes must be > 0, got {target_file_bytes}")
    data = data_path(out_path)
    prefix = f"{partition_col}="
    plan = []
    for name in fsio.fs_listdir(spark, data):
        if not name.startswith(prefix):
            continue
        files = [
            (f, sz)
            for f, sz in fsio.fs_list_files(spark, os.path.join(data, name))
            if not f.startswith(("_", "."))
        ]
        if len(files) < min_files:
            continue
        total = sum(sz for _, sz in files)
        target = max(1, math.ceil(total / target_file_bytes))
        if len(files) > target:
            raw = unquote(name[len(prefix):])
            value: object = int(raw) if raw.lstrip("-").isdigit() else raw
            plan.append(
                {
                    "partition": value,
                    "n_files": len(files),
                    "bytes": total,
                    "target_files": target,
                }
            )
    plan.sort(key=lambda e: e["n_files"] - e["target_files"], reverse=True)
    return plan


def compact_index(
    spark: SparkSession,
    out_path: str,
    partition_col: str = "cell_x",
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_files: int = 2,
    max_partitions: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Compact the planned partitions (optionally capped to the
    ``max_partitions`` worst offenders per run — bounded-cost maintenance
    ticks). Returns a report; ``dry_run`` returns the plan without
    touching bytes. Single-writer, like upserts."""
    t0 = time.time()
    recover_pending_upserts(spark, out_path)
    plan = compaction_plan(
        spark, out_path, partition_col, target_file_bytes, min_files
    )
    if max_partitions is not None:
        plan = plan[:max_partitions]
    report = {
        "partitions": len(plan),
        "files_before": sum(e["n_files"] for e in plan),
        "files_target": sum(e["target_files"] for e in plan),
        "bytes": sum(e["bytes"] for e in plan),
        "rows_written": 0,
        "version": None,
        "dry_run": dry_run,
        "plan": plan,
        "t_sec": 0.0,
    }
    if dry_run or not plan:
        report["t_sec"] = time.time() - t0
        return report

    version = current_version(spark, out_path) + 1
    parts = [e["partition"] for e in plan]
    digest = hashlib.sha256(
        f"compact-v{version}:{','.join(map(str, sorted(map(str, parts))))}".encode()
    ).hexdigest()[:24]

    df = spark.read.parquet(data_path(out_path)).filter(F.col(partition_col).isin(parts))
    # per-partition file-count targets ride a broadcast plan join: the
    # write salt takes each partition's own target instead of one global
    # files_per_cell
    ptype = df.schema[partition_col].dataType.simpleString()
    tmap = spark.createDataFrame(
        [(e["partition"], e["target_files"]) for e in plan],
        f"{partition_col} {ptype}, __tf int",
    )
    rows = cluster_for_write(
        df.join(F.broadcast(tmap), partition_col), partition_col, F.col("__tf")
    ).drop("__tf")
    # ids never move partitions in a compaction: the lookup keeps its rows
    # and only its version stamp advances
    m = stage_and_commit(
        spark, out_path, rows,
        {
            "digest": digest,
            "version": version,
            "kind": "compact",
            "delta_fingerprint": f"compact-v{version}",
            "partition_col": partition_col,
            "partitions": parts,
        },
        t0, changed=[],
    )
    report["rows_written"] = m["rows_written"]
    report["version"] = version
    report["t_sec"] = time.time() - t0
    return report
