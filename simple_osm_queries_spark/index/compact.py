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
SAME staged backup/rename protocol as ``upsert_index`` — so a compaction

* is crash-safe (a pending manifest rolls forward via
  ``recover_pending_upserts``, bytes live in exactly one of
  data/backup/stage at every instant),
* bumps the index version and retains the pre-compaction snapshot
  (``read_index_version`` reassembles older versions through the backup,
  ``gc_snapshots`` bounds retention),
* leaves untouched partitions byte-identical,
* preserves the id->partition mapping, so the maintained ``_lookup/``
  projection stays valid — only its version stamp is advanced (no data
  rewrite).

Planning cost: one Hadoop ``listStatus`` per partition directory on the
driver — the same O(partitions) metadata pass the reference's extent
planner does per import (import.go:167-233), and the only driver-side
loop in the operator. The rewrite itself is one partition-pruned scan +
one clustered write; per-partition file counts are enforced by salting
``spark_partition_id`` modulo each partition's own target (broadcast
plan join), keeping the ``cluster_for_write`` sort discipline so parquet
row-group pruning (cell_y/lat min-max) survives compaction.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from urllib.parse import unquote

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from simple_osm_queries_spark.index import fsio
from simple_osm_queries_spark.index.upsert import (
    _commit_partitions,
    _data_path,
    _lookup_dir,
    _updir,
    current_version,
    recover_pending_upserts,
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
    data = _data_path(out_path)
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

    cur_version = current_version(spark, out_path)
    version = cur_version + 1
    parts = [e["partition"] for e in plan]
    digest = hashlib.sha256(
        f"compact-v{version}:{','.join(map(str, sorted(map(str, parts))))}".encode()
    ).hexdigest()[:24]

    data_path = _data_path(out_path)
    index_df = spark.read.parquet(data_path)
    df = index_df.filter(F.col(partition_col).isin(parts))
    # per-partition file-count targets ride a broadcast plan join; the salt
    # bounds writer tasks per directory exactly like cluster_for_write,
    # with each partition's own target instead of one global files_per_cell
    ptype = df.schema[partition_col].dataType.simpleString()
    tmap = spark.createDataFrame(
        [(e["partition"], e["target_files"]) for e in plan],
        f"{partition_col} {ptype}, __tf int",
    )
    sort_cols = [partition_col] + [
        c for c in ("cell_y", "lat", "h3", "s2")
        if c in df.columns and c != partition_col
    ]
    clustered = (
        df.join(F.broadcast(tmap), partition_col)
        .withColumn("__salt", F.pmod(F.spark_partition_id(), F.col("__tf")))
        .repartition(F.col(partition_col), F.col("__salt"))
        .sortWithinPartitions(*sort_cols)
        .drop("__tf", "__salt")
    ).persist()
    n = clustered.count()
    stage = os.path.join(_updir(out_path), f"stage-{digest}")
    clustered.write.mode("overwrite").partitionBy(partition_col).parquet(stage)
    clustered.unpersist()

    manifest = {
        "digest": digest,
        "version": version,
        "kind": "compact",
        "delta_fingerprint": f"compact-v{version}",
        "partition_col": partition_col,
        "partitions": list(parts),
        "surviving": sorted(parts, key=str),
        "absent_before": [],
        "rows_written": n,
    }
    mdir = _updir(out_path)
    fsio.fs_mkdirs(spark, mdir)
    mpath = os.path.join(mdir, f"{digest}.json")
    pending = mpath + ".pending"
    fsio.fs_write_text_atomic(spark, pending, json.dumps(manifest))
    _commit_partitions(spark, out_path, manifest)

    # ids never move partitions in a compaction — advance the lookup stamp
    # in place (no data rewrite); a stale/missing stamp stays as-is and the
    # next upsert bootstraps honestly
    state_path = os.path.join(_lookup_dir(out_path), "_state.json")
    if fsio.fs_exists(spark, state_path):
        state = json.loads(fsio.fs_read_text(spark, state_path))
        if state.get("version") == cur_version:
            fsio.fs_write_text_atomic(
                spark, state_path, json.dumps({"version": version})
            )

    manifest["duration_sec"] = time.time() - t0
    fsio.fs_write_text_atomic(spark, mpath, json.dumps(manifest))
    fsio.fs_delete(spark, pending)
    report["rows_written"] = n
    report["version"] = version
    report["t_sec"] = time.time() - t0
    return report
