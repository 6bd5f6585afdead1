"""The index layout's one set of rules: where each piece lives, how rows
are clustered for a write, the version counter, the one writer of the
(id, partition) lookup and the one stage -> commit sequence that upserts
and compactions share.

Under an index root:

* ``data/<partition_col>=<v>/`` — the rows (``build.py`` writes them band
  by band; ``_manifests/`` records the completed bands);
* ``_upserts/<digest>.json`` — one manifest per committed upsert or
  compaction (``.json.pending`` while it commits), next to its
  ``stage-<digest>/`` (new content) and ``backup-<digest>/`` (the
  snapshot it replaced);
* ``_lookup/data/`` + ``_lookup/_state.json`` — the (id, partition)
  projection and the index version it is valid for.

Every file and directory operation goes through ``fsio``, the filesystem
of the data writes.
"""

from __future__ import annotations

import json
import os
import time
from urllib.parse import quote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_osm_queries_spark.index import fsio


def data_path(out_path: str) -> str:
    return os.path.join(out_path, "data")


def upserts_path(out_path: str) -> str:
    return os.path.join(out_path, "_upserts")


def lookup_path(out_path: str) -> str:
    return os.path.join(out_path, "_lookup")


def _lookup_state(out_path: str) -> str:
    return os.path.join(lookup_path(out_path), "_state.json")


def part_dir(root: str, spark: SparkSession, partition_col: str, p) -> str:
    """Partition directory path; prefers the raw value form (the common
    integer columns), falls back to Spark's URL-escaped form."""
    raw = os.path.join(root, f"{partition_col}={p}")
    if fsio.fs_exists(spark, raw):
        return raw
    esc = os.path.join(root, f"{partition_col}={quote(str(p), safe='')}")
    return esc if fsio.fs_exists(spark, esc) else raw


def cluster_for_write(df: DataFrame, partition_col: str, files: Column) -> DataFrame:
    """The clustering every index write goes through (band builds,
    upserts, compactions):

    * rows cluster by cell_y/lat (and any h3/s2 column) inside each
      partition directory so parquet row-group min/max stats prune the
      second dimension too (z-order-lite for a 2D grid);
    * WRITE PARALLELISM: repartition(partition_col) alone serializes a hot
      column into ONE task (measured at 300M rows: a 151M-row column wrote
      single-threaded for 560 s). Salting by source partition modulo
      ``files`` lets up to that many tasks write one directory in
      parallel; rows stay sorted within each file, so row-group pruning is
      unchanged. ``files`` is a column so a compaction can give each
      partition its own file count."""
    sort_cols = [partition_col] + [
        c for c in ("cell_y", "lat", "h3", "s2")
        if c in df.columns and c != partition_col
    ]
    salt = F.pmod(F.spark_partition_id(), files)
    return df.repartition(
        F.col(partition_col), salt.alias("__salt")
    ).sortWithinPartitions(*sort_cols)


def current_version(spark: SparkSession, out_path: str) -> int:
    """0 for a fresh build; +1 per committed upsert or compaction.

    O(1 listing), no manifest parsing: versions are assigned consecutively
    by the single writer and manifests are never deleted (gc FLAGS them,
    keeping lineage), so the committed count IS the current version —
    per-upsert driver overhead stays flat as history grows (code-review
    r5 #3). Corollary: never hand-delete a manifest json; run a rebuild
    instead (the changed-input wipe resets the whole history)."""
    return sum(
        1 for n in fsio.fs_listdir(spark, upserts_path(out_path)) if n.endswith(".json")
    )


def lookup_version(spark: SparkSession, out_path: str) -> int | None:
    """The index version ``_lookup/`` is valid for; None when absent."""
    state = _lookup_state(out_path)
    if not fsio.fs_exists(spark, state):
        return None
    return json.loads(fsio.fs_read_text(spark, state)).get("version")


def sync_lookup(
    spark: SparkSession,
    out_path: str,
    partition_col: str,
    version: int,
    changed: list | None = None,
    surviving=(),
) -> None:
    """Bring ``_lookup/`` to ``version``; the only writer of ``_lookup/``.

    ``changed`` names the partitions whose ids may differ from version - 1
    (an upsert's affected set; [] for a compaction, which moves no id;
    None when unknown, as after a build), ``surviving`` those of them that
    still hold rows. A lookup valid for version - 1 is rewritten in
    exactly the changed partitions (only its stamp moves when there are
    none); any other is rebuilt from ``data/``, when the index has an
    ``id`` column. Runs after the data commit: a crash in between leaves a
    stale stamp, which the next upsert detects and repairs."""
    prev = lookup_version(spark, out_path)
    if prev == version:
        return
    ldata = os.path.join(lookup_path(out_path), "data")
    if changed is not None and prev == version - 1:
        if changed:
            (
                spark.read.parquet(data_path(out_path))
                .select("id", partition_col)
                .filter(F.col(partition_col).isin(changed))
                .repartition(F.col(partition_col))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(ldata)
            )
        for p in changed:
            if p not in surviving:
                fsio.fs_delete(spark, part_dir(ldata, spark, partition_col, p))
    else:
        rows = spark.read.parquet(data_path(out_path))
        if "id" not in rows.columns:
            return
        (
            rows.select("id", partition_col)
            .repartition(F.col(partition_col))
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(ldata)
        )
    fsio.fs_write_text_atomic(
        spark, _lookup_state(out_path), json.dumps({"version": version})
    )


def recover_pending_upserts(spark: SparkSession, out_path: str) -> int:
    """Roll forward any upsert or compaction that crashed mid-commit.
    Idempotent: each partition's bytes are in exactly one of
    data/backup/stage, and every move is re-derivable from the pending
    manifest. Returns the number of commits completed. Also
    garbage-collects orphan stage dirs (a crash DURING the stage write
    leaves no pending manifest — nothing was committed, the replayed
    fingerprint redoes the work).

    Single-writer assumption (same as the band builder): a CONCURRENT
    upsert's in-flight stage would be mistaken for an orphan — serialize
    upserts per index."""
    mdir = upserts_path(out_path)
    names = set(fsio.fs_listdir(spark, mdir))
    recovered = 0
    for name in sorted(names):
        if not name.endswith(".json.pending"):
            continue
        final = name[: -len(".pending")]
        if final in names:  # commit already finalized; stray pending
            fsio.fs_delete(spark, os.path.join(mdir, name))
            continue
        m = json.loads(fsio.fs_read_text(spark, os.path.join(mdir, name)))
        _commit_partitions(spark, out_path, m)
        fsio.fs_rename(spark, os.path.join(mdir, name), os.path.join(mdir, final))
        recovered += 1
    # orphan stages: no pending/final manifest references them
    digests = {n.split(".json")[0] for n in names if ".json" in n}
    for name in fsio.fs_listdir(spark, mdir):
        if name.startswith("stage-") and name[len("stage-"):] not in digests:
            fsio.fs_delete(spark, os.path.join(mdir, name))
    return recovered


def _commit_partitions(spark: SparkSession, out_path: str, m: dict) -> None:
    """The per-partition move loop (idempotent — shared by the normal path
    and crash recovery)."""
    data = data_path(out_path)
    stage = os.path.join(upserts_path(out_path), f"stage-{m['digest']}")
    backup = os.path.join(upserts_path(out_path), f"backup-{m['digest']}")
    pcol = m["partition_col"]
    absent_before = set(map(str, m.get("absent_before", [])))
    surviving = set(map(str, m.get("surviving", [])))
    for p in m["partitions"]:
        sp = str(p)
        # resolve each location's existing directory-name variant
        # independently (raw vs URL-escaped) so recovery after a partial
        # commit finds whichever form each side was written with
        data_dir = part_dir(data, spark, pcol, p)
        backup_dir = part_dir(backup, spark, pcol, p)
        if sp not in absent_before and not fsio.fs_exists(spark, backup_dir):
            if fsio.fs_exists(spark, data_dir):
                fsio.fs_rename(spark, data_dir, backup_dir)
        if sp in surviving and not fsio.fs_exists(spark, data_dir):
            stage_dir = part_dir(stage, spark, pcol, p)
            fsio.fs_rename(spark, stage_dir, data_dir)
    fsio.fs_delete(spark, stage)


def stage_and_commit(
    spark: SparkSession,
    out_path: str,
    rows: DataFrame,
    manifest: dict,
    t0: float,
    changed: list,
) -> dict:
    """Commit ``rows``, the whole new content of ``manifest["partitions"]``,
    as index version ``manifest["version"]``: persist -> count -> stage
    write -> pending manifest -> partition swap -> lookup sync -> final
    manifest -> pending deleted. ``manifest`` carries ``digest``,
    ``version``, ``partition_col`` and ``partitions``; the surviving and
    previously absent partitions and ``rows_written`` are added here.
    ``changed``: the partitions whose ids may have changed (see
    :func:`sync_lookup`). Returns the final manifest."""
    m = manifest
    pcol = m["partition_col"]
    updir = upserts_path(out_path)
    # persist: consumed by the count, the surviving-partition list, AND the
    # stage write — without it the whole pipeline computes three times
    rows = rows.persist()
    try:
        n = rows.count()
        surviving = sorted(r[0] for r in rows.select(pcol).distinct().collect())
        stage = os.path.join(updir, f"stage-{m['digest']}")
        rows.write.mode("overwrite").partitionBy(pcol).parquet(stage)
    finally:
        rows.unpersist()
    data = data_path(out_path)
    m["surviving"] = surviving
    m["absent_before"] = [
        p for p in m["partitions"]
        if not fsio.fs_exists(spark, part_dir(data, spark, pcol, p))
    ]
    m["rows_written"] = n
    mpath = os.path.join(updir, f"{m['digest']}.json")
    pending = mpath + ".pending"
    fsio.fs_write_text_atomic(spark, pending, json.dumps(m))
    _commit_partitions(spark, out_path, m)
    sync_lookup(spark, out_path, pcol, m["version"], changed, surviving)
    m["duration_sec"] = time.time() - t0
    fsio.fs_write_text_atomic(spark, mpath, json.dumps(m))
    fsio.fs_delete(spark, pending)
    return m
