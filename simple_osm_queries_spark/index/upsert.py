"""Partition-scoped incremental upsert into the cell-partitioned index,
with a SNAPSHOT-RETAINING commit protocol and versioned reads.

The reference can only re-import from scratch (/root/reference/src/
importing/import.go:17-163 — the grid is write-once); at 100 TB a full
rebuild for a daily OSM diff is absurd. This module maintains the layout
``index/build.py`` writes WITHOUT an external table format: an upsert
rewrites exactly the partition directories its delta touches and records
an atomic manifest for lineage.

Semantics (OSM-diff shaped):
* a delta row REPLACES the stored row with the same id (tags changed,
  position changed — including across partitions);
* unseen ids are inserts;
* ``deletes`` removes ids entirely.

Commit protocol (closes the r4 durability window where a crash inside the
dynamic-overwrite swap could lose survivor rows unrecoverably):

1. the post-upsert content of every affected partition is written to a
   STAGE directory (``_upserts/stage-<digest>/``) while ``data/`` is
   untouched;
2. a PENDING manifest (``_upserts/<digest>.json.pending``) records the
   plan: affected partitions, survivors, which partitions did not exist
   before;
3. per partition: rename ``data/<p>`` -> ``_upserts/backup-<digest>/<p>``,
   then rename ``stage/<p>`` -> ``data/<p>`` (pure metadata moves through
   the Hadoop FileSystem API — HDFS/S3-safe, ADVICE r4 #1);
4. the manifest is renamed to final (``<digest>.json``), versioned.

Every state is recoverable: a crash at any point leaves each partition's
bytes in exactly one of data/backup/stage, and
:func:`recover_pending_upserts` (run automatically at the start of every
upsert) rolls the commit FORWARD idempotently. The backup directory IS the
previous snapshot: :func:`read_index_version` ``(spark, out_path, N)``
reassembles any retained historical version (poor-man's time travel,
VERDICT r4 #8); :func:`gc_snapshots` bounds retention.

Readers concurrent with a commit can see a torn view for the few seconds
of metadata moves (same caveat as any non-transactional table format);
replaying the same fingerprint after a crash converges.

Moved/deleted rows live in partitions the delta's own partition values do
not name, so affected partitions are found by an id lookup against the
stored index. By default the upsert MAINTAINS that (id, partition)
projection as a compact partitioned table under ``_lookup/`` (bootstrapped
on first use, partition-scoped updates after every commit, version-stamped
so staleness is detected and falls back to the honest two-column scan).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_osm_queries_spark.index import fsio


def _updir(out_path: str) -> str:
    return os.path.join(out_path, "_upserts")


def _data_path(out_path: str) -> str:
    return os.path.join(out_path, "data")


def _lookup_dir(out_path: str) -> str:
    return os.path.join(out_path, "_lookup")


def _part_dir(root: str, spark: SparkSession, partition_col: str, p) -> str:
    """Partition directory path; prefers the raw value form (the common
    integer columns), falls back to Spark's URL-escaped form."""
    raw = os.path.join(root, f"{partition_col}={p}")
    if fsio.fs_exists(spark, raw):
        return raw
    esc = os.path.join(root, f"{partition_col}={quote(str(p), safe='')}")
    return esc if fsio.fs_exists(spark, esc) else raw


def _applied_manifests(spark: SparkSession, out_path: str) -> list[dict]:
    """All committed upsert manifests, sorted by version."""
    mdir = _updir(out_path)
    out = []
    for name in fsio.fs_listdir(spark, mdir):
        if name.endswith(".json"):
            out.append(json.loads(fsio.fs_read_text(spark, os.path.join(mdir, name))))
    return sorted(out, key=lambda m: m.get("version", 0))


def current_version(spark: SparkSession, out_path: str) -> int:
    """0 for a fresh build; +1 per committed upsert.

    O(1 listing), no manifest parsing: versions are assigned consecutively
    by the single writer and manifests are never deleted (gc FLAGS them,
    keeping lineage), so the committed count IS the current version —
    per-upsert driver overhead stays flat as history grows (code-review
    r5 #3). Corollary: never hand-delete a manifest json; run a rebuild
    instead (the changed-input wipe resets the whole history)."""
    return sum(
        1 for n in fsio.fs_listdir(spark, _updir(out_path)) if n.endswith(".json")
    )


def recover_pending_upserts(spark: SparkSession, out_path: str) -> int:
    """Roll forward any upsert that crashed mid-commit. Idempotent: each
    partition's bytes are in exactly one of data/backup/stage, and every
    move is re-derivable from the pending manifest. Returns the number of
    commits completed. Also garbage-collects orphan stage dirs (a crash
    DURING the stage write leaves no pending manifest — nothing was
    committed, the replayed fingerprint redoes the work).

    Single-writer assumption (same as the band builder): a CONCURRENT
    upsert's in-flight stage would be mistaken for an orphan — serialize
    upserts per index."""
    mdir = _updir(out_path)
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
    data = _data_path(out_path)
    stage = os.path.join(_updir(out_path), f"stage-{m['digest']}")
    backup = os.path.join(_updir(out_path), f"backup-{m['digest']}")
    pcol = m["partition_col"]
    absent_before = set(map(str, m.get("absent_before", [])))
    surviving = set(map(str, m.get("surviving", [])))
    for p in m["partitions"]:
        sp = str(p)
        # resolve each location's existing directory-name variant
        # independently (raw vs URL-escaped) so recovery after a partial
        # commit finds whichever form each side was written with
        data_dir = _part_dir(data, spark, pcol, p)
        backup_dir = _part_dir(backup, spark, pcol, p)
        if sp not in absent_before and not fsio.fs_exists(spark, backup_dir):
            if fsio.fs_exists(spark, data_dir):
                fsio.fs_rename(spark, data_dir, backup_dir)
        if sp in surviving and not fsio.fs_exists(spark, data_dir):
            stage_dir = _part_dir(stage, spark, pcol, p)
            fsio.fs_rename(spark, stage_dir, data_dir)
    fsio.fs_delete(spark, stage)


def upsert_index(
    spark: SparkSession,
    out_path: str,
    delta: DataFrame,
    delta_fingerprint: str,
    deletes: DataFrame | None = None,
    id_col: str = "id",
    partition_col: str = "cell_x",
    files_per_cell: int = 16,
    id_lookup: DataFrame | None = None,
    maintain_lookup: bool = True,
) -> dict:
    """Apply ``delta`` (and optional ``deletes`` of (id) rows) to the index
    at ``out_path`` via the snapshot-retaining protocol above, rewriting
    ONLY the affected partition directories. Returns a report dict.

    ``id_lookup``: explicit (id, partition) projection overriding both the
    maintained ``_lookup/`` table and the fallback scan.
    ``maintain_lookup``: keep ``_lookup/`` in sync (bootstraps on first
    use; later upserts resolve affected partitions from it instead of
    scanning two columns of the whole index).
    """
    report = {
        "affected_partitions": 0, "rows_written": 0, "skipped": False,
        "t_sec": 0.0, "version": None, "used_lookup": False,
    }
    t0 = time.time()
    recover_pending_upserts(spark, out_path)
    mdir = _updir(out_path)
    fsio.fs_mkdirs(spark, mdir)
    # fingerprints are caller strings (the CLI default embeds a PATH) — the
    # manifest filename is a digest; the raw fingerprint lives in the json
    digest = hashlib.sha256(delta_fingerprint.encode()).hexdigest()[:24]
    mpath = os.path.join(mdir, f"{digest}.json")
    if fsio.fs_exists(spark, mpath):
        report["skipped"] = True
        report["t_sec"] = time.time() - t0
        return report

    data_path = _data_path(out_path)
    index_df = spark.read.parquet(data_path)
    idx_types = {f.name: f.dataType.simpleString() for f in index_df.schema.fields}
    delta_types = {f.name: f.dataType.simpleString() for f in delta.schema.fields}
    if delta_types != idx_types:
        raise ValueError(
            f"delta schema {sorted(delta_types.items())} != index schema "
            f"{sorted(idx_types.items())} (names AND types must match — a "
            "coerced union would write mixed parquet schemas across partitions)"
        )

    # contract enforcement (diff-sized jobs, both checks are cheap):
    # deletes WIN over delta rows for the same id ("removes ids entirely"),
    # and duplicate ids within one delta are rejected — silently writing
    # both versions would break the index's id uniqueness
    if deletes is not None:
        delta = delta.join(F.broadcast(deletes.select(id_col)), id_col, "left_anti")
    # the delta lineage feeds the dup check, both touched-id broadcasts, and
    # the rewrite union — persist once (diff-sized) instead of 4 evaluations;
    # try/finally so the raise/early-return paths release the cache too
    # the version is resolved ONCE per upsert (a single directory listing —
    # see current_version) and threaded through the helpers; parsing every
    # historical manifest here would grow per-upsert driver overhead with
    # total upsert count forever (code-review r5 findings #3/#4)
    cur_version = current_version(spark, out_path)
    delta = delta.persist()
    try:
        return _apply(
            spark, report, t0, out_path, digest, mpath, delta, deletes,
            delta_fingerprint, id_col, partition_col, files_per_cell,
            id_lookup, index_df, maintain_lookup, cur_version,
        )
    finally:
        delta.unpersist()


def _resolve_lookup(
    spark: SparkSession,
    out_path: str,
    index_df: DataFrame,
    id_col: str,
    partition_col: str,
    id_lookup: DataFrame | None,
    maintain_lookup: bool,
    cur_version: int,
) -> tuple[DataFrame, bool]:
    """(projection DataFrame, came_from_maintained_lookup). The maintained
    table is trusted only when its version stamp matches the index version
    — a stale lookup could miss a moved id's current partition and leave a
    duplicate row behind, so staleness falls back to the honest scan."""
    if id_lookup is not None:
        return id_lookup.select(id_col, partition_col), False
    if maintain_lookup:
        state_path = os.path.join(_lookup_dir(out_path), "_state.json")
        if fsio.fs_exists(spark, state_path):
            state = json.loads(fsio.fs_read_text(spark, state_path))
            if state.get("version") == cur_version:
                return (
                    spark.read.parquet(os.path.join(_lookup_dir(out_path), "data"))
                    .select(id_col, partition_col),
                    True,
                )
    return index_df.select(id_col, partition_col), False


def _refresh_lookup(
    spark: SparkSession,
    out_path: str,
    new_version: int,
    parts: list,
    surviving: set,
    id_col: str,
    partition_col: str,
) -> None:
    """Bring ``_lookup/`` to ``new_version``: partition-scoped update when
    it was valid for the previous version, full bootstrap otherwise. Runs
    AFTER the data commit; a crash in between leaves a stale stamp, which
    the next upsert detects and repairs by bootstrap."""
    ldir = _lookup_dir(out_path)
    ldata = os.path.join(ldir, "data")
    state_path = os.path.join(ldir, "_state.json")
    prev_ok = False
    if fsio.fs_exists(spark, state_path):
        state = json.loads(fsio.fs_read_text(spark, state_path))
        prev_ok = state.get("version") == new_version - 1
    fresh = spark.read.parquet(_data_path(out_path)).select(id_col, partition_col)
    if prev_ok:
        (
            fresh.filter(F.col(partition_col).isin(parts))
            .repartition(F.col(partition_col))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(ldata)
        )
        for p in parts:
            if p not in surviving:
                d = _part_dir(ldata, spark, partition_col, p)
                fsio.fs_delete(spark, d)
    else:
        fresh.repartition(F.col(partition_col)).write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(ldata)
    fsio.fs_write_text_atomic(spark, state_path, json.dumps({"version": new_version}))


def _apply(
    spark, report, t0, out_path, digest, mpath, delta, deletes,
    delta_fingerprint, id_col, partition_col, files_per_cell, id_lookup,
    index_df, maintain_lookup, cur_version,
) -> dict:
    dup = (
        delta.groupBy(id_col).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            "delta contains duplicate ids — resolve to one row per id "
            "(e.g. keep the latest version) before upserting"
        )
    touched_ids = delta.select(id_col)
    if deletes is not None:
        touched_ids = touched_ids.unionByName(deletes.select(id_col))

    lookup, used_lookup = _resolve_lookup(
        spark, out_path, index_df, id_col, partition_col, id_lookup,
        maintain_lookup, cur_version,
    )
    report["used_lookup"] = used_lookup
    # touched ids are diff-sized by the operator's nature — broadcast
    # explicitly (createDataFrame/localCheckpoint sides carry no size
    # stats, and an unbidden SMJ here shuffles the whole projection)
    old_parts = lookup.join(
        F.broadcast(touched_ids), id_col, "left_semi"
    ).select(partition_col)
    parts = sorted(
        r[0]
        for r in delta.select(partition_col).unionByName(old_parts).distinct().collect()
    )
    if not parts:
        report["t_sec"] = time.time() - t0
        return report

    # post-upsert content of the affected partitions: partition-pruned read
    # minus every touched id (replaced rows and deletes alike), plus the
    # delta — materialized into the STAGE dir while data/ stays untouched
    old_kept = index_df.filter(F.col(partition_col).isin(parts)).join(
        F.broadcast(touched_ids), id_col, "left_anti"
    )
    new_rows = old_kept.unionByName(delta.select(*old_kept.columns))

    from simple_osm_queries_spark.index.build import cluster_for_write

    clustered = cluster_for_write(new_rows, partition_col, files_per_cell)
    # persist: consumed by the count, the surviving-partition list, AND the
    # stage write — without it the whole pipeline computes three times
    clustered = clustered.persist()
    n = clustered.count()
    surviving = {
        r[0] for r in clustered.select(partition_col).distinct().collect()
    }
    stage = os.path.join(_updir(out_path), f"stage-{digest}")
    clustered.write.mode("overwrite").partitionBy(partition_col).parquet(stage)
    clustered.unpersist()

    data_path = _data_path(out_path)
    absent_before = [
        p for p in parts
        if not fsio.fs_exists(spark, _part_dir(data_path, spark, partition_col, p))
    ]
    version = cur_version + 1
    manifest = {
        "digest": digest,
        "version": version,
        "delta_fingerprint": delta_fingerprint,
        "partition_col": partition_col,
        "partitions": list(parts),
        "surviving": sorted(surviving),
        "absent_before": absent_before,
        "rows_written": n,
    }
    pending = mpath + ".pending"
    fsio.fs_write_text_atomic(spark, pending, json.dumps(manifest))
    _commit_partitions(spark, out_path, manifest)
    if maintain_lookup and id_lookup is None:
        _refresh_lookup(
            spark, out_path, version, parts, surviving, id_col, partition_col
        )
    manifest["duration_sec"] = time.time() - t0
    fsio.fs_write_text_atomic(spark, mpath, json.dumps(manifest))
    fsio.fs_delete(spark, pending)
    report["affected_partitions"] = len(parts)
    report["rows_written"] = n
    report["version"] = version
    report["t_sec"] = time.time() - t0
    return report


# ---------------------------------------------------------------------------
# versioned reads + snapshot GC (VERDICT r4 #8)
# ---------------------------------------------------------------------------


def read_index_version(spark: SparkSession, out_path: str, version: int) -> DataFrame:
    """Reassemble the index AS OF ``version`` (0 = the base build, k = after
    the k-th upsert). For each partition, the first retained backup with a
    HIGHER version holds its state at ``version``; untouched partitions
    read from data/. Raises if a needed snapshot was garbage-collected."""
    manifests = _applied_manifests(spark, out_path)
    cur = manifests[-1]["version"] if manifests else 0
    if version > cur or version < 0:
        raise ValueError(f"version {version} not in [0, {cur}]")
    data_path = _data_path(out_path)
    if version == cur:
        return spark.read.parquet(data_path)
    overrides: dict[str, tuple[dict, bool]] = {}  # part value -> (manifest, present)
    for m in manifests:
        if m["version"] <= version:
            continue
        absent = set(map(str, m.get("absent_before", [])))
        for p in m["partitions"]:
            sp = str(p)
            if sp not in overrides:
                overrides[sp] = (m, sp not in absent)
    for m, present in overrides.values():
        if present and (
            m.get("gc")
            or not fsio.fs_exists(
                spark, os.path.join(_updir(out_path), f"backup-{m['digest']}")
            )
        ):
            raise ValueError(
                f"version {version} needs the backup of upsert v{m['version']} "
                "which was garbage-collected (gc_snapshots retention)"
            )
    pcol = manifests[-1]["partition_col"]
    reads = []
    # current partitions minus every overridden value (string-compare on the
    # directory names so escaped values match too)
    over_vals = set(overrides)
    cur_read = spark.read.parquet(data_path)
    if over_vals:
        cur_read = cur_read.filter(
            ~F.col(pcol).cast("string").isin(sorted(over_vals))
        )
    reads.append(cur_read)
    by_backup: dict[str, list[str]] = {}
    for sp, (m, present) in overrides.items():
        if not present:
            continue
        broot = os.path.join(_updir(out_path), f"backup-{m['digest']}")
        bdir = _part_dir(broot, spark, pcol, sp)
        by_backup.setdefault(broot, []).append(bdir)
    for broot, dirs in by_backup.items():
        reads.append(spark.read.option("basePath", broot).parquet(*sorted(dirs)))
    out = reads[0]
    for r in reads[1:]:
        out = out.unionByName(r)
    return out


def gc_snapshots(spark: SparkSession, out_path: str, retain: int = 1) -> int:
    """Delete backup snapshots of all but the newest ``retain`` upserts
    (their manifests stay for lineage, flagged ``gc``). Versions older than
    the oldest retained backup become unreadable via read_index_version —
    the documented retention policy. Returns snapshots deleted."""
    manifests = _applied_manifests(spark, out_path)
    victims = manifests[:-retain] if retain > 0 else manifests
    removed = 0
    for m in victims:
        if m.get("gc"):
            continue
        bdir = os.path.join(_updir(out_path), f"backup-{m['digest']}")
        if fsio.fs_exists(spark, bdir):
            fsio.fs_delete(spark, bdir)
            removed += 1
        m["gc"] = True
        fsio.fs_write_text_atomic(
            spark,
            os.path.join(_updir(out_path), f"{m['digest']}.json"),
            json.dumps(m),
        )
    return removed
