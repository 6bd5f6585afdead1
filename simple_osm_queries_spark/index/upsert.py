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

Commit protocol (``layout.stage_and_commit``, shared with compaction;
closes the r4 durability window where a crash inside the
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
stored index. The build seeds, and every commit maintains, that
(id, partition) projection as a compact partitioned table under
``_lookup/`` (``layout.sync_lookup``: partition-scoped updates after every
commit, version-stamped so staleness is detected and falls back to the
honest two-column scan).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_osm_queries_spark.index import fsio
from simple_osm_queries_spark.index.layout import (
    cluster_for_write,
    current_version,
    data_path,
    lookup_path,
    lookup_version,
    part_dir,
    recover_pending_upserts,
    stage_and_commit,
    upserts_path,
)


def _applied_manifests(spark: SparkSession, out_path: str) -> list[dict]:
    """All committed upsert manifests, sorted by version."""
    mdir = upserts_path(out_path)
    out = []
    for name in fsio.fs_listdir(spark, mdir):
        if name.endswith(".json"):
            out.append(json.loads(fsio.fs_read_text(spark, os.path.join(mdir, name))))
    return sorted(out, key=lambda m: m.get("version", 0))


def upsert_index(
    spark: SparkSession,
    out_path: str,
    delta: DataFrame,
    delta_fingerprint: str,
    deletes: DataFrame | None = None,
    partition_col: str = "cell_x",
    files_per_cell: int = 16,
) -> dict:
    """Apply ``delta`` (and optional ``deletes`` of (id) rows) to the index
    at ``out_path`` via the snapshot-retaining protocol above, rewriting
    ONLY the affected partition directories. Returns a report dict;
    ``used_lookup`` says whether the affected partitions came from the
    maintained ``_lookup/`` rather than a two-column scan of the index.
    """
    report = {
        "affected_partitions": 0, "rows_written": 0, "skipped": False,
        "t_sec": 0.0, "version": None, "used_lookup": False,
    }
    t0 = time.time()
    recover_pending_upserts(spark, out_path)
    mdir = upserts_path(out_path)
    fsio.fs_mkdirs(spark, mdir)
    # fingerprints are caller strings (the CLI default embeds a PATH) — the
    # manifest filename is a digest; the raw fingerprint lives in the json
    digest = hashlib.sha256(delta_fingerprint.encode()).hexdigest()[:24]
    if fsio.fs_exists(spark, os.path.join(mdir, f"{digest}.json")):
        report["skipped"] = True
        report["t_sec"] = time.time() - t0
        return report

    index_df = spark.read.parquet(data_path(out_path))
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
        delta = delta.join(F.broadcast(deletes.select("id")), "id", "left_anti")
    # the version is resolved ONCE per upsert (a single directory listing —
    # see current_version); parsing every historical manifest here would
    # grow per-upsert driver overhead with total upsert count forever
    # (code-review r5 findings #3/#4)
    cur_version = current_version(spark, out_path)
    # the delta lineage feeds the dup check, both touched-id broadcasts, and
    # the rewrite union — persist once (diff-sized) instead of 4 evaluations;
    # try/finally so the raise path releases the cache too
    delta = delta.persist()
    try:
        dup = delta.groupBy("id").count().filter(F.col("count") > 1).limit(1).count()
        if dup:
            raise ValueError(
                "delta contains duplicate ids — resolve to one row per id "
                "(e.g. keep the latest version) before upserting"
            )
        touched_ids = delta.select("id")
        if deletes is not None:
            touched_ids = touched_ids.unionByName(deletes.select("id"))

        # the maintained (id, partition) projection is trusted only when its
        # stamp matches the index version — a stale lookup could miss a
        # moved id's current partition and leave a duplicate row behind, so
        # staleness falls back to the honest two-column scan
        used_lookup = lookup_version(spark, out_path) == cur_version
        lookup = (
            spark.read.parquet(os.path.join(lookup_path(out_path), "data"))
            if used_lookup else index_df
        )
        report["used_lookup"] = used_lookup
        # touched ids are diff-sized by the operator's nature — broadcast
        # explicitly (createDataFrame/localCheckpoint sides carry no size
        # stats, and an unbidden SMJ here shuffles the whole projection)
        old_parts = lookup.select("id", partition_col).join(
            F.broadcast(touched_ids), "id", "left_semi"
        ).select(partition_col)
        parts = sorted(
            r[0]
            for r in delta.select(partition_col).unionByName(old_parts).distinct().collect()
        )
        if parts:
            # post-upsert content of the affected partitions: partition-pruned
            # read minus every touched id (replaced rows and deletes alike),
            # plus the delta
            old_kept = index_df.filter(F.col(partition_col).isin(parts)).join(
                F.broadcast(touched_ids), "id", "left_anti"
            )
            new_rows = old_kept.unionByName(delta.select(*old_kept.columns))
            m = stage_and_commit(
                spark, out_path,
                cluster_for_write(new_rows, partition_col, F.lit(files_per_cell)),
                {
                    "digest": digest,
                    "version": cur_version + 1,
                    "delta_fingerprint": delta_fingerprint,
                    "partition_col": partition_col,
                    "partitions": parts,
                },
                t0, changed=parts,
            )
            report["affected_partitions"] = len(parts)
            report["rows_written"] = m["rows_written"]
            report["version"] = m["version"]
    finally:
        delta.unpersist()
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
    data = data_path(out_path)
    if version == cur:
        return spark.read.parquet(data)
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
                spark, os.path.join(upserts_path(out_path), f"backup-{m['digest']}")
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
    cur_read = spark.read.parquet(data)
    if over_vals:
        cur_read = cur_read.filter(
            ~F.col(pcol).cast("string").isin(sorted(over_vals))
        )
    reads.append(cur_read)
    by_backup: dict[str, list[str]] = {}
    for sp, (m, present) in overrides.items():
        if not present:
            continue
        broot = os.path.join(upserts_path(out_path), f"backup-{m['digest']}")
        bdir = part_dir(broot, spark, pcol, sp)
        by_backup.setdefault(broot, []).append(bdir)
    for broot, dirs in by_backup.items():
        reads.append(spark.read.option("basePath", broot).parquet(*sorted(dirs)))
    out = reads[0]
    for r in reads[1:]:
        out = out.unionByName(r)
    return out


# backup snapshots gc_snapshots keeps: the newest commits' backups
SNAPSHOT_RETAIN = 1


def gc_snapshots(spark: SparkSession, out_path: str) -> int:
    """Delete backup snapshots of all but the newest SNAPSHOT_RETAIN
    commits (upserts and compactions; their manifests stay for lineage,
    flagged ``gc``). Versions older than the oldest retained backup become
    unreadable via read_index_version — the documented retention policy.
    Returns snapshots deleted."""
    manifests = _applied_manifests(spark, out_path)
    victims = manifests[: max(len(manifests) - SNAPSHOT_RETAIN, 0)]
    removed = 0
    for m in victims:
        if m.get("gc"):
            continue
        bdir = os.path.join(upserts_path(out_path), f"backup-{m['digest']}")
        if fsio.fs_exists(spark, bdir):
            fsio.fs_delete(spark, bdir)
            removed += 1
        m["gc"] = True
        fsio.fs_write_text_atomic(
            spark,
            os.path.join(upserts_path(out_path), f"{m['digest']}.json"),
            json.dumps(m),
        )
    return removed
