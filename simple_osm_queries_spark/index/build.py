"""Checkpointed, resumable index build (the Spark re-expression of the
reference's import pipeline, /root/reference/src/importing/import.go:17-163).

The reference batches the import into node-count-bounded cell extents and can
restart per extent (import.go:141-154). Here the unit of work is a BAND of
cell columns (cell_x range); for each band we:

1. write the band's feature rows as parquet partitioned by cell_x
   (the moral equivalent of one-file-per-cell, grid_writer.go:485-486 —
   Iceberg-style partition layout, min/max stats give row-group pruning);
2. record a MANIFEST json per completed band: deterministic band identity
   (cell_x range + input fingerprint), row count, duration — written
   atomically (``fsio.fs_write_text_atomic``: fsync'd temp + atomic
   replace) so a killed job never half-marks a band.

``build_index`` skips bands whose manifest already exists and matches the
input fingerprint — restart cost is one list of the manifest dir, no
recomputation of completed bands (north rule: per-partition lineage +
metrics, resume without recomputing completed cells). A manifest of
another input, or one that cannot be read, wipes the old build first.
The manifests, the resume check and that wipe go through ``fsio`` like
the data writes, so a ``file:``/``hdfs:``/``s3a:`` root works as a plain
path does; the layout's paths, clustering and lookup live in
``layout.py``.

Band planning mirrors the reference's greedy extent bin-packing
(import.go:167-233): bands are chosen from the per-cell_x row histogram so
each band holds <= max_rows_per_band rows (skew-aware: a hot column gets its
own band).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_osm_queries_spark.index import fsio
from simple_osm_queries_spark.index.layout import (
    cluster_for_write,
    current_version,
    data_path,
    lookup_path,
    sync_lookup,
    upserts_path,
)


@dataclass
class Band:
    min_x: int
    max_x: int
    rows: int

    @property
    def key(self) -> str:
        return f"x{self.min_x}_{self.max_x}"


def plan_bands(df: DataFrame, max_rows_per_band: int, partition_col: str = "cell_x") -> list[Band]:
    """Greedy packing of contiguous partition-key values into row-bounded
    bands. Mirrors getNextExtent (import.go:167-233): extend the band until
    the next value would overflow; oversized single values become singleton
    bands (they can't be split on this key — AQE handles them inside)."""
    hist = sorted(
        (r[0], r[1])
        for r in df.groupBy(partition_col).agg(F.count("*").alias("n")).collect()
    )
    bands: list[Band] = []
    cur_min = cur_max = None
    cur_rows = 0
    for x, n in hist:
        if cur_min is None:
            cur_min, cur_max, cur_rows = x, x, n
        elif cur_rows + n > max_rows_per_band:
            bands.append(Band(cur_min, cur_max, cur_rows))
            cur_min, cur_max, cur_rows = x, x, n
        else:
            cur_max, cur_rows = x, cur_rows + n
    if cur_min is not None:
        bands.append(Band(cur_min, cur_max, cur_rows))
    return bands


def _manifest_dir(out_path: str) -> str:
    return os.path.join(out_path, "_manifests")


def _manifest_path(base: str, band: Band) -> str:
    return os.path.join(_manifest_dir(base), f"{band.key}.json")


def _completed_bands(
    spark: SparkSession, out_path: str, input_fingerprint: str
) -> dict[str, dict] | None:
    """The manifests of bands already built from this input, by band key;
    None when any manifest names another input or cannot be read or parsed
    (the build must then start clean)."""
    mdir = _manifest_dir(out_path)
    done = {}
    for name in fsio.fs_listdir(spark, mdir):
        if not name.endswith(".json"):
            continue
        try:
            m = json.loads(fsio.fs_read_text(spark, os.path.join(mdir, name)))
        except (Py4JError, ValueError):
            return None
        if m.get("input_fingerprint") != input_fingerprint:
            return None
        done[name[: -len(".json")]] = m
    return done


def _iceberg_write_band(
    spark: SparkSession, band_df: DataFrame, table: str, partition_col: str = "cell_x"
) -> None:
    """Band write via the Iceberg DSv2 API: create the key-partitioned
    table on first touch, then dynamic-overwrite exactly the band's
    partitions (the Iceberg-native equivalent of parquet's dynamic
    partitionOverwriteMode)."""
    from pyspark.sql import functions as SF

    exists = spark.catalog.tableExists(table)
    writer = band_df.writeTo(table)
    if not exists:
        writer.partitionedBy(SF.col(partition_col)).create()
    else:
        writer.overwritePartitions()


def build_index(
    nodes: DataFrame,
    out_path: str,
    input_fingerprint: str,
    max_rows_per_band: int = 10_000_000,
    backend: str = "parquet",
    iceberg_table: str | None = None,
    files_per_cell: int = 16,
    partition_col: str = "cell_x",
) -> dict:
    """Write the node table as a cell-partitioned index, band by band, with
    atomic per-band manifests. Returns a build report.

    ``input_fingerprint`` identifies the input snapshot (e.g. generator
    params or an Iceberg snapshot id); a manifest only short-circuits a band
    when its fingerprint matches, so resuming against different input
    recomputes (north rule: deterministic partition identity).

    ``backend``: 'parquet' (default — partitioned directories + dynamic
    overwrite) or 'iceberg' (writeTo the ``iceberg_table`` in the
    `soq_iceberg` catalog; requires the Iceberg Spark runtime jar, which is
    not bundled). Manifests/resume logic is shared;
    out_path still holds the _manifests dir for the iceberg backend.
    The parquet backend also seeds the (id, partition) lookup
    (``layout.sync_lookup``) when the rows carry an ``id``.
    """
    spark = nodes.sparkSession
    report = {"bands": 0, "skipped": 0, "rows": 0, "t_sec": 0.0, "wiped": False}
    t0 = time.time()
    done = _completed_bands(spark, out_path, input_fingerprint)
    if done is None:
        # Rebuilding over a DIFFERENT input must start clean: dynamic
        # partition overwrite only replaces the partitions present in the
        # NEW input, so the old input's other partitions would survive into
        # read_index(). Upsert manifests and the lookup describe the OLD
        # build too: a replayed delta would be a silent no-op against the
        # new one (the idempotence check is fingerprint-by-filename).
        report["wiped"] = True
        for sub in (data_path(out_path), _manifest_dir(out_path),
                    upserts_path(out_path), lookup_path(out_path)):
            fsio.fs_delete(spark, sub)
        if backend == "iceberg" and iceberg_table:
            # overwritePartitions has the same blind spot: drop the table
            spark.sql(f"DROP TABLE IF EXISTS {iceberg_table}")
        done = {}
    bands = plan_bands(nodes, max_rows_per_band, partition_col)
    for band in bands:
        if band.key in done:
            report["skipped"] += 1
            report["rows"] += done[band.key]["rows"]
            continue
        tb = time.time()
        band_df = nodes.filter(
            (F.col(partition_col) >= band.min_x) & (F.col(partition_col) <= band.max_x)
        )
        clustered = cluster_for_write(band_df, partition_col, F.lit(files_per_cell))
        if backend == "iceberg":
            if not iceberg_table:
                raise ValueError("backend='iceberg' requires iceberg_table")
            _iceberg_write_band(spark, clustered, iceberg_table, partition_col)
        else:
            (
                clustered.write.mode("overwrite")
                # dynamic overwrite: a re-run band replaces exactly its own
                # cell_x=... directories in the shared root — idempotent restarts
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(data_path(out_path))
            )
        fsio.fs_write_text_atomic(
            spark,
            _manifest_path(out_path, band),
            json.dumps({
                "band": band.key,
                "min_x": band.min_x,
                "max_x": band.max_x,
                "rows": band.rows,
                "input_fingerprint": input_fingerprint,
                "duration_sec": time.time() - tb,
            }),
        )
        report["bands"] += 1
        report["rows"] += band.rows
    if backend == "parquet":
        sync_lookup(spark, out_path, partition_col, current_version(spark, out_path))
    report["t_sec"] = time.time() - t0
    return report


def read_index(spark: SparkSession, out_path: str) -> DataFrame:
    """Read the whole index back (partition column recovered; cell_x
    predicates prune partition directories)."""
    return spark.read.parquet(data_path(out_path))
