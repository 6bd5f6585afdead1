"""Fault injection for the index commit: a stand-in for
``layout._commit_partitions`` that dies halfway through the swap."""

import os

from simple_osm_queries_spark.index import fsio, layout


def crash_mid_commit(spark, out_path, m):
    """Move ONE partition's data dir to its backup, then raise."""
    data = layout.data_path(out_path)
    d = layout.part_dir(data, spark, m["partition_col"], m["partitions"][0])
    b = os.path.join(
        layout.upserts_path(out_path), f"backup-{m['digest']}", os.path.basename(d)
    )
    if fsio.fs_exists(spark, d):
        fsio.fs_rename(spark, d, b)
    raise RuntimeError("simulated crash mid-commit")
