"""CLI entry point — the reference's three commands (SURVEY.md §3;
/root/reference/src/main.go):

  python -m simple_osm_queries_spark import <file.osm|file.osm.pbf> --out <index_dir>
  python -m simple_osm_queries_spark query '<query>' [--data <index_dir>|generate] [--out output.geojson]
  python -m simple_osm_queries_spark server [--port 8080] [--data ...]
  python -m simple_osm_queries_spark cells <table.parquet> --out <dir>  (north-rule
      encode-to-H3/S2/tile + cell-partitioned write, in one spark-submit step)

`import` writes the raw node/way/relation tables and builds the
cell-partitioned parquet index from an .osm XML / .osm.pbf file (the
reference's tag-index file is not written: filters compare tag values
directly, so nothing reads it). `query` mirrors main.go:95-111
(parse -> execute -> output.geojson). `server` mirrors the HTTP entry
point.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import functions as F


def _build_dataset(spark, args):
    from simple_osm_queries_spark.index.fsio import fs_exists
    from simple_osm_queries_spark.sources.dataset import from_generator, prepare

    if args.data == "generate":
        return from_generator(spark, n_nodes=args.generate, with_images=False)
    # the index root may be a file:/hdfs:/s3a: URI: ask Spark's filesystem
    nodes_path = os.path.join(args.data, "nodes")
    if fs_exists(spark, nodes_path):
        nodes = spark.read.parquet(nodes_path)
        ways = spark.read.parquet(os.path.join(args.data, "ways"))
        relations = spark.read.parquet(os.path.join(args.data, "relations"))
        return prepare(nodes, ways, relations)
    raise SystemExit(f"no index at {args.data}; run the import command first")


def cmd_import(spark, args) -> None:
    from simple_osm_queries_spark.index.build import build_index
    from simple_osm_queries_spark.sources.dataset import prepare
    from simple_osm_queries_spark.sources.osm_pbf import read_osm_pbf, release_scan
    from simple_osm_queries_spark.sources.osm_xml import read_osm_xml

    # no mkdir: the Spark writers below create the index root, also when
    # it is a file:/hdfs:/s3a: URI
    if args.file.endswith(".pbf"):
        # decode blobs ONCE (persisted union), sink the three raw tables,
        # then reload from parquet so every downstream action (band plan,
        # per-band writes) scans columnar files instead of re-running the
        # blob decode; the cache is released right after
        nodes_raw, ways_raw, rels_raw = read_osm_pbf(spark, args.file, persist=True)
    else:
        nodes_raw, ways_raw, rels_raw = read_osm_xml(spark, args.file)
    # raw tables for reload (prepare() recomputes derived columns on load)
    nodes_raw.write.mode("overwrite").parquet(os.path.join(args.out, "nodes"))
    ways_raw.write.mode("overwrite").parquet(os.path.join(args.out, "ways"))
    rels_raw.write.mode("overwrite").parquet(os.path.join(args.out, "relations"))
    if args.file.endswith(".pbf"):
        release_scan(nodes_raw)
        nodes_raw = spark.read.parquet(os.path.join(args.out, "nodes"))
        ways_raw = spark.read.parquet(os.path.join(args.out, "ways"))
        rels_raw = spark.read.parquet(os.path.join(args.out, "relations"))
    ds = prepare(nodes_raw, ways_raw, rels_raw)
    # checkpointed cell-partitioned node index (the scan-optimized layout)
    report = build_index(
        ds.nodes, os.path.join(args.out, "grid-index"), input_fingerprint=args.file
    )
    print(f"imported {report['rows']} nodes in {report['t_sec']:.1f}s -> {args.out}")


def cmd_cells(spark, args) -> None:
    """North-rule pipeline step as one spark-submit command: batch-encode
    every record's location to REAL H3 + S2 cells (and a slippy tile),
    then write cell-partitioned parquet — the distributed analogue of the
    reference's one-file-per-cell grid index, over any parquet table with
    (lon, lat) columns (e.g. the image+caption node table)."""
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.functions import h3 as H

    df = spark.read.parquet(args.file)
    out = df.select(
        "*",
        C.cell_h3(F.col("lon"), F.col("lat"), args.h3_res).alias("h3"),
        C.cell_s2(F.col("lon"), F.col("lat"), args.s2_level).alias("s2"),
        C.tile_of(F.col("lon"), F.col("lat"), args.zoom).alias("tile"),
    )
    # partition directories on a coarse H3 parent: fine cells cluster inside
    # files (row-group min/max pruning), directories stay bounded in count
    out = out.withColumn("h3_part", H.parent(F.col("h3"), args.partition_res))
    # route through the checkpointed band builder: salted hot-partition
    # writes, atomic per-band manifests, resume without recomputing
    # completed cells (the north rule's per-partition lineage + metrics —
    # a killed 10^12-row encode restarts where it stopped)
    from simple_osm_queries_spark.index.build import build_index

    fp = f"{args.file}|h3={args.h3_res}|s2={args.s2_level}|z={args.zoom}|p={args.partition_res}"
    report = build_index(
        out, args.out, input_fingerprint=fp, partition_col="h3_part"
    )
    print(
        f"encoded + partitioned {report['rows']} rows in {report['t_sec']:.1f}s "
        f"({report['bands']} bands, {report['skipped']} resumed) -> {args.out}/data"
    )


def default_delta_fingerprint(path: str) -> str:
    """Content-shaped identity for a local delta path. For a parquet
    DIRECTORY, st_size is just the dirent size, so path+mtime+size of the
    directory itself rests on mtime alone — an in-place rewrite on a
    coarse-mtime filesystem could collide and silently skip a new delta
    (ADVICE r4). Hash the recursive file listing (relative name, size,
    mtime_ns of every data file) instead; single files keep the cheap
    stat triple."""
    import hashlib

    st = os.stat(path)
    if not os.path.isdir(path):
        return f"{path}:{st.st_mtime_ns}:{st.st_size}"
    entries = []
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue  # _SUCCESS / .crc markers churn independently of data
            full = os.path.join(root, fn)
            fst = os.stat(full)
            entries.append(
                f"{os.path.relpath(full, path)}:{fst.st_size}:{fst.st_mtime_ns}"
            )
    h = hashlib.sha256("\n".join(sorted(entries)).encode())
    return f"{path}:dir:{h.hexdigest()[:32]}"


def _gc_snapshots(spark, index: str) -> None:
    """After a commit: drop the backups past the retention policy."""
    from simple_osm_queries_spark.index.upsert import gc_snapshots

    removed = gc_snapshots(spark, index)
    if removed:
        print(f"removed {removed} old snapshot(s)")


def cmd_upsert(spark, args) -> None:
    """Apply a delta parquet (index schema) to a grid index incrementally —
    rewrites only the affected partition directories (index/upsert.py) —
    then drop the snapshots past the retention policy
    (``upsert.SNAPSHOT_RETAIN``)."""
    from simple_osm_queries_spark.index.upsert import upsert_index

    delta = spark.read.parquet(args.delta)
    deletes = spark.read.parquet(args.deletes) if args.deletes else None
    if args.fingerprint:
        fp = args.fingerprint
    else:  # local-path default; remote deltas must pass --fingerprint
        fp = default_delta_fingerprint(args.delta)
    report = upsert_index(
        spark,
        args.index,
        delta,
        delta_fingerprint=fp,
        deletes=deletes,
        partition_col=args.partition_col,
    )
    if report["skipped"]:
        print(f"upsert {fp} already applied — skipped")
    else:
        print(
            f"upserted {report['rows_written']} rows across "
            f"{report['affected_partitions']} partitions in {report['t_sec']:.1f}s "
            f"-> version {report['version']}"
            + (" [lookup]" if report.get("used_lookup") else "")
        )
        _gc_snapshots(spark, args.index)


def cmd_compact(spark, args) -> None:
    """Compact small-file partitions of a grid index in place — crash-safe
    version-bumping rewrite of only the offending directories
    (index/compact.py) — then drop the snapshots past the retention
    policy, as ``cmd_upsert`` does."""
    from simple_osm_queries_spark.index.compact import compact_index

    report = compact_index(
        spark,
        args.index,
        partition_col=args.partition_col,
        target_file_bytes=args.target_file_mb * 1024 * 1024,
        min_files=args.min_files,
        max_partitions=args.max_partitions,
        dry_run=args.dry_run,
    )
    if report["dry_run"]:
        print(
            f"would compact {report['partitions']} partitions "
            f"({report['files_before']} files -> {report['files_target']}, "
            f"{report['bytes'] / 1e6:.1f} MB)"
        )
    elif report["partitions"] == 0:
        print("nothing to compact")
    else:
        print(
            f"compacted {report['partitions']} partitions "
            f"({report['files_before']} files -> {report['files_target']}, "
            f"{report['rows_written']} rows) in {report['t_sec']:.1f}s "
            f"-> version {report['version']}"
        )
        _gc_snapshots(spark, args.index)


def cmd_query(spark, args) -> None:
    from simple_osm_queries_spark.query.planner import run_query
    from simple_osm_queries_spark.sources.geojson import write_geojson_file

    ds = _build_dataset(spark, args)
    result = run_query(args.query, ds)
    print(f"wrote {write_geojson_file(result, args.out)} features -> {args.out}")


def cmd_server(spark, args) -> None:
    from simple_osm_queries_spark.web import serve

    ds = _build_dataset(spark, args).cache()
    # warm all three cached frames before accepting requests: ways and
    # relations hold the way-geometry join and the relation-bbox fold, which
    # the first request touching them would otherwise compute
    for df in (ds.nodes, ds.ways, ds.relations):
        df.count()
    httpd = serve(ds, port=args.port)
    print(f"listening on http://127.0.0.1:{args.port}/app")
    httpd.serve_forever()


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="simple_osm_queries_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("import", help="build an index from an .osm XML file")
    pi.add_argument("file")
    pi.add_argument("--out", default="soq-index")

    pq = sub.add_parser("query", help="run a query, write GeoJSON")
    pq.add_argument("query")
    pq.add_argument("--data", default="soq-index", help="index dir or 'generate'")
    pq.add_argument("--generate", type=int, default=100_000)
    pq.add_argument("--out", default="output.geojson")

    pc = sub.add_parser(
        "cells", help="encode lon/lat -> H3/S2/tile cells, write cell-partitioned parquet"
    )
    pc.add_argument("file", help="input parquet with lon/lat columns")
    pc.add_argument("--out", default="soq-cells")
    pc.add_argument("--h3-res", type=int, default=8, dest="h3_res")
    pc.add_argument("--s2-level", type=int, default=12, dest="s2_level")
    pc.add_argument("--zoom", type=int, default=13)
    pc.add_argument("--partition-res", type=int, default=4, dest="partition_res")

    pu = sub.add_parser(
        "upsert", help="apply a delta parquet to a grid index (partition-scoped rewrite)"
    )
    pu.add_argument("delta", help="parquet with the index schema")
    pu.add_argument("--index", default="soq-index/grid-index")
    pu.add_argument("--deletes", default=None, help="parquet of (id) rows to remove")
    pu.add_argument("--partition-col", default="cell_x", dest="partition_col")
    pu.add_argument(
        "--fingerprint", default=None,
        help="delta identity (default: file stat triple, or a hash of the "
        "recursive file listing for a parquet directory)",
    )

    pk = sub.add_parser(
        "compact", help="compact small-file index partitions (crash-safe, versioned)"
    )
    pk.add_argument("--index", default="soq-index/grid-index")
    pk.add_argument("--partition-col", default="cell_x", dest="partition_col")
    pk.add_argument("--target-file-mb", type=int, default=128, dest="target_file_mb")
    pk.add_argument("--min-files", type=int, default=2, dest="min_files")
    pk.add_argument("--max-partitions", type=int, default=None, dest="max_partitions")
    pk.add_argument("--dry-run", action="store_true", dest="dry_run")

    ps = sub.add_parser("server", help="HTTP server: POST /query, GET /app, /cells, /nearest, /tiles/{z}/{x}/{y}.{png,mvt}")
    ps.add_argument("--port", type=int, default=8080)
    ps.add_argument("--data", default="generate")
    ps.add_argument("--generate", type=int, default=100_000)

    args = p.parse_args(argv)

    from simple_osm_queries_spark.session import get_spark

    spark = get_spark("soq-cli")
    try:
        {
            "import": cmd_import,
            "query": cmd_query,
            "server": cmd_server,
            "cells": cmd_cells,
            "upsert": cmd_upsert,
            "compact": cmd_compact,
        }[args.cmd](spark, args)
    finally:
        if args.cmd != "server":
            spark.stop()


if __name__ == "__main__":
    main()
