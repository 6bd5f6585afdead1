"""Checkpointed index build: band planning, atomic manifests, resume skips
completed bands, changed input fingerprint forces recompute."""

import json
import os

import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.index import build, fsio


def test_plan_bands_respects_cap_and_skew(dataset):
    bands = build.plan_bands(dataset.nodes, max_rows_per_band=200)
    assert bands
    # contiguous, ordered, covering
    for a, b in zip(bands, bands[1:]):
        assert a.max_x < b.min_x
    assert sum(b.rows for b in bands) == dataset.nodes.count()
    # the cap holds except for single oversize columns (hot cell column)
    for b in bands:
        if b.min_x != b.max_x:
            assert b.rows <= 200


def test_build_resume_and_invalidate(dataset, tmp_path, spark):
    out = str(tmp_path / "idx")
    r1 = build.build_index(dataset.nodes, out, input_fingerprint="fp1", max_rows_per_band=300)
    assert r1["bands"] > 0 and r1["skipped"] == 0

    # manifests exist and carry metrics
    mdir = os.path.join(out, "_manifests")
    manifests = [json.load(open(os.path.join(mdir, f))) for f in os.listdir(mdir)]
    assert all("rows" in m and "duration_sec" in m for m in manifests)

    # resume: everything skipped, nothing recomputed
    r2 = build.build_index(dataset.nodes, out, input_fingerprint="fp1", max_rows_per_band=300)
    assert r2["bands"] == 0 and r2["skipped"] == len(manifests)
    assert r2["rows"] == r1["rows"]

    # index reads back complete and partition-pruned
    idx = build.read_index(spark, out)
    assert idx.count() == dataset.nodes.count()
    some_x = idx.select("cell_x").first().cell_x
    pruned = idx.filter(F.col("cell_x") == some_x)
    assert pruned.count() == dataset.nodes.filter(F.col("cell_x") == some_x).count()

    # different input fingerprint invalidates manifests
    r3 = build.build_index(dataset.nodes, out, input_fingerprint="fp2", max_rows_per_band=300)
    assert r3["bands"] == len(manifests) and r3["skipped"] == 0


def test_partial_build_resumes_where_it_stopped(dataset, tmp_path, spark):
    out = str(tmp_path / "idx2")
    bands = build.plan_bands(dataset.nodes, max_rows_per_band=300)
    assert len(bands) >= 2
    # simulate a killed job: pre-write a manifest for the first band only
    first = bands[0]
    fsio.fs_write_text_atomic(
        spark,
        build._manifest_path(out, first),
        json.dumps({"band": first.key, "min_x": first.min_x, "max_x": first.max_x,
                    "rows": first.rows, "input_fingerprint": "fp", "duration_sec": 0.0}),
    )
    r = build.build_index(dataset.nodes, out, input_fingerprint="fp", max_rows_per_band=300)
    assert r["skipped"] == 1
    assert r["bands"] == len(bands) - 1


def _shrunken_rebuild(spark, out):
    old = spark.createDataFrame(
        [(i, i % 3, 0, 53.5) for i in range(90)], "id long, cell_x int, cell_y int, lat double"
    )
    new = spark.createDataFrame(
        [(i, 1 + i % 2, 0, 53.5) for i in range(40)], "id long, cell_x int, cell_y int, lat double"
    )
    build.build_index(old, out, input_fingerprint="fp-old", max_rows_per_band=1000)
    assert sorted(
        r.cell_x for r in build.read_index(spark, out).select("cell_x").distinct().collect()
    ) == [0, 1, 2]
    r2 = build.build_index(new, out, input_fingerprint="fp-new", max_rows_per_band=1000)
    assert r2["wiped"] is True and r2["skipped"] == 0
    got = build.read_index(spark, out)
    assert sorted(r.cell_x for r in got.select("cell_x").distinct().collect()) == [1, 2]
    assert got.count() == 40
    # same fingerprint again -> no wipe, full skip
    r3 = build.build_index(new, out, input_fingerprint="fp-new", max_rows_per_band=1000)
    assert r3["wiped"] is False and r3["bands"] == 0 and r3["skipped"] > 0


def test_rebuild_with_shrunken_input_purges_stale_partitions(spark, tmp_path):
    """Dynamic partition overwrite only replaces cell_x dirs present in the
    NEW input; a changed fingerprint must wipe the old build so cell_x
    partitions that existed only in the old input don't leak into reads."""
    _shrunken_rebuild(spark, str(tmp_path / "idx"))


def test_rebuild_over_file_uri_purges_stale_partitions(spark, tmp_path, monkeypatch):
    """The same rebuild with the index root given as a ``file:`` URI: the
    band manifests, the resume check and the changed-input wipe go through
    the filesystem of the data writes, so the old build's partitions and
    its (id, partition) lookup are gone, and nothing is written under the
    working directory."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    _shrunken_rebuild(spark, "file:" + str(tmp_path / "idx"))
    lookup = spark.read.parquet(str(tmp_path / "idx" / "_lookup" / "data"))
    assert sorted((r.id, r.cell_x) for r in lookup.collect()) == [
        (i, 1 + i % 2) for i in range(40)
    ]
    assert os.listdir(cwd) == []


def _iceberg_available(spark) -> bool:
    """True when the Iceberg Spark runtime is on the classpath (the
    `soq_iceberg` hadoop catalog declared in session.py is then usable)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_iceberg_backend_round_trip(spark, tmp_path):
    """Live only when iceberg-spark-runtime is on the classpath (the
    soq_iceberg hadoop catalog from session.py); documented-skipped
    otherwise so the 100-TB Iceberg story isn't resting on untested code."""
    if not _iceberg_available(spark):
        import pytest as _pytest

        _pytest.skip(
            "iceberg-spark-runtime-4.x jar not on classpath "
            "(spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13)"
        )
    table = "soq_iceberg.db.idx_test"
    df = spark.createDataFrame(
        [(i, i % 3, 0, 53.5) for i in range(90)], "id long, cell_x int, cell_y int, lat double"
    )
    spark.sql("CREATE NAMESPACE IF NOT EXISTS soq_iceberg.db")
    r = build.build_index(
        df, str(tmp_path / "ice"), input_fingerprint="fp", max_rows_per_band=40,
        backend="iceberg", iceberg_table=table,
    )
    assert r["bands"] > 0
    got = spark.read.table(table)
    assert got.count() == 90
    assert sorted(x.cell_x for x in got.select("cell_x").distinct().collect()) == [0, 1, 2]
    # resume: same fingerprint -> full skip
    r2 = build.build_index(
        df, str(tmp_path / "ice"), input_fingerprint="fp", max_rows_per_band=40,
        backend="iceberg", iceberg_table=table,
    )
    assert r2["bands"] == 0 and r2["skipped"] == r["bands"]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_iceberg_backend_requires_table_name(spark, tmp_path, dataset):
    with pytest.raises(ValueError, match="iceberg_table"):
        build.build_index(
            dataset.nodes, str(tmp_path / "x"), input_fingerprint="f",
            backend="iceberg",
        )


def test_iceberg_write_band_branches(monkeypatch):
    """Mock-level drive of the Iceberg DSv2 branch logic: first touch
    creates the table partitioned by cell_x, subsequent bands dynamic-
    overwrite their partitions (live round-trip is skip-documented while
    the runtime jar is absent)."""
    from simple_osm_queries_spark.index import build as B

    calls = []

    class FakeWriter:
        def partitionedBy(self, col):
            calls.append(("partitionedBy", str(col)))
            return self

        def create(self):
            calls.append(("create",))

        def overwritePartitions(self):
            calls.append(("overwritePartitions",))

    class FakeDF:
        def writeTo(self, table):
            calls.append(("writeTo", table))
            return FakeWriter()

    class FakeCatalog:
        def __init__(self, exists):
            self._exists = exists

        def tableExists(self, table):
            return self._exists

    class FakeSpark:
        def __init__(self, exists):
            self.catalog = FakeCatalog(exists)

    B._iceberg_write_band(FakeSpark(False), FakeDF(), "soq_iceberg.db.t")
    assert calls == [
        ("writeTo", "soq_iceberg.db.t"),
        ("partitionedBy", "Column<'cell_x'>"),
        ("create",),
    ]
    calls.clear()
    B._iceberg_write_band(FakeSpark(True), FakeDF(), "soq_iceberg.db.t")
    assert calls == [("writeTo", "soq_iceberg.db.t"), ("overwritePartitions",)]


def test_iceberg_changed_input_drops_table(spark, tmp_path, monkeypatch):
    """backend='iceberg' + changed input fingerprint must DROP the table
    before rewriting (overwritePartitions only replaces partitions present
    in the new input — stale cell_x partitions would otherwise survive)."""
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.index import build as B

    df = spark.range(50).select(
        F.col("id"),
        (F.col("id") % 5).cast("int").alias("cell_x"),
        (F.col("id") % 7).cast("int").alias("cell_y"),
        (F.col("id") * 0.001).alias("lat"),
    )
    out = str(tmp_path / "idx")
    band_calls = []
    monkeypatch.setattr(
        B, "_iceberg_write_band", lambda s, d, t, pc="cell_x": band_calls.append(t)
    )
    sqls = []
    orig_sql = type(spark).sql
    monkeypatch.setattr(
        type(spark), "sql", lambda self, q, *a, **k: sqls.append(q)
    )
    try:
        B.build_index(df, out, "fp-1", backend="iceberg", iceberg_table="soq_iceberg.db.t")
        assert band_calls and not [s for s in sqls if "DROP TABLE" in s]
        band_calls.clear()
        # same fingerprint: manifests short-circuit, no writes, no drop
        B.build_index(df, out, "fp-1", backend="iceberg", iceberg_table="soq_iceberg.db.t")
        assert not band_calls and not [s for s in sqls if "DROP TABLE" in s]
        # changed fingerprint: wipe + DROP TABLE + full rewrite
        B.build_index(df, out, "fp-2", backend="iceberg", iceberg_table="soq_iceberg.db.t")
        assert band_calls
        assert [s for s in sqls if "DROP TABLE IF EXISTS soq_iceberg.db.t" in s]
    finally:
        monkeypatch.setattr(type(spark), "sql", orig_sql)


def test_upsert_partition_scoped(dataset, tmp_path, spark):
    """Incremental upsert rewrites ONLY the affected partition directories:
    in-place update, cross-partition move, insert, and delete all land;
    untouched directories keep their exact files; a replayed delta
    fingerprint is a no-op."""
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.index import upsert

    out = str(tmp_path / "idx_up")
    build.build_index(dataset.nodes, out, input_fingerprint="fp1", max_rows_per_band=10**6)
    idx = build.read_index(spark, out)
    before = {r.id: r.asDict() for r in idx.collect()}
    ids = sorted(before)
    # pick the three touched ids from ONE partition so at least one other
    # partition stays untouched (the tiny fixture has only a few cell_x)
    by_part: dict[int, list[int]] = {}
    for i in ids:
        by_part.setdefault(before[i]["cell_x"], []).append(i)
    donor = max(by_part, key=lambda p: len(by_part[p]))
    assert len(by_part) >= 2, "fixture needs >=2 partitions"
    a_id, b_id, del_id = sorted(by_part[donor])[:3]
    new_id = max(ids) + 1

    # delta: A keeps its cell but gets new tags; B moves ~5 deg east (new
    # cell_x); NEW is an insert at A's location
    src = dataset.nodes
    base = src.filter(F.col("id").isin([a_id, b_id]))
    moved_lon = F.col("lon") + F.lit(5.0)
    delta = (
        base.withColumn(
            "tags",
            F.when(F.col("id") == a_id, F.create_map(F.lit("upserted"), F.lit("yes")))
            .otherwise(F.col("tags")),
        )
        .withColumn("lon", F.when(F.col("id") == b_id, moved_lon).otherwise(F.col("lon")))
        .withColumn("cell_x", C.cell_x(F.col("lon")))
        .withColumn("cell_y", C.cell_y(F.col("lat")))
    )
    insert = src.filter(F.col("id") == a_id).withColumn("id", F.lit(new_id))
    delta = delta.unionByName(insert.select(*delta.columns))
    deletes = spark.createDataFrame([(del_id,)], "id long")

    # an untouched partition's files must not change
    data = os.path.join(out, "data")
    affected_vals = {r.cell_x for r in delta.select("cell_x").collect()}
    affected_vals |= {before[i]["cell_x"] for i in (a_id, b_id, del_id)}
    untouched = next(
        d for d in sorted(os.listdir(data))
        if d.startswith("cell_x=") and int(d.split("=")[1]) not in affected_vals
    )
    def snap(d):
        p = os.path.join(data, d)
        return {f: (os.path.getsize(os.path.join(p, f)), os.path.getmtime(os.path.join(p, f)))
                for f in os.listdir(p)}
    pre = snap(untouched)

    r = upsert.upsert_index(spark, out, delta, "delta-1", deletes=deletes)
    assert r["affected_partitions"] >= 2 and not r["skipped"]
    assert snap(untouched) == pre, "untouched partition dir was rewritten"

    after = {x.id: x.asDict() for x in build.read_index(spark, out).collect()}
    assert del_id not in after
    assert after[a_id]["tags"] == {"upserted": "yes"}
    assert after[a_id]["cell_x"] == before[a_id]["cell_x"]
    assert after[b_id]["lon"] == pytest.approx(before[b_id]["lon"] + 5.0)
    assert after[b_id]["cell_x"] != before[b_id]["cell_x"]
    assert new_id in after
    # every other row byte-identical
    for i in ids:
        if i in (a_id, b_id, del_id):
            continue
        assert after[i] == before[i]
    assert len(after) == len(before)  # -1 delete +1 insert

    # replay: manifest short-circuits, content unchanged
    r2 = upsert.upsert_index(spark, out, delta, "delta-1", deletes=deletes)
    assert r2["skipped"]
    assert {x.id for x in build.read_index(spark, out).collect()} == set(after)


def test_upsert_rejects_schema_drift(dataset, tmp_path, spark):
    from simple_osm_queries_spark.index import upsert

    out = str(tmp_path / "idx_up2")
    build.build_index(dataset.nodes, out, input_fingerprint="fp1", max_rows_per_band=10**6)
    bad = dataset.nodes.drop("tags")
    with pytest.raises(ValueError, match="delta schema"):
        upsert.upsert_index(spark, out, bad, "delta-x")


def test_cli_upsert_command(dataset, tmp_path, spark, capsys):
    from simple_osm_queries_spark import cli

    out = str(tmp_path / "idx_cli")
    build.build_index(dataset.nodes, out, input_fingerprint="fp1", max_rows_per_band=10**6)
    delta_dir = str(tmp_path / "delta.parquet")
    dataset.nodes.limit(3).withColumn(
        "tags", F.create_map(F.lit("via"), F.lit("cli"))
    ).write.parquet(delta_dir)
    args = type("A", (), {
        "delta": delta_dir, "index": out, "deletes": None,
        "partition_col": "cell_x", "fingerprint": "cli-delta-1",
    })()
    cli.cmd_upsert(spark, args)
    assert "upserted" in capsys.readouterr().out
    got = {r.id: r.tags for r in build.read_index(spark, out).collect()}
    changed = [t for t in got.values() if t == {"via": "cli"}]
    assert len(changed) == 3
    # replay is a no-op
    cli.cmd_upsert(spark, args)
    assert "skipped" in capsys.readouterr().out


def test_upsert_emptied_partition_is_dropped(spark, tmp_path):
    """Code-review r4 regression (CONFIRMED repro): dynamic overwrite never
    rewrites a partition absent from the output, so deleting/moving every
    row out of a partition must drop its directory explicitly — stale rows
    must not survive, and a moved row must not exist twice."""
    from simple_osm_queries_spark.index import upsert

    out = str(tmp_path / "idx_empty")
    df = spark.createDataFrame(
        [(i, i % 3, 0, 53.5) for i in range(6)],
        "id long, cell_x int, cell_y int, lat double",
    )
    build.build_index(df, out, input_fingerprint="fp", max_rows_per_band=1000)
    # delete BOTH rows of cell_x=1 (ids 1 and 4); move id 2 from cell_x=2
    # to cell_x=0 — leaving cell_x=2 populated only by id 5
    delta = spark.createDataFrame(
        [(2, 0, 0, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )
    deletes = spark.createDataFrame([(1,), (4,)], "id long")
    r = upsert.upsert_index(spark, out, delta, "empty-1", deletes=deletes)
    assert r["affected_partitions"] == 3  # 0 (target), 1 (emptied), 2 (source)
    got = sorted((x.id, x.cell_x) for x in build.read_index(spark, out).collect())
    assert got == [(0, 0), (2, 0), (3, 0), (5, 2)]
    assert not os.path.exists(os.path.join(out, "data", "cell_x=1"))

    # now empty cell_x=2 entirely via delete: its directory must vanish too
    r2 = upsert.upsert_index(
        spark, out, delta.limit(0), "empty-2",
        deletes=spark.createDataFrame([(5,)], "id long"),
    )
    assert r2["affected_partitions"] == 1
    assert not os.path.exists(os.path.join(out, "data", "cell_x=2"))
    got2 = sorted(x.id for x in build.read_index(spark, out).collect())
    assert got2 == [0, 2, 3]


def test_upsert_manifests_wiped_on_rebuild(spark, tmp_path):
    """Code-review r4: a changed-input rebuild must invalidate upsert
    manifests, or replayed deltas silently no-op against the new build."""
    from simple_osm_queries_spark.index import upsert

    out = str(tmp_path / "idx_wipe")
    df = spark.createDataFrame(
        [(i, i % 2, 0, 53.5) for i in range(4)],
        "id long, cell_x int, cell_y int, lat double",
    )
    build.build_index(df, out, input_fingerprint="fpA", max_rows_per_band=1000)
    delta = spark.createDataFrame([(0, 0, 9, 53.5)], "id long, cell_x int, cell_y int, lat double")
    assert not upsert.upsert_index(spark, out, delta, "d1")["skipped"]
    # rebuild with different input: the delta must apply AGAIN
    build.build_index(df, out, input_fingerprint="fpB", max_rows_per_band=1000)
    assert not upsert.upsert_index(spark, out, delta, "d1")["skipped"]
    got = {x.id: x.cell_y for x in build.read_index(spark, out).collect()}
    assert got[0] == 9


def test_upsert_rejects_type_drift(dataset, tmp_path, spark):
    from simple_osm_queries_spark.index import upsert

    out = str(tmp_path / "idx_ty")
    build.build_index(dataset.nodes, out, input_fingerprint="fp1", max_rows_per_band=10**6)
    bad = dataset.nodes.withColumn("lat", F.col("lat").cast("float"))
    with pytest.raises(ValueError, match="types must match"):
        upsert.upsert_index(spark, out, bad, "delta-ty")


def test_upsert_with_id_lookup_projection(spark, tmp_path):
    """The maintained (id, partition) projection path must find moved ids'
    old partitions exactly like the full-index lookup."""
    from simple_osm_queries_spark.index import upsert

    out = str(tmp_path / "idx_lkp")
    df = spark.createDataFrame(
        [(i, i % 3, 0, 53.5) for i in range(9)],
        "id long, cell_x int, cell_y int, lat double",
    )
    build.build_index(df, out, input_fingerprint="fp", max_rows_per_band=1000)
    delta = spark.createDataFrame(
        [(1, 0, 0, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )  # id 1 moves cell_x 1 -> 0
    r = upsert.upsert_index(spark, out, delta, "lkp-1")
    assert r["used_lookup"]
    assert r["affected_partitions"] == 2
    got = sorted((x.id, x.cell_x) for x in build.read_index(spark, out).collect())
    assert (1, 0) in got and (1, 1) not in got
    assert len(got) == 9


def test_upsert_deletes_win_and_dup_ids_rejected(spark, tmp_path):
    """Review-r4 contract fixes: an id in both delta and deletes is removed
    (deletes win — 'removes ids entirely'); duplicate ids within one delta
    raise instead of silently breaking id uniqueness."""
    from simple_osm_queries_spark.index import upsert

    out = str(tmp_path / "idx_sem")
    df = spark.createDataFrame(
        [(i, i % 2, 0, 53.5) for i in range(4)],
        "id long, cell_x int, cell_y int, lat double",
    )
    build.build_index(df, out, input_fingerprint="fp", max_rows_per_band=1000)
    delta = spark.createDataFrame(
        [(0, 0, 7, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )
    deletes = spark.createDataFrame([(0,)], "id long")
    upsert.upsert_index(spark, out, delta, "sem-1", deletes=deletes)
    got = sorted(x.id for x in build.read_index(spark, out).collect())
    assert got == [1, 2, 3]  # id 0 deleted despite being in the delta

    dup = spark.createDataFrame(
        [(1, 1, 0, 53.5), (1, 1, 1, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        upsert.upsert_index(spark, out, dup, "sem-2")


def _mini_index(spark, tmp_path, name):
    from simple_osm_queries_spark.index import build as B

    out = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, i % 3, 0, 53.5) for i in range(6)],
        "id long, cell_x int, cell_y int, lat double",
    )
    B.build_index(df, out, input_fingerprint="fp", max_rows_per_band=1000)
    return out


def test_upsert_crash_mid_commit_recovers_forward(spark, tmp_path, monkeypatch):
    """VERDICT r4 #2: a hard crash inside the partition swap must not lose
    survivor rows. The snapshot protocol keeps every partition's bytes in
    exactly one of data/backup/stage; recover_pending_upserts (run
    automatically by the next upsert) rolls the commit forward."""
    from simple_osm_queries_spark.index import build as B
    from simple_osm_queries_spark.index import layout, upsert
    from tests.index_faults import crash_mid_commit

    out = _mini_index(spark, tmp_path, "idx_crash")
    delta = spark.createDataFrame(
        [(2, 0, 0, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )  # id 2 moves cell_x 2 -> 0
    deletes = spark.createDataFrame([(1,), (4,)], "id long")  # empties cell_x=1

    monkeypatch.setattr(layout, "_commit_partitions", crash_mid_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert.upsert_index(spark, out, delta, "crash-1", deletes=deletes)
    monkeypatch.undo()

    # the replayed fingerprint recovers the pending commit, then skips
    r = upsert.upsert_index(spark, out, delta, "crash-1", deletes=deletes)
    assert r["skipped"]
    got = sorted((x.id, x.cell_x) for x in B.read_index(spark, out).collect())
    assert got == [(0, 0), (2, 0), (3, 0), (5, 2)]
    assert not os.path.exists(os.path.join(out, "data", "cell_x=1"))
    # the finalized manifest exists and the pending marker is gone
    ups = os.listdir(os.path.join(out, "_upserts"))
    assert any(u.endswith(".json") for u in ups)
    assert not any(u.endswith(".pending") for u in ups)


def test_read_index_version_time_travel_and_gc(spark, tmp_path):
    """VERDICT r4 #8: versioned reads over the retained snapshots, plus the
    documented GC retention policy."""
    from simple_osm_queries_spark.index import build as B
    from simple_osm_queries_spark.index import upsert

    out = _mini_index(spark, tmp_path, "idx_tt")
    v0 = sorted((x.id, x.cell_x, x.cell_y) for x in B.read_index(spark, out).collect())

    delta1 = spark.createDataFrame(
        [(2, 0, 0, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )
    deletes1 = spark.createDataFrame([(1,), (4,)], "id long")
    r1 = upsert.upsert_index(spark, out, delta1, "tt-1", deletes=deletes1)
    assert r1["version"] == 1
    v1 = sorted((x.id, x.cell_x, x.cell_y) for x in B.read_index(spark, out).collect())

    delta2 = spark.createDataFrame(
        [(0, 0, 9, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )
    r2 = upsert.upsert_index(spark, out, delta2, "tt-2")
    assert r2["version"] == 2
    v2 = sorted((x.id, x.cell_x, x.cell_y) for x in B.read_index(spark, out).collect())

    def snap(version):
        return sorted(
            (x.id, x.cell_x, x.cell_y)
            for x in upsert.read_index_version(spark, out, version).collect()
        )

    assert snap(2) == v2
    assert snap(1) == v1
    assert snap(0) == v0
    assert v0 != v1 != v2
    with pytest.raises(ValueError, match="not in"):
        upsert.read_index_version(spark, out, 3)

    # GC all but the newest snapshot: version 1 stays readable (it needs
    # only upsert 2's backup), version 0 raises with a clear message
    assert upsert.gc_snapshots(spark, out, retain=1) == 1
    assert snap(1) == v1
    with pytest.raises(ValueError, match="garbage-collected"):
        upsert.read_index_version(spark, out, 0)


def test_upsert_maintained_lookup_used_and_repaired(spark, tmp_path):
    """The auto-maintained (id, partition) projection: bootstrapped by the
    first upsert, USED by the second (no full two-column index scan), kept
    partition-scoped in sync (emptied dirs dropped), and repaired by
    fallback when its version stamp goes stale."""
    import json as _json

    from simple_osm_queries_spark.index import build as B
    from simple_osm_queries_spark.index import upsert

    out = _mini_index(spark, tmp_path, "idx_lkauto")
    # r5: the BUILD seeds the lookup at version 0, so even the first
    # upsert resolves affected partitions without a full two-column scan
    state_path = os.path.join(out, "_lookup", "_state.json")
    assert _json.load(open(state_path))["version"] == 0
    delta1 = spark.createDataFrame(
        [(2, 0, 0, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )
    r1 = upsert.upsert_index(spark, out, delta1, "lk-1")
    assert r1["used_lookup"]
    assert _json.load(open(state_path))["version"] == 1

    # second upsert trusts the projection and still finds the moved id's
    # OLD partition through it (id 5 moves cell_x 2 -> 1)
    delta2 = spark.createDataFrame(
        [(5, 1, 0, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )
    r2 = upsert.upsert_index(spark, out, delta2, "lk-2")
    assert r2["used_lookup"]
    assert r2["affected_partitions"] == 2  # source 2 (now emptied) + target 1
    got = sorted((x.id, x.cell_x) for x in B.read_index(spark, out).collect())
    assert (5, 1) in got and (5, 2) not in got
    # cell_x=2 is now empty: both the data dir AND its lookup dir are gone
    assert not os.path.exists(os.path.join(out, "data", "cell_x=2"))
    assert not os.path.exists(os.path.join(out, "_lookup", "data", "cell_x=2"))
    # the lookup matches the index exactly
    lk = sorted(
        (x.id, x.cell_x)
        for x in spark.read.parquet(os.path.join(out, "_lookup", "data")).collect()
    )
    assert lk == got

    # stale stamp -> fallback scan + repair (tamper through the same FS API
    # the engine writes with, or the local-FS checksum sidecar goes stale)
    fsio.fs_write_text_atomic(spark, state_path, _json.dumps({"version": 99}))
    delta3 = spark.createDataFrame(
        [(0, 0, 5, 53.5)], "id long, cell_x int, cell_y int, lat double"
    )
    r3 = upsert.upsert_index(spark, out, delta3, "lk-3")
    assert not r3["used_lookup"]
    assert _json.load(open(state_path))["version"] == 3


def test_upsert_random_sequence_matches_dict_oracle(spark, tmp_path):
    """Randomized end-to-end protocol check: a deterministic sequence of
    mixed upserts (in-place updates, cross-partition moves, inserts,
    deletes) against a driver-side dict oracle — after every step the
    index equals the oracle, every RETAINED version replays its recorded
    snapshot, and a mid-sequence crash+recovery changes nothing."""
    import random

    from simple_osm_queries_spark.index import build as B
    from simple_osm_queries_spark.index import upsert

    rng = random.Random(42)
    out = str(tmp_path / "idx_rand")
    oracle = {i: (i % 4, 0) for i in range(24)}  # id -> (cell_x, cell_y)

    def df_of(rows):
        return spark.createDataFrame(
            [(i, cx, cy, 53.5) for i, (cx, cy) in rows],
            "id long, cell_x int, cell_y int, lat double",
        )

    B.build_index(df_of(sorted(oracle.items())), out, input_fingerprint="fp",
                  max_rows_per_band=1000)
    snapshots = {0: dict(oracle)}
    next_id = 24
    for step in range(1, 6):
        delta_rows = {}
        deletes = set()
        for _ in range(rng.randint(1, 4)):  # updates/moves
            if not oracle:
                break
            i = rng.choice(sorted(oracle))
            delta_rows[i] = (rng.randint(0, 5), rng.randint(0, 9))
        for _ in range(rng.randint(0, 2)):  # inserts
            delta_rows[next_id] = (rng.randint(0, 5), rng.randint(0, 9))
            next_id += 1
        for _ in range(rng.randint(0, 2)):  # deletes (may overlap delta)
            pool = sorted(set(oracle) | set(delta_rows))
            deletes.add(rng.choice(pool))
        r = upsert.upsert_index(
            spark, out, df_of(sorted(delta_rows.items())), f"rand-{step}",
            deletes=spark.createDataFrame([(i,) for i in sorted(deletes)] or [(10**9,)], "id long"),
        )
        assert r["version"] == step
        for i, v in delta_rows.items():
            oracle[i] = v
        for i in deletes:
            oracle.pop(i, None)
        snapshots[step] = dict(oracle)
        got = {x.id: (x.cell_x, x.cell_y) for x in B.read_index(spark, out).collect()}
        assert got == oracle, f"step {step}"

    # every retained version replays its snapshot
    for v, snap in snapshots.items():
        got = {
            x.id: (x.cell_x, x.cell_y)
            for x in upsert.read_index_version(spark, out, v).collect()
        }
        assert got == snap, f"version {v}"

    # gc to the last two snapshots: old versions raise, retained ones hold
    upsert.gc_snapshots(spark, out, retain=2)
    got = {
        x.id: (x.cell_x, x.cell_y)
        for x in upsert.read_index_version(spark, out, 4).collect()
    }
    assert got == snapshots[4]
    with pytest.raises(ValueError, match="garbage-collected"):
        upsert.read_index_version(spark, out, 1)
