"""Index compaction: plan detection, row-multiset identity, file-count
reduction, untouched-partition byte identity, version bump + time travel
through the shared snapshot protocol, lookup stamp advance, dry_run."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.index import build, compact, upsert
from simple_osm_queries_spark.index.layout import upserts_path


def _rows(df):
    return sorted(
        (r.id, r.lon, r.lat, tuple(sorted((r.tags or {}).items()))) for r in df.collect()
    )


def _files(data_dir, part):
    p = os.path.join(data_dir, part)
    return {
        f: os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if not f.startswith(("_", "."))
    }


@pytest.fixture(scope="module")
def fragmented(dataset, tmp_path_factory, spark):
    """An index fragmented by two partition-scoped upserts: the donor
    partition accumulates several files."""
    out = str(tmp_path_factory.mktemp("cidx") / "idx")
    build.build_index(dataset.nodes, out, input_fingerprint="fp1", max_rows_per_band=10**6)
    idx = build.read_index(spark, out)
    donor = idx.groupBy("cell_x").count().orderBy(F.desc("count")).first().cell_x
    ids = [r.id for r in idx.filter(F.col("cell_x") == donor).select("id").collect()]
    for k, i in enumerate(ids[:2]):
        delta = dataset.nodes.filter(F.col("id") == i).withColumn(
            "tags", F.create_map(F.lit("v"), F.lit(str(k)))
        )
        upsert.upsert_index(spark, out, delta, f"frag-{k}", files_per_cell=4)
    return out, donor


def test_plan_and_compact(fragmented, spark):
    out, donor = fragmented
    data = os.path.join(out, "data")
    donor_dir = f"cell_x={donor}"
    n_before = len(_files(data, donor_dir))
    assert n_before >= 2, "fixture failed to fragment the donor partition"

    plan = compact.compaction_plan(spark, out, target_file_bytes=1 << 30)
    assert any(e["partition"] == donor for e in plan)
    for e in plan:
        assert e["target_files"] == 1 and e["n_files"] >= 2

    before_rows = _rows(build.read_index(spark, out))
    v_before = upsert.current_version(spark, out)
    untouched = [
        d for d in sorted(os.listdir(data))
        if d.startswith("cell_x=")
        and int(d.split("=")[1]) not in {e["partition"] for e in plan}
    ]
    pre = {d: _files(data, d) for d in untouched}

    # dry run touches nothing
    dr = compact.compact_index(spark, out, target_file_bytes=1 << 30, dry_run=True)
    assert dr["dry_run"] and dr["version"] is None
    assert len(_files(data, donor_dir)) == n_before

    r = compact.compact_index(spark, out, target_file_bytes=1 << 30)
    assert r["partitions"] == len(plan)
    assert r["version"] == v_before + 1
    assert len(_files(data, donor_dir)) == 1
    assert _rows(build.read_index(spark, out)) == before_rows
    for d in untouched:
        assert _files(data, d) == pre[d], f"untouched {d} rewritten"

    # time travel: the pre-compaction version still reads (same rows) and
    # its backup holds the pre-compaction files
    old = upsert.read_index_version(spark, out, v_before)
    assert _rows(old) == before_rows
    # a second compaction finds nothing (already at target)
    r2 = compact.compact_index(spark, out, target_file_bytes=1 << 30)
    assert r2["partitions"] == 0 and r2["version"] is None


def test_lookup_stamp_advances(fragmented, spark):
    out, _ = fragmented
    state_path = os.path.join(out, "_lookup", "_state.json")
    assert os.path.exists(state_path), "upserts should have maintained _lookup"
    with open(state_path) as fh:
        stamp = json.load(fh)["version"]
    assert stamp == upsert.current_version(spark, out)
    # therefore the next upsert keeps the fast path
    idx = build.read_index(spark, out)
    any_id = idx.select("id").first().id
    delta = idx.filter(F.col("id") == any_id).withColumn(
        "tags", F.create_map(F.lit("post"), F.lit("compact"))
    )
    r = upsert.upsert_index(spark, out, delta, "post-compact-1")
    assert r["used_lookup"] is True


def test_recover_is_noop_after_commit(fragmented, spark):
    out, _ = fragmented
    assert upsert.recover_pending_upserts(spark, out) == 0


def test_plan_validation(fragmented, spark):
    out, _ = fragmented
    with pytest.raises(ValueError):
        compact.compaction_plan(spark, out, target_file_bytes=0)


def test_compaction_crash_mid_commit_recovers_forward(dataset, tmp_path, spark, monkeypatch):
    """A compaction that dies inside the partition swap loses nothing: its
    pending manifest rolls forward through recover_pending_upserts, like an
    upsert's (both commit through layout.stage_and_commit)."""
    from simple_osm_queries_spark.index import layout
    from tests.index_faults import crash_mid_commit

    out = str(tmp_path / "idx_crash_c")
    build.build_index(dataset.nodes, out, input_fingerprint="fp1", max_rows_per_band=10**6)
    idx = build.read_index(spark, out)
    donor = idx.groupBy("cell_x").count().orderBy(F.desc("count")).first().cell_x
    i = idx.filter(F.col("cell_x") == donor).select("id").first().id
    upsert.upsert_index(spark, out, dataset.nodes.filter(F.col("id") == i), "crash-frag",
                        files_per_cell=4)
    plan = compact.compaction_plan(spark, out, target_file_bytes=1 << 30)
    assert plan, "fixture failed to fragment a partition"
    before_rows = _rows(build.read_index(spark, out))
    v = upsert.current_version(spark, out)

    monkeypatch.setattr(layout, "_commit_partitions", crash_mid_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact.compact_index(spark, out, target_file_bytes=1 << 30)
    monkeypatch.undo()

    assert upsert.recover_pending_upserts(spark, out) == 1
    assert upsert.current_version(spark, out) == v + 1
    assert _rows(build.read_index(spark, out)) == before_rows
    data = os.path.join(out, "data")
    for e in plan:
        assert len(_files(data, f"cell_x={e['partition']}")) == e["target_files"]
    assert not any(u.endswith(".pending") for u in os.listdir(os.path.join(out, "_upserts")))
    assert _rows(upsert.read_index_version(spark, out, v)) == before_rows


def test_cli_compact_command(dataset, tmp_path, spark, capsys):
    from simple_osm_queries_spark import cli

    out = str(tmp_path / "idx_cli_c")
    build.build_index(dataset.nodes, out, input_fingerprint="fp1", max_rows_per_band=10**6)
    donor = (
        build.read_index(spark, out)
        .groupBy("cell_x").count().orderBy(F.desc("count")).first().cell_x
    )
    i = (
        build.read_index(spark, out)
        .filter(F.col("cell_x") == donor).select("id").first().id
    )
    delta = dataset.nodes.filter(F.col("id") == i)
    upsert.upsert_index(spark, out, delta, "cli-frag", files_per_cell=4)
    args = type("A", (), {
        "index": out, "partition_col": "cell_x", "target_file_mb": 1024,
        "min_files": 2, "max_partitions": None, "dry_run": True,
    })()
    cli.cmd_compact(spark, args)
    assert "would compact" in capsys.readouterr().out
    args.dry_run = False
    cli.cmd_compact(spark, args)
    out_text = capsys.readouterr().out
    assert "compacted" in out_text
    # the compaction's commit drops the upsert's backup (SNAPSHOT_RETAIN 1)
    assert "removed 1 old snapshot(s)" in out_text
    backups = [d for d in os.listdir(upserts_path(out)) if d.startswith("backup-")]
    assert len(backups) == upsert.SNAPSHOT_RETAIN
    cli.cmd_compact(spark, args)
    assert "nothing to compact" in capsys.readouterr().out
