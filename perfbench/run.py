"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``;
set-up (input generation, load, warm-up pass) is repeated and its median
reported; the workload's ops then run for ``--seconds`` and every answer is
checked against an independent oracle after the window closes. The last
stdout line is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics (from spans, Spark's status store and executed plans)
with ``--trace 1``. Workloads, metrics and their meaning are listed in
BENCHMARK.json and perfbench/catalog.json.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
LABEL_SAMPLE = 10  # traced calls per label read back from the status store


class Ctx:
    """What a workload gets: the session, its seed and size, a scratch
    directory inside the checkout, the tracer and the status reader."""

    def __init__(self, spark, seed, size, workdir, trace, tracer, reader):
        self.spark, self.seed, self.size = spark, seed, size
        self.workdir, self.trace = workdir, trace
        self.tracer, self.reader = tracer, reader
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.stage_totals: dict[str, dict] = {}  # op id -> summed stage metrics
        self.traced_walls: list[tuple[float, float]] = []  # traced rotations/cycles

    current_op = ""  # op id of the call in progress, for per-call counters

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


def load_catalog() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["end_to_end"], bench["per_layer"]


def workload_class(name: str):
    if name == "serve_osm":
        from w_serve import ServeOsm as cls
    elif name == "batch":
        from w_batch import Batch as cls
    else:
        raise SystemExit(f"unknown workload {name!r}")
    return cls


def batch_window(ctx: Ctx, wl, seconds: float):
    """Closed loop of one client: whole rotations over the workload's ops,
    so every run has the same mix; another rotation starts only if the
    last one would still end before the deadline. In a traced run every
    other rotation is traced (at least two), so the untraced rotations give
    the tracing overhead."""
    from harness import OpRecord, process_tree, tree_cpu_s

    recs, rotation = [], 0
    baseline = ctx.reader.persisted_rdds()
    leaked = []
    deadline = time.time() + seconds
    while True:
        t_rotation = time.time()
        traced = ctx.trace and rotation % 2 == 0
        for label, fn in wl.ops():
            op_id = ctx.tracer.new_op_id(label)
            pids = process_tree(ctx.jvm_pid) + [os.getpid()] if traced else []
            cpu0 = tree_cpu_s(pids)
            rec = OpRecord(label, time.time(), 0.0, traced, op_id=op_id)
            try:
                ctx.current_op = op_id
                with ctx.tracer.span(label, op_id, group=True) if traced else contextlib.nullcontext():
                    rec.rows, rec.check = fn()
            except Exception:
                rec.ok = False
                traceback.print_exc(file=sys.stderr)
            rec.t1 = time.time()
            rec.cpu_s = tree_cpu_s(pids) - cpu0
            recs.append(rec)
            leaked.append((ctx.reader.persisted_rdds() - baseline, label))
        rotation += 1
        if traced:
            ctx.traced_walls.append((t_rotation, time.time()))
        last = time.time() - t_rotation
        if time.time() + last > deadline and rotation >= (2 if ctx.trace else 1):
            return recs, leaked


def warm_up(ctx: Ctx, wl) -> list[str]:
    """One untimed pass over every op (JIT, codegen, Python workers),
    checked like the timed ones; returns the failures."""
    if hasattr(wl, "warmup"):
        return wl.warmup()
    errors = []
    for label, fn in wl.ops():
        ctx.current_op = f"warm-up {label}"
        try:
            _, check = fn()
            msg = check() if check else None
        except Exception as e:  # a failing op is a failed answer, not a crash
            msg = f"{label}: raised {e!r}"
        if msg:
            errors.append(f"warm-up {msg}")
    return errors


def layer_generic(ctx: Ctx, recs) -> dict[str, dict]:
    """Per label: median wall, and per-call executor CPU, shuffle bytes
    and spill read from the status store for up to LABEL_SAMPLE calls."""
    reader = ctx.reader
    reader.drain()
    out: dict[str, dict] = {}
    by_label: dict[str, list] = {}
    for r in recs:
        if r.traced:
            by_label.setdefault(r.kind, []).append(r)
    for label, rs in by_label.items():
        sample = rs[:LABEL_SAMPLE]
        tots = [reader.stage_totals(reader.stage_ids_of_jobs(reader.group_jobs(r.op_id)))
                for r in sample]
        ctx.stage_totals.update({r.op_id: t for r, t in zip(sample, tots)})
        out[label] = {
            "wall_s": statistics.median([(r.t1 - r.t0) for r in rs]),
            "exec_cpu_s": statistics.fmean([t["cpu_s"] for t in tots]),
            "shuffle_bytes": statistics.fmean([t["shuffle_bytes"] for t in tots]),
            "spill_bytes": statistics.fmean([t["spill_bytes"] for t in tots]),
            "_sample": sample,
        }
    return out


def tracing_overhead(recs) -> float:
    """Geometric mean over labels of median(traced)/median(untraced) - 1."""
    from harness import geomean

    ratios = []
    for label in {r.kind for r in recs}:
        t = [r.ms for r in recs if r.kind == label and r.traced and r.ok]
        u = [r.ms for r in recs if r.kind == label and not r.traced and r.ok]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return geomean(ratios) - 1.0 if ratios else 0.0


def span_coverage(ctx: Ctx) -> float:
    """Share of the traced rotations' (or cycles') wall time that root
    spans cover."""
    from harness import union_length

    walls = ctx.traced_walls
    wall = union_length(walls)
    if not wall:
        return 0.0
    clipped = [(max(s.start, a), min(s.end, b)) for s in ctx.tracer.spans if s.parent is None
               for a, b in walls if s.end > a and s.start < b]
    return union_length(clipped) / wall


def write_spans(ctx: Ctx, workload: str) -> str:
    selfs = ctx.tracer.self_times()
    path = os.path.join(os.getcwd(), ".perfbench", f"spans-{workload}-seed{ctx.seed}.json")
    with open(path, "w") as f:
        json.dump(
            [
                dict(name=s.name, start=s.start, end=s.end, parent=s.parent, id=s.sid,
                     op_id=s.op_id, job_group=s.group, self_s=selfs[s.sid],
                     stages=ctx.stage_totals.get(s.op_id) if s.group else None)
                for s in ctx.tracer.spans
            ],
            f,
        )
    return path


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-check's input sizes")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "simple_osm_queries_spark")):
        print("run from the root of a checkout: simple_osm_queries_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    e2e_specs, layer_specs = load_catalog()
    cls = workload_class(args.workload)

    workdir = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    spark = None
    try:
        import harness as H

        t_session = time.time()
        spark = H.make_spark(workdir, bool(args.trace))
        spark.range(1).count()
        session_s = time.time() - t_session
        reader = H.StatusReader(spark)
        tracer = H.Tracer(spark.sparkContext, bool(args.trace))
        ctx = Ctx(spark, args.seed, args.size, workdir, bool(args.trace), tracer, reader)
        wl = cls(ctx)

        setup_times, setup_errors = [], []
        for rep in range(SETUP_REPS):
            t0 = time.time()
            err = wl.setup(rep)
            setup_times.append(time.time() - t0)
            if err:
                setup_errors.append(err)
        once_s = 0.0
        if hasattr(wl, "setup_once"):
            t0 = time.time()
            err = wl.setup_once()
            once_s = time.time() - t0
            if err:
                setup_errors.append(err)
        setup_s = session_s + statistics.median(setup_times) + once_s
        t0 = time.time()
        setup_errors += warm_up(ctx, wl)
        warmup_s = time.time() - t0

        jvm_tree = H.process_tree(ctx.jvm_pid)
        cpu0 = H.tree_cpu_s(jvm_tree + [os.getpid()])
        t_win = time.time()
        if hasattr(wl, "run_window"):
            recs, leaked = wl.run_window(args.seconds)
        else:
            recs, leaked = batch_window(ctx, wl, args.seconds)
        window_s = time.time() - t_win
        jvm_tree = H.process_tree(ctx.jvm_pid)
        cpu_s = H.tree_cpu_s(jvm_tree + [os.getpid()]) - cpu0
        jvm_mb, children_mb = H.memory_mb(jvm_tree[0], jvm_tree[1:])
        heap_mb = H.heap_live_mb(spark)

        # oracle checks run after the window so they cost the program nothing
        t_checks = time.time()
        failures = list(setup_errors)
        for r in recs:
            msg = None if r.ok else f"{r.kind}: raised"
            if msg is None and r.check is not None:
                try:
                    msg = r.check()
                except Exception as e:  # a crashing check is a failed answer
                    msg = f"{r.kind}: check raised {e!r}"
            if msg:
                r.ok = False
                failures.append(msg)
        for m in failures[:10]:
            print(f"FAILED {m}", file=sys.stderr)
        attempted, failed = len(recs), sum(1 for r in recs if not r.ok)
        checks_s = time.time() - t_checks

        timed = [r for r in recs if not r.traced] or recs
        kinds = sorted({r.kind for r in timed})
        per_kind = {k: [r.ms for r in timed if r.kind == k] for k in kinds}
        values = {"setup_s": setup_s, "cpu_s_per_op": cpu_s / max(1, len(recs))}
        print(f"# workload={args.workload} seed={args.seed} size={args.size} "
              f"cores={H.CORES} window={window_s:.2f}s checks={checks_s:.2f}s "
              f"trace={args.trace}")
        print(f"setup_s = {setup_s:.4f} s (session {session_s:.3f} s + median of "
              f"{[round(t, 3) for t in setup_times]} + once {once_s:.3f} s); "
              f"warm-up pass {warmup_s:.3f} s")
        print(f"latency_ms (all ops) geomean={H.geomean([r.ms for r in timed]):.4g} "
              f"{H.describe([r.ms for r in timed])}")
        for k in kinds:
            print(f"  {k}_ms {H.describe(per_kind[k])}")
        print(f"failed_ratio = {failed / max(1, attempted):.4f} ratio ({failed}/{attempted})")
        print(f"peak_rss_mb = {jvm_mb + children_mb:.0f} MB (JVM peak RSS {jvm_mb:.0f} MB + "
              f"{len(jvm_tree) - 1} child processes' PSS {children_mb:.0f} MB); "
              f"heap_live_mb = {heap_mb:.0f} MB (JVM heap in use after a full GC)")
        worst = max(leaked, default=(0, "-"))
        print(f"persisted RDDs left after an op: max {worst[0]} (first after {worst[1]}, "
              f"n={len(leaked)})")
        for line in wl.summary(recs, window_s) if args.trace else wl.summary(timed, window_s):
            print(line)

        if args.trace:
            metrics = layer_metrics(ctx, wl, recs, leaked, layer_specs)
            print(f"spans written to {write_spans(ctx, args.workload)}")
        else:
            for spec in e2e_specs:
                print(f"{spec['name']} = {values[spec['name']]:.6g} {spec['unit']}")
            metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]}
                       for s in e2e_specs}
        result = {"correct": failed == 0 and not setup_errors, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to exit:
    the gateway JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def layer_metrics(ctx: Ctx, wl, recs, leaked, layer_specs) -> dict:
    """Every per-layer metric named in BENCHMARK.json; a layer this
    workload does not exercise reads 0."""
    generic = layer_generic(ctx, recs)
    vals: dict[str, float] = {}
    for label, g in generic.items():
        for key in ("wall_s", "exec_cpu_s", "shuffle_bytes", "spill_bytes"):
            vals[f"{label}.{key}"] = g[key]
    vals.update(wl.targeted(generic, recs))
    vals["caching.persisted_rdds_after_op"] = float(max(leaked, default=(0, ""))[0])
    vals["trace.overhead_ratio"] = tracing_overhead(recs)
    vals["trace.span_coverage"] = span_coverage(ctx)
    names = {s["name"] for s in layer_specs}
    unknown = sorted(set(vals) - names)
    if unknown:
        print(f"# measured but not in BENCHMARK.json: {unknown}", file=sys.stderr)
    out = {}
    for s in layer_specs:
        v = float(vals.get(s["name"], 0.0))
        out[s["name"]] = {"value": v, "unit": s["unit"]}
        if s["name"] in vals:
            print(f"{s['name']} = {v:.6g} {s['unit']}")
    return out


if __name__ == "__main__":
    sys.exit(main())
