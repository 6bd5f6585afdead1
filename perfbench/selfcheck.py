"""Self-check of the benchmark: every workload at its tiny size, untraced
and traced, must emit exactly the metrics BENCHMARK.json names, with their
units and numeric values, and pass every oracle; and the benchmark must
refuse to run where the package is missing.

    python3 perfbench/selfcheck.py [workload ...]

Run from the root of a checkout; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time


def run(args: list[str], cwd: str) -> tuple[int, list[str], str]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def check_result(lines: list[str], specs: list[dict], trace: int) -> None:
    res = json.loads(lines[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"], sorted(res)
    assert res["correct"] is True and res["failed"] == 0, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
    want = {s["name"]: s["unit"] for s in specs}
    got = res["metrics"]
    assert set(got) == set(want), sorted(set(got) ^ set(want))
    for name, m in got.items():
        assert m["unit"] == want[name], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)
        if not trace:
            assert m["value"] > 0, (name, m)


def check_refuses_without_package(root: str) -> None:
    bare = os.path.join(root, ".perfbench", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(root, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        t0 = time.time()
        code, lines, _ = run(["--workload", "batch", "--seed", "1", "--seconds", "1",
                              "--trace", "0"], bare)
        assert code != 0 and not any(line.startswith("{") for line in lines), (code, lines)
        assert time.time() - t0 < 180
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    check_refuses_without_package(root)
    print("ok: refuses to run without the package")
    for name in names:
        for trace in (0, 1):
            specs = bench["per_layer"] if trace else bench["end_to_end"]
            code, lines, err = run(["--workload", name, "--seed", "1", "--seconds", "2",
                                    "--trace", str(trace), "--size", "tiny"], root)
            if code != 0 or not lines:
                print(err[-3000:], file=sys.stderr)
                raise SystemExit(f"{name} trace={trace}: exit {code}")
            check_result(lines, specs, trace)
            print(f"ok: {name} trace={trace}: {len(specs)} metrics, all oracles pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
