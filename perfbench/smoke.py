"""Smoke check of the benchmark itself (about five minutes on 4 cores).

Runs every workload at sf0.001 with a 2-second ingest window, untraced
and traced, and asserts that:

- the last output line is the result object, every check passed, and
  it names exactly the metrics of ``BENCHMARK.json`` with their units;
- the traced run wrote a span file that parses (and prints the tracing
  overhead: traced minus untraced ``work_s`` of the same seed);
- every workload measures every end-to-end metric, and every per-layer
  metric is measured by at least one workload;
- in a directory holding only ``BENCHMARK.json`` and ``perfbench/``
  the command fails without printing a result.

Usage: python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, workload: str, trace: int, extra=()) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_workload(bench: dict, workload: str) -> set[str]:
    """Runs one workload untraced and traced; returns the per-layer
    metrics it does not measure."""
    marker = "not measured by this workload:"
    work_s, unmeasured = {}, set()
    for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
        out = _run(ROOT, workload, trace, extra=("--scale", "0.001"))
        assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}"
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
        assert result["correct"] and result["failed"] == 0, out.stdout[-3000:]
        assert result["attempted"] >= 1
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == {m["name"]: m["unit"] for m in spec}, f"{workload} trace={trace} metric set"
        if trace:
            with open(os.path.join(ROOT, ".perfbench_out", f"trace_{workload}_s1.json")) as fh:
                spans = json.load(fh)
            assert spans["spans"], f"{workload}: no spans"
        line = next(ln for ln in out.stdout.splitlines() if ln.startswith(marker))
        unmeasured = set(line[len(marker):].split())
        assert trace or not unmeasured, f"{workload} leaves out {sorted(unmeasured)}"
        work_s[trace] = result["metrics"]["trace.work_s" if trace else "work_s"]["value"]
        print(f"ok  {workload} trace={trace}", flush=True)
    print(f"    tracing overhead (traced - untraced work_s): {work_s[1] - work_s[0]:.3f} s")
    return unmeasured


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        out = _run(bare, "ingest_steady", 0)
        assert out.returncode != 0, "bare directory run exited 0"
        assert "metrics" not in out.stdout, "bare directory run printed a result"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  bare directory fails", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    check_bare_directory()
    unmeasured = {m["name"] for m in bench["per_layer"]}
    for w in bench["workloads"]:
        unmeasured &= check_workload(bench, w["name"])
    assert not unmeasured, f"no workload measures {sorted(unmeasured)}"
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
