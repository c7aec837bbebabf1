"""Benchmark of the ingestion pipeline and its query layers.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_steady --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``):

- ``ingest_steady``: open loop. Pre-rendered 40-record envelope files
  land in a watched directory every 80 ms (500 records/s, ~1% corrupt)
  by atomic rename while ``IngestionPipeline`` runs on the default
  trigger with all six sinks and Hive partitions on. Two files, each
  its own micro-batch, warm the query up before the window opens. The
  window lasts ``--seconds``; each file's latency runs from when it
  was due to the commit of its micro-batch (read from the checkpoint).
- ``backfill_and_query``: an sf0.01 envelope backlog (50 files, built
  by ``analytics.build_order_events``) is drained ``availableNow`` in
  two batches, then read back: the 5 reference Athena SQL queries, 4
  TPC-H analytics entries and 1 stateful streaming entry.
- ``curation_session``: 6 curation entries run in one fresh session,
  once cold and then three times warm, each pass in a seed-permuted
  order.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the ``end_to_end`` ones of ``BENCHMARK.json``; with
``--trace 1`` they are its ``per_layer`` ones, and the spans are
written to ``.perfbench_out/``. Tracing overhead is
``trace.work_s`` of a traced run minus ``work_s`` of an untraced run
with the same seed. Lines before it name the environment and every
workload-level figure with its unit, and the line ``not measured by
this workload:`` names the reported metrics it leaves at 0.

Figures that cannot be measured from outside the package: the decode
of a batch and the fill of its persisted copy happen inside the first
sink call (``write_errors``), so ``sinks.write_errors_ms`` carries them
and ``stream.getBatch_ms`` does not.

The benchmark pins its environment before Spark starts: every core
(``SPARK_GRAFT_CPUS``), a 3 GiB driver heap, and Spark's local,
streaming scratch and temp directories inside ``.perfbench_work/``,
which is removed when the run ends. Exit code 2 means the package to
measure is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aws_kinesis_data_ingestion_restapi_spark"
DRIVER_MEMORY = "3g"
#: A/B switches of the package that would change what is measured
UNPINNED = ("SPARK_MASTER", "SPARK_GRAFT_NO_SPREAD", "SPARK_GRAFT_AQE_FLOOR",
            "SPARK_GRAFT_STATE_PART_BYTES", "SPARK_GRAFT_SF_DIR")


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="table scale factor override (smoke check only)")
    return p.parse_args(argv)


def pin_environment(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    for key in UNPINNED:
        os.environ.pop(key, None)
    local, scratch, tmp = (os.path.join(work, d) for d in ("spark-local", "stream-scratch", "tmp"))
    for d in (local, scratch, tmp):
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_STREAM_SCRATCH": scratch,
        # the gateway handshake, Python workers and the package's session
        # scratch use the temp dir; keep them inside the checkout
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp
    return cpus


def source_digest() -> str:
    """sha256 over the measured sources (the checkout need not be a git repo)."""
    h = hashlib.sha256()
    for base in (PACKAGE, "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"  # a plain checkout; source_sha256 identifies it
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, check=False)
    except OSError:
        return "unknown"
    return out.stdout.strip() or "unknown"


def environment(cpus: int, args) -> dict:
    import duckdb
    import pyspark

    return {"nproc": cpus, "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "commit": git_commit(), "source_sha256": source_digest(),
            "driver_memory": DRIVER_MEMORY, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import metrics as M
    import sparkproc
    from workloads import WORKLOADS, Run

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus = pin_environment(work)
    run = Run(args, work)
    try:
        WORKLOADS[args.workload](run)
        run.parts["peak_rss_mb"] = sparkproc.peak_rss_mb(run.spark)
        run.parts["failed_share"] = run.failed / max(1, run.attempted)
        if args.trace:
            run.parts["trace.work_s"] = run.e2e["work_s"]
            run.tracer.detach()
            run.tracer.dump(
                os.path.join(ROOT, ".perfbench_out",
                             f"trace_{args.workload}_s{args.seed}.json"),
                {"layers": run.layers, "parts": run.parts, "e2e": run.e2e},
            )
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            sparkproc.stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    print("env " + json.dumps(environment(cpus, args)))
    print(f"latency samples: {run.samples}")
    for name, secs in run.setup_phases.items():
        print(f"setup {name} = {secs} s")
    for name, value in sorted(run.parts.items()):
        print(f"{name} = {value} {M.UNITS[name]}")
    for name, wall in run.walls.items():
        print(f"wall {name} = {wall} s")
    for what in run.problems:
        print(f"FAILED CHECK: {what}")
    if args.trace:
        values, names = {**run.parts, **run.layers}, M.PER_LAYER
    else:
        values, names = run.e2e, M.END_TO_END
    print("not measured by this workload: " + " ".join(n for n, _ in names if n not in values))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
