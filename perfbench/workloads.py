"""The three benchmark workloads.

Each workload function takes a ``Run`` and fills in its end-to-end
figures (``run.e2e``), its per-part and per-layer figures
(``run.parts``) and its operation counts (``run.attempted`` /
``run.failed``). Set-up (session start, fixture build, warm-up) is
timed apart from the work; output checks run after the work.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import random
import statistics
import time

import pyarrow.parquet as pq

import checks
import fixtures
import metrics as M
import sparkproc
from tracing import Tracer, median

# ingest_steady: 40-record files every 80 ms = 500 records/s offered; the
# first WARMUP_FILES land one micro-batch each, before the window opens
FILE_RECORDS = 40
FILE_INTERVAL_S = 0.08
WARMUP_FILES = 2
CORRUPT_SHARE = 0.01
# backfill_and_query: sf0.01 backlog (15,000 records) in 50 files, drained
# in 2 batches (26 + 24 files, so the median file sits in the first); at
# 7,500 records a batch, its per-record part (decode, derive, write) is
# about 40% of its wall, beside the fixed per-batch part
BACKFILL_SF = 0.01
BACKLOG_FILES = 50
FILES_PER_TRIGGER = 26
# curation_session: its entries read documents and embeddings
CURATION_SF = 0.005
CURATION_DOCS = 250
WARM_PASSES = 3
DRAIN_TIMEOUT_S = 120


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.parts: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.samples = 0  # latency samples behind latency_p50_ms / p90
        self.walls: dict[str, float] = {}
        self.setup_phases: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self) -> None:
        self.spark, start_s = sparkproc.start(self.work)
        self.layers["session.start_s"] = start_s
        self.tracer = Tracer(self.spark, enabled=bool(self.args.trace))
        self.tracer.attach()

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one part of set-up (reported beside ``setup_s``)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_phases[name] = time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def timed_collect(self, name: str, build):
        """Run one query to its last row; returns (wall_s, result) where
        result is (cols, dtypes, rows), or None when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.scope(name):
                df = build()
                rows = df.collect()
        except Exception as exc:  # noqa: BLE001 - a raised entry is a counted failure
            self.failed += 1
            self.problems.append(f"{name} raised {type(exc).__name__}: {exc}")
            return time.perf_counter() - t0, None
        self.walls[name] = time.perf_counter() - t0
        return self.walls[name], (df.columns, df.dtypes, rows)

    def check_oracle(self, name: str, result, con, sql: str, rel_tol=None) -> None:
        if result is None:
            return
        why = checks.compare(*result, con, sql, rel_tol=rel_tol)
        self.check(why is None, f"{name}: {why}")


def _pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = (len(vals) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return vals[lo] + (vals[hi] - vals[lo]) * (k - lo)


# -- checkpoint readers (the file source's own log) -----------------------------

def _file_batches(ckpt: str) -> dict[str, int]:
    """Landed file name -> micro-batch id, from the file-source log."""
    out: dict[str, int] = {}
    for log in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(log)
        if base.startswith(".") or base.endswith(".tmp"):
            continue
        with open(log) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _log_times(ckpt: str, log: str) -> dict[int, float]:
    """Micro-batch id -> wall time its entry in the checkpoint's
    ``offsets`` (written as the batch starts) or ``commits`` (written
    when it has finished) log was written."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, log, "*")):
        base = os.path.basename(path)
        if base.isdigit():
            out[int(base)] = os.stat(path).st_mtime_ns / 1e9
    return out


def _wait_committed(ckpt: str, names, timeout_s: float) -> None:
    names = set(names)
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        batches = _file_batches(ckpt)
        commits = _log_times(ckpt, "commits")
        if names <= batches.keys() and all(batches[n] in commits for n in names):
            return
        time.sleep(0.02)
    raise TimeoutError(f"{len(names)} files not committed within {timeout_s}s")


def _parquet_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


def _parquet_stats(root: str) -> tuple[int, int]:
    files = _parquet_files(root)
    return len(files), sum(os.path.getsize(f) for f in files)


def _parquet_rows(root: str) -> int:
    """Rows under a parquet directory, from the file footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(root))


# -- shared pipeline layers -------------------------------------------------------

def _stream_layers(run: Run, scope: str, first_batch: int) -> None:
    """Median progress phases and job counts of the ingestion query."""
    progress = run.tracer.progress_by_scope().get(scope, [])
    data = [p for p in progress if p["batchId"] >= first_batch and p["numInputRows"] > 0]
    run.layers["stream.batches"] = len(data)
    run.layers["stream.records_per_batch"] = median(p["numInputRows"] for p in data)
    for phase in M.STREAM_PHASES:
        run.layers[f"stream.{phase}_ms"] = median(p["durationMs"].get(phase, 0) for p in data)
    if progress:
        jobs = run.tracer.jobs_of_run(progress[0]["runId"])
        stats = run.tracer.job_stats(jobs)
        n = max(1, len(progress))
        run.layers["stream.jobs_per_batch"] = stats["jobs"] / n
        run.layers["stream.tasks_per_batch"] = stats["tasks"] / n
    spans = run.tracer.sink_spans()
    ms = lambda name: median((s["end"] - s["start"]) * 1000 for s in spans if s["name"] == name)  # noqa: E731
    run.layers["sinks.write_errors_ms"] = ms("sinks.write_errors")
    for t in M.TABLES:
        run.layers[f"sinks.write_partitioned_ms.{t}"] = ms(f"sinks.write_partitioned.{t}")
    run.layers["sinks.serving_upsert_ms"] = ms("sinks.serving_upsert")
    touched = [s["buckets_touched"] for s in spans if "buckets_touched" in s]
    run.layers["sinks.serving_buckets_touched"] = statistics.fmean(touched) if touched else 0.0


def _audit_checks(run: Run, audit, n_records: int, n_failed: int) -> None:
    run.tracer.flush()
    got_records = sum(r.get("n_records", 0) for r in audit.records)
    got_failed = sum(r.get("n_failed", 0) for r in audit.records)
    run.layers["audit.n_records"] = got_records
    run.layers["audit.n_failed"] = got_failed
    run.check(got_records == n_records, f"audit n_records {got_records} != {n_records}")
    run.check(got_failed == n_failed, f"audit n_failed {got_failed} != {n_failed}")


def _warehouse_layers(run: Run, warehouse: str, good: int) -> None:
    n_files, n_bytes = _parquet_stats(warehouse)
    run.layers["sinks.files_written"] = n_files
    run.layers["sinks.bytes_per_record"] = n_bytes / max(1, good)


def _warm_drain(run: Run) -> None:
    """Set-up: drain 200 envelopes through every sink once, in
    directories of their own, so the measured drain finds the JVM warm."""
    from aws_kinesis_data_ingestion_restapi_spark.sources.generator import envelope_records
    from aws_kinesis_data_ingestion_restapi_spark.streaming.pipeline import run_pipeline_once

    warm = run.path("warm")
    os.makedirs(os.path.join(warm, "in"))
    with open(os.path.join(warm, "in", "w.json"), "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in envelope_records(200, seed=run.args.seed)) + "\n")
    with run.phase("warm_drain"):
        run_pipeline_once(run.spark, os.path.join(warm, "in"), os.path.join(warm, "wh"),
                          os.path.join(warm, "ckpt"), serving_path=os.path.join(warm, "serving"),
                          errors_path=os.path.join(warm, "errors"),
                          with_partitions=False)


# -- ingest_steady ----------------------------------------------------------------

def ingest_steady(run: Run) -> None:
    from aws_kinesis_data_ingestion_restapi_spark.sources.generator import generate_order_events
    from aws_kinesis_data_ingestion_restapi_spark.sources.events import read_envelope_stream
    from aws_kinesis_data_ingestion_restapi_spark.streaming.observability import AuditListener
    from aws_kinesis_data_ingestion_restapi_spark.streaming.pipeline import IngestionPipeline

    args = run.args
    t_setup = time.perf_counter()
    run.start_spark()
    spark = run.spark
    n_timed = max(1, math.ceil(args.seconds / FILE_INTERVAL_S))
    n_files = WARMUP_FILES + n_timed
    staged, landing = run.path("staged"), run.path("landing")
    ckpt, wh = run.path("ckpt"), run.path("warehouse")
    serving, errors = run.path("serving"), run.path("errors")
    os.makedirs(landing)

    events = generate_order_events(n_files * FILE_RECORDS, seed=args.seed, unique_order_ids=False)
    rng = random.Random(args.seed)
    bad = set(rng.sample(range(len(events)), round(len(events) * CORRUPT_SHARE)))
    names = [f"f{i:05d}.json" for i in range(n_files)]

    os.makedirs(staged)
    for i, name in enumerate(names):
        lines = []
        for j in range(i * FILE_RECORDS, (i + 1) * FILE_RECORDS):
            ev = events[j]
            lines.append(fixtures.corrupt_envelope(rng, ev) if j in bad
                         else fixtures.render_envelope(ev))
        with open(os.path.join(staged, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    audit = AuditListener()
    spark.streams.addListener(audit)
    pipeline = IngestionPipeline(spark, wh, serving_path=serving, errors_path=errors,
                                 with_partitions=True)
    with run.tracer.tagged("ingest"):
        query = pipeline.start(read_envelope_stream(spark, landing), checkpoint=ckpt)
    try:
        with run.phase("warm_batches"):
            for name in names[:WARMUP_FILES]:
                os.rename(os.path.join(staged, name), os.path.join(landing, name))
                _wait_committed(ckpt, [name], DRAIN_TIMEOUT_S)
        run.e2e["setup_s"] = time.perf_counter() - t_setup

        # -- timed window: open loop. The pipeline runs on its own JVM
        # threads; this thread only lands files on schedule, never waiting
        # for a batch, and times each file from when it was due.
        timed = names[WARMUP_FILES:]
        due = {}
        late_ms = []
        t0 = time.time() + 0.05
        for k, name in enumerate(timed):
            due[name] = t0 + k * FILE_INTERVAL_S
            pause = due[name] - time.time()
            if pause > 0:
                time.sleep(pause)
            os.rename(os.path.join(staged, name), os.path.join(landing, name))
            late_ms.append((time.time() - due[name]) * 1000.0)
        _wait_committed(ckpt, timed, DRAIN_TIMEOUT_S)
    finally:
        query.stop()

    batches, commits = _file_batches(ckpt), _log_times(ckpt, "commits")
    starts = _log_times(ckpt, "offsets")
    lat = [(commits[batches[n]] - due[n]) * 1000.0 for n in timed]
    delivered = sum(1 for j in range(WARMUP_FILES * FILE_RECORDS, len(events)) if j not in bad)
    # At this rate the engine starts the next batch as soon as one commits
    # (tens of ms apart), so the timed batches' summed busy time is about
    # the window itself; their mean busy time is what the pipeline sets.
    busy = [commits[b] - starts[b] for b in {batches[n] for n in timed}]
    run.e2e["work_s"] = statistics.fmean(busy)
    run.e2e["latency_p50_ms"] = _pct(lat, 50)
    run.e2e["latency_p90_ms"] = _pct(lat, 90)
    run.parts.update({
        "ingest_latency_p50_ms": run.e2e["latency_p50_ms"],
        "ingest_latency_p90_ms": run.e2e["latency_p90_ms"],
        # falls below the offered rate as the backlog (and the tail) grows
        "ingest_records_per_s": delivered / (max(commits[batches[n]] for n in timed) - t0),
        "gen.late_ms.p90": _pct(late_ms, 90),
        "gen.late_ms.max": max(late_ms),
    })
    run.layers["stream.backlog_files_max"] = max(
        sum(1 for n in timed if due[n] <= due[m] < commits[batches[n]]) for m in timed
    )
    run.samples = len(lat)
    # every batch (warm-up and timed) is one attempted operation
    run.attempted += len(commits)

    # -- checks (untimed) -------------------------------------------------------
    good = [events[j] for j in range(len(events)) if j not in bad]
    n_products = sum(len(e["product_details"]) for e in good)
    for table in M.TABLES:
        want = n_products if table == "product_details" else len(good)
        got = _parquet_rows(os.path.join(wh, table))
        run.check(got == want, f"{table} rows {got} != {want}")
    n_err = _parquet_rows(os.path.join(errors, "errors"))
    run.check(n_err == len(bad), f"errors rows {n_err} != {len(bad)}")
    _audit_checks(run, audit, len(events), len(bad))
    spark.streams.removeListener(audit)
    _serving_check(run, serving, events, bad, names, batches)
    _warehouse_layers(run, wh, len(good))
    if run.tracer.enabled:
        _stream_layers(run, "ingest", WARMUP_FILES)


def _serving_check(run, serving, events, bad, names, batches) -> None:
    """Last-write-wins per (customer_id, order_id): the stored row is
    one of the key's records from the latest batch that carried it."""
    latest: dict[tuple, tuple[int, set]] = {}
    for j, ev in enumerate(events):
        if j in bad:
            continue
        b = batches[names[j // FILE_RECORDS]]
        key = (ev["customer_id"], ev["order_id"])
        ident = (ev["order_date"], ev["shipping_address"]["zip"])
        seen = latest.get(key)
        if seen is None or b > seen[0]:
            latest[key] = (b, {ident})
        elif b == seen[0]:
            seen[1].add(ident)
    rows = run.spark.read.parquet(serving).selectExpr(
        "customer_id", "order_id", "order_date", "shipping_address.zip"
    ).collect()
    run.layers["sinks.serving_store_rows"] = len(rows)
    run.check(len(rows) == len(latest), f"serving rows {len(rows)} != keys {len(latest)}")
    wrong = sum(1 for r in rows
                if (r[2], r[3]) not in latest.get((r[0], r[1]), (0, set()))[1])
    run.check(wrong == 0, f"serving: {wrong} keys not last-write-wins")


# -- backfill_and_query -------------------------------------------------------------

def backfill_and_query(run: Run) -> None:
    from aws_kinesis_data_ingestion_restapi_spark.catalog import register_derived_tables
    from aws_kinesis_data_ingestion_restapi_spark.queries import REFERENCE_SQL
    from aws_kinesis_data_ingestion_restapi_spark.registry import ORACLE_SQL, QUERY_FNS
    from aws_kinesis_data_ingestion_restapi_spark.sources.events import read_envelope_stream
    from aws_kinesis_data_ingestion_restapi_spark.streaming.observability import AuditListener
    from aws_kinesis_data_ingestion_restapi_spark.streaming.pipeline import IngestionPipeline

    args = run.args
    t_setup = time.perf_counter()
    run.start_spark()
    spark = run.spark
    td, backlog = run.path("tables"), run.path("backlog")
    ckpt, wh = run.path("ckpt"), run.path("warehouse")
    sf = args.scale or BACKFILL_SF
    counts = fixtures.write_tables(td, sf, args.seed)
    n_records = counts["orders"]  # one event per order

    with run.phase("backlog"):
        _write_backlog(spark, td, backlog)

    _warm_drain(run)
    run.e2e["setup_s"] = time.perf_counter() - t_setup

    # -- timed: drain the backlog, then read it back ------------------------------
    audit = AuditListener()
    spark.streams.addListener(audit)
    pipeline = IngestionPipeline(spark, wh, serving_path=run.path("serving"),
                                 errors_path=run.path("errors"), with_partitions=False)
    t0 = time.time()
    with run.tracer.tagged("ingest"):
        query = pipeline.start(
            read_envelope_stream(spark, backlog, max_files_per_trigger=FILES_PER_TRIGGER),
            checkpoint=ckpt, trigger={"availableNow": True},
        )
    try:
        finished = query.awaitTermination(DRAIN_TIMEOUT_S)
    finally:
        if query.isActive:
            query.stop()
    drain_s = time.time() - t0
    run.check(bool(finished), f"backfill drain did not finish in {DRAIN_TIMEOUT_S}s")
    batches, commits = _file_batches(ckpt), _log_times(ckpt, "commits")
    run.attempted += len(commits)
    lat = [(commits[b] - t0) * 1000.0 for b in batches.values()]
    run.check(len(lat) == BACKLOG_FILES, f"backfill committed {len(lat)} of {BACKLOG_FILES} files")

    t_read = time.perf_counter()
    with run.tracer.scope("catalog.register"):
        register_derived_tables(spark, wh)
    run.layers["catalog.register_s"] = time.perf_counter() - t_read
    sql = {}
    for q in M.ATHENA_QUERIES:
        sql[q] = run.timed_collect(f"athena.{q}", lambda q=q: spark.sql(REFERENCE_SQL[q]))
    entries = {}
    for e in M.ANALYTICS_ENTRIES + M.STATEFUL_ENTRIES:
        entries[e] = run.timed_collect(e, lambda e=e: QUERY_FNS[e](spark, td))
    read_s = time.perf_counter() - t_read

    run.e2e["work_s"] = drain_s + read_s
    run.e2e["latency_p50_ms"] = _pct(lat, 50)
    run.e2e["latency_p90_ms"] = _pct(lat, 90)
    run.samples = len(lat)
    run.parts.update({
        "backfill_records_per_s": n_records / drain_s,
        "athena_sql_s": sum(sql[q][0] for q in M.ATHENA_QUERIES),
        "analytics_s": sum(entries[e][0] for e in M.ANALYTICS_ENTRIES),
        "stateful_stream_s": sum(entries[e][0] for e in M.STATEFUL_ENTRIES),
    })

    # -- checks (untimed) -------------------------------------------------------
    con = checks.oracle_db(td)
    for q in M.ATHENA_QUERIES:
        run.check_oracle(f"athena.{q}", sql[q][1], con, ORACLE_SQL[f"ref_{q}"], rel_tol=1e-9)
    for e, (_, result) in entries.items():
        run.check_oracle(e, result, con, ORACLE_SQL[e])
    _audit_checks(run, audit, n_records, 0)
    spark.streams.removeListener(audit)
    _warehouse_layers(run, wh, n_records)
    if run.tracer.enabled:
        _stream_layers(run, "ingest", 0)
        _scope_layers(run)


def _write_backlog(spark, table_dir: str, out: str) -> None:
    """One envelope per TPC-H order (``build_order_events``, as the
    project's bench drain does), as NDJSON text in ``BACKLOG_FILES``
    files. The Spark jobs also warm the JVM for the read side."""
    from pyspark.sql import functions as F

    from aws_kinesis_data_ingestion_restapi_spark.analytics import build_order_events

    events = build_order_events(spark, table_dir)
    events.select(
        F.to_json(F.struct(
            F.lit("ingestion-bench").alias("StreamName"),
            F.lit("bench-partition").alias("PartitionKey"),
            F.base64(F.to_json(F.struct(*events.columns))).alias("Data"),
        )).alias("v")
    ).repartition(BACKLOG_FILES).write.mode("overwrite").text(out)


def _scope_layers(run: Run) -> None:
    scopes = run.tracer.scopes
    for q in M.ATHENA_QUERIES:
        s = scopes.get(f"athena.{q}", {})
        run.layers[f"athena.{q}_s"] = s.get("wall_s", 0.0)
        run.layers[f"athena.{q}.jobs"] = s.get("jobs", 0)
        run.layers[f"athena.{q}.shuffle_bytes"] = s.get("shuffle_bytes", 0)
    for e in M.ANALYTICS_ENTRIES:
        s = scopes.get(e, {})
        run.layers[f"entry.{e}_s"] = s.get("wall_s", 0.0)
        for k in ("jobs", "shuffle_bytes", "spill_bytes"):
            run.layers[f"entry.{e}.{k}"] = s.get(k, 0)
    progress = run.tracer.progress_by_scope()
    for e in M.STATEFUL_ENTRIES:
        ps = progress.get(e, [])
        ops = [p.get("stateOperators", []) for p in ps]
        run.layers[f"state.{e}.commit_ms"] = sum(o.get("commitTimeMs", 0) for b in ops for o in b)
        run.layers[f"state.{e}.rows"] = max((sum(o.get("numRowsTotal", 0) for o in b) for b in ops), default=0)
        run.layers[f"state.{e}.memory_bytes"] = max(
            (sum(o.get("memoryUsedBytes", 0) for o in b) for b in ops), default=0)
        run.layers[f"state.{e}.partitions"] = max(
            (sum(o.get("numShufflePartitions", 0) for o in b) for b in ops), default=0)
        run.layers[f"stream.{e}.batches"] = len(ps)


# -- curation_session -----------------------------------------------------------------

def curation_session(run: Run) -> None:
    from aws_kinesis_data_ingestion_restapi_spark.registry import ORACLE_SQL, QUERY_FNS

    args = run.args
    t_setup = time.perf_counter()
    run.start_spark()
    spark = run.spark
    td = run.path("tables")
    sf = args.scale or CURATION_SF
    fixtures.write_tables(td, sf, args.seed, CURATION_DOCS)
    run.e2e["setup_s"] = time.perf_counter() - t_setup

    rng = random.Random(args.seed)
    labels = ["cold"] + [f"warm{i}" for i in range(1, WARM_PASSES + 1)]
    passes = {}
    for label in labels:
        order = rng.sample(M.CURATION_ENTRIES, len(M.CURATION_ENTRIES))
        passes[label] = {
            e: run.timed_collect(f"{label}:{e}", lambda e=e: QUERY_FNS[e](spark, td))
            for e in order
        }
    cold = sum(w for w, _ in passes["cold"].values())
    # one warm wall per entry: the median of its warm calls, so a single
    # slow call (a GC pause, a worker respawn) does not move the tail
    warm = {e: statistics.median(passes[lb][e][0] for lb in labels[1:])
            for e in M.CURATION_ENTRIES}
    run.e2e["work_s"] = sum(w for lb in labels for w, _ in passes[lb].values())
    run.e2e["latency_p50_ms"] = _pct(warm.values(), 50) * 1000.0
    run.e2e["latency_p90_ms"] = _pct(warm.values(), 90) * 1000.0
    run.samples = len(warm)
    run.parts.update({"curation_cold_s": cold, "curation_warm_s": sum(warm.values())})

    # the cold result meets the oracle; every warm result must equal the cold one
    con = checks.oracle_db(td)
    for e, (_, cold_result) in passes["cold"].items():
        run.check_oracle(f"cold:{e}", cold_result, con, ORACLE_SQL[e])
        for lb in labels[1:]:
            warm_result = passes[lb][e][1]
            if cold_result is not None and warm_result is not None:
                run.check(checks.same_rows(cold_result, warm_result), f"{lb}:{e}: differs from cold")
    if run.tracer.enabled:
        scopes = run.tracer.scopes
        built = [e for e in M.CURATION_ENTRIES if scopes.get(f"cold:{e}", {}).get("cache_added", 0) > 0]
        for e in M.CURATION_ENTRIES:
            run.layers[f"cache.added.{e}"] = scopes.get(f"cold:{e}", {}).get("cache_added", 0)
        run.layers["cache.build_entries_s"] = sum(scopes[f"cold:{e}"]["wall_s"] for e in built)
        run.layers["cache.hit_entries"] = sum(
            1 for e in built if scopes.get(f"warm1:{e}", {}).get("cache_added", 0) == 0)

WORKLOADS = {
    "ingest_steady": ingest_steady,
    "backfill_and_query": backfill_and_query,
    "curation_session": curation_session,
}
