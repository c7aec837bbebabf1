"""Per-layer spans for the traced run, from public observers only.

Nothing here reaches into the package's private diagnostics. The
sources are:

- a ``StreamingQueryListener``: every micro-batch's ``durationMs``
  phases, ``stateOperators`` and ``observedMetrics``;
- wrappers around the sink functions, bound on the
  ``streaming.pipeline`` module where ``IngestionPipeline`` looks
  them up (the package itself is not modified);
- the ``statusTracker`` and the application status store: the jobs,
  tasks, shuffle bytes and spill of the jobs a scope submitted;
- the sizes of the package's module-level session caches, read before
  and after each scope.

Spans and progress records stay in memory and are written once, by
``dump``, when the run ends. With ``enabled=False`` every hook is a
no-op, so the untraced run pays nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener


class ProgressListener(StreamingQueryListener):
    """Keeps each query's progress JSON, tagged with the scope that
    started the query (``onQueryStarted`` runs synchronously inside
    ``DataStreamWriter.start``, so the tag is exact)."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer
        self.scope_of_run: dict[str, str] = {}
        self.progress: list[tuple[str, str]] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self.scope_of_run[str(event.runId)] = self.tracer.current_scope

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append((str(event.progress.runId), event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def cache_sizes() -> dict[str, int]:
    """Entry counts of the package's module-level session caches."""
    from aws_kinesis_data_ingestion_restapi_spark.operators import dedup, registry_ext
    from aws_kinesis_data_ingestion_restapi_spark.streaming import registry_stream

    return {
        "session_frame": len(registry_ext._SESSION_FRAME_CACHE),
        "payment_feed": len(registry_stream._PAYMENT_FEED_CACHE),
        "intake_gate": sum(len(v) for v in registry_stream._INTAKE_GATE_CACHE.values()),
        "auto_grams": len(dedup._AUTO_GRAMS_CACHE),
    }


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.current_scope = "run"
        self.spans: list[dict] = []
        self.scopes: dict[str, dict] = {}
        self.listener: ProgressListener | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- lifecycle --------------------------------------------------------------
    def attach(self) -> None:
        if not self.enabled:
            return
        self.listener = ProgressListener(self)
        self.spark.streams.addListener(self.listener)
        from aws_kinesis_data_ingestion_restapi_spark.streaming import pipeline

        for name in ("write_partitioned", "write_errors", "serving_upsert"):
            orig = getattr(pipeline, name)
            self._patched.append((pipeline, name, orig))
            setattr(pipeline, name, self._wrap_sink(name, orig))

    def detach(self) -> None:
        for mod, name, orig in self._patched:
            setattr(mod, name, orig)
        self._patched.clear()
        if self.listener is not None:
            self.flush()
            self.spark.streams.removeListener(self.listener)

    def flush(self) -> None:
        """Wait until the listener bus has delivered every queued event."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    # -- spans -------------------------------------------------------------------
    @contextlib.contextmanager
    def tagged(self, name: str):
        """Attribute streaming queries started inside to ``name``."""
        self.current_scope = name
        try:
            yield
        finally:
            self.current_scope = "run"

    @contextlib.contextmanager
    def scope(self, name: str):
        """A registry entry or query: its wall, jobs, tasks, shuffle,
        spill and the session-cache entries it added."""
        if not self.enabled:
            yield
            return
        before = cache_sizes()
        first_job = self._next_job_id()
        self.current_scope = name
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.current_scope = "run"
            self.spans.append({"name": name, "parent": "run", "start": t0, "end": t1})
            stats = self.job_stats(range(first_job, self._next_job_id()))
            after = cache_sizes()
            stats["cache_added"] = sum(after[k] - before[k] for k in after)
            stats["wall_s"] = t1 - t0
            self.scopes[name] = stats

    def _wrap_sink(self, name: str, fn):
        def traced(*args, **kwargs):
            label = name
            if name == "write_partitioned":
                label = f"{name}.{kwargs.get('table')}"
            store = args[2] if name == "serving_upsert" else None
            before = _bucket_ids(store) if store else None
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                span = {"name": f"sinks.{label}", "parent": "batch",
                        "start": t0, "end": time.time()}
                if store:
                    after = _bucket_ids(store)
                    span["buckets_touched"] = sum(
                        1 for k, v in after.items() if before.get(k) != v
                    )
                self.spans.append(span)

        return traced

    # -- job accounting ------------------------------------------------------------
    def _next_job_id(self) -> int:
        """One past the highest job id submitted so far (ids are dense)."""
        sc = self.spark.sparkContext
        return int(sc._jsc.sc().dagScheduler().numTotalJobs())

    def job_stats(self, job_ids) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        stages: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            seq = store.stageData(sid, False, no_status, False, no_quantiles)
            if seq.isEmpty():
                continue
            data = seq.head()
            out["tasks"] += int(data.numCompleteTasks())
            out["shuffle_bytes"] += int(data.shuffleWriteBytes())
            out["spill_bytes"] += int(data.memoryBytesSpilled()) + int(data.diskBytesSpilled())
        return out

    def jobs_of_run(self, run_id: str) -> list[int]:
        """Jobs a streaming query ran (its batches use the run id as job group)."""
        return [int(j) for j in self.spark.sparkContext.statusTracker().getJobIdsForGroup(run_id)]

    # -- streaming progress ----------------------------------------------------------
    def progress_by_scope(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        if self.listener is None:
            return out
        for run_id, raw in self.listener.progress:
            scope = self.listener.scope_of_run.get(run_id, "run")
            out.setdefault(scope, []).append(json.loads(raw))
        return out

    def sink_spans(self) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith("sinks.")]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "scopes": self.scopes,
                       "progress": self.progress_by_scope(), **extra}, fh)


def _bucket_ids(store: str) -> dict[str, tuple[int, int]]:
    """(inode, mtime) per ``bucket=K`` dir of a serving store; a rewritten
    bucket is swapped in by rename, so its identity changes."""
    if not os.path.isdir(store):
        return {}
    out = {}
    for name in os.listdir(store):
        if name.startswith("bucket="):
            st = os.stat(os.path.join(store, name))
            out[name] = (st.st_ino, st.st_mtime_ns)
    return out


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default
