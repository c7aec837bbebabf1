"""Lineage-truncation policy: local by default, reliable by knob.

Iterative operators (connected components, PageRank) and session-cached
sub-pipelines (LSH pair graphs, fingerprint frames, recall-audit truth)
must truncate lineage each round or the plan grows with iterations —
the standard iterative-DataFrame trap. ``localCheckpoint`` does that
with executor-local storage blocks: fast, zero configuration, and the
right default on local[32].

On a real cluster it is also a LIABILITY: localCheckpoint trades the
lineage away, so when an executor is lost (preemptible/spot nodes, OOM
kills — routine at 1000-executor scale) the blocks it held are simply
GONE and the job dies with a "checkpoint block not found" error instead
of recomputing. The production answer is a RELIABLE checkpoint
(``df.checkpoint()``) to a fault-tolerant filesystem (HDFS/S3): slower
per round, but executor loss costs a task retry, not the job.

:func:`materialize` is the single switch point. Default: local.
When a checkpoint directory is configured — the
``SPARK_GRAFT_CHECKPOINT_DIR`` environment variable or the runtime
session conf ``spark.graft.checkpointDir`` (checked in that order) —
every call becomes a reliable ``df.checkpoint()`` into it. The knob is
read PER CALL, so a long-lived session can be switched without restart,
and results are bit-identical either way (checkpointing only changes
WHERE the materialized frame lives, never its rows — pinned end-to-end
by tests/test_extensions.py over both the raw CC operators and the full
registry dedup_components pipeline).

Reliable-path cost model (and why the persist): Spark writes reliable
checkpoint files in a SEPARATE job that recomputes the RDD from lineage
— an unpersisted frame would therefore compute TWICE (once for the
first action, once for the checkpoint write). ``materialize`` persists
the source frame first so the checkpoint write job reads the cache:
one compute + one cache read + one file write. Eager frames drop the
cache immediately after the checkpoint materializes; lazy frames keep
it (they are the session-cached reuse-many-times class, where the
lingering cache is a feature, and :func:`release`/the ContextCleaner
reclaim it).

Cleanup: superseded reliable checkpoints are deleted EAGERLY by
:func:`release` (their file directory is removed directly — waiting on
the ContextCleaner needs ``spark.cleaner.referenceTracking
.cleanCheckpoints=true`` AND a driver GC, neither guaranteed timely;
the session factory enables the conf anyway as the backstop).

The checkpoint directory is a deployment setting; the truncation
cadence of bounded-round loops (:data:`ROUND_BATCH`) is a constant.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: Runtime session conf consulted by :func:`materialize` (the env var
#: SPARK_GRAFT_CHECKPOINT_DIR takes precedence when both are set).
CHECKPOINT_DIR_CONF = "spark.graft.checkpointDir"

#: applicationId -> raw target dir last passed to setCheckpointDir.
#: sc.getCheckpointDir() returns a fully-qualified per-context
#: '<target>/<uuid>' path, never the raw target (verified on this
#: build), so idempotence must be tracked HERE — comparing against
#: getCheckpointDir would re-set (one mkdir RPC + one orphan UUID dir)
#: on every single materialize call.
_LAST_SET_DIR: dict[str, str] = {}


def reliable_dir(df: DataFrame) -> str | None:
    """The configured reliable-checkpoint directory, or None (= use
    localCheckpoint). Env var first, then the session conf."""
    env = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if env:
        return env
    return df.sparkSession.conf.get(CHECKPOINT_DIR_CONF, None) or None


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage: ``localCheckpoint`` by default,
    reliable ``checkpoint`` into the configured directory when the
    knob is set (see module docstring). Same rows either way."""
    target = reliable_dir(df)
    if target is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    app = sc.applicationId
    if _LAST_SET_DIR.get(app) != target:
        sc.setCheckpointDir(target)
        _LAST_SET_DIR[app] = target
    # persist so the checkpoint write job reads the cache instead of
    # recomputing the whole lineage (see module docstring)
    persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
    out = persisted.checkpoint(eager=eager)
    if eager:
        # checkpoint files exist; the cache served its one read
        persisted.unpersist(False)
    else:
        # Lazy path: the checkpoint has not materialized yet, so the
        # cache must outlive this call (it serves the write job when
        # the first action fires). Remember it on the returned frame
        # so release() can drop it — without this, a long-running
        # incremental loop with the knob on accumulates one
        # MEMORY_AND_DISK copy per round until driver GC.
        #
        # CONTRACT: the attribute lives on THIS object only. Any
        # intervening transform (.select, .filter, ...) returns a new
        # DataFrame without it, so release() on a derived frame
        # silently skips the cache drop and falls back to driver-GC
        # reclamation. Callers must keep and release the frame
        # materialize() returned (see release() docstring).
        out._graft_ckpt_source = persisted
    return out


def release(df: DataFrame) -> None:
    """Free a superseded checkpoint's storage NOW.

    LOCAL checkpoints: ``DataFrame.unpersist`` is a no-op for
    checkpoint blocks — they hang off the backing RDD, not the cache
    manager (verified empirically: getRDDStorageInfo still lists the
    blocks after unpersist, and drops them after this). Without an
    explicit release, a deep iterative run pins one full frame copy
    PER ROUND in executor storage until the 30-minute periodic
    ContextCleaner catches up — the litter class BENCH_NOTES measured
    inflating later queries 2-4×.

    RELIABLE checkpoints: the data is FILES, and Spark deletes them
    only when ``cleanCheckpoints`` is on and the driver GCs the RDD —
    neither timely nor guaranteed, so a deep run would otherwise
    accumulate one full frame copy per round on the checkpoint
    filesystem. The checkpoint directory is deleted directly here.

    Only call on frames that are fully superseded — a released
    reliable checkpoint cannot be read again.

    Pass the EXACT frame :func:`materialize` returned, not a derived
    frame (``mat.select(...)`` etc.): the lazy reliable path tracks
    its pre-checkpoint cache via an attribute on that object, and the
    checkpoint-file lookup below needs the plan to still be the bare
    LogicalRDD. On a derived frame both lookups miss and this
    degrades (safely, but silently) to eventual ContextCleaner/GC
    reclamation — the litter class this function exists to avoid."""
    # Reliable lazy path: drop the pre-checkpoint MEMORY_AND_DISK
    # cache materialize() left alive to feed the checkpoint write job.
    source = getattr(df, "_graft_ckpt_source", None)
    if source is not None:
        try:
            source.unpersist(False)
        except Py4JJavaError:  # the SparkContext is already stopped
            pass
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        rdd.unpersist(False)
        ckfile = rdd.getCheckpointFile()
        if ckfile.isDefined():
            sc = df.sparkSession.sparkContext
            jvm = sc._jvm
            path = jvm.org.apache.hadoop.fs.Path(ckfile.get())
            fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(path, True)
    except Py4JError:
        # plan isn't a bare LogicalRDD (wrapped/optimized differently),
        # so it has no rdd() — fall back to eventual ContextCleaner
        # reclamation
        pass


#: Rounds per lineage truncation for bounded-round loops (r10 VERDICT
#: ask #7). 1 = the historical materialize-every-round behavior; 2
#: halves the per-round eager-job scheduler overhead that dominates
#: these loops on gate-scale data while keeping plan depth bounded at
#: `batch` rounds (fully-lazy was measured WORSE: 52 s vs 19.5 s on
#: the unigram EM — plan explosion).
ROUND_BATCH = 2


class RoundDriver:
    """The shared bounded-round truncation driver — factors the
    per-round ``materialize(..., eager=True)`` + ``release(prev)``
    loop that k-core, LPA, CC, BPE, and the EM trainers each
    hand-rolled (r10 VERDICT ask #7) into one policy object that
    BATCHES truncations: the round state materializes every ``batch``
    rounds (lazy plan in between, depth ≤ batch) and superseded
    checkpoints release as soon as their successor is safely
    materialized.

    Exactness is untouched by construction: materialization never
    changes rows, only where the frame lives — batching only changes
    HOW OFTEN lineage truncates (value-hash gates over every adopting
    operator re-prove bit-equality). Loops with per-round convergence
    checks must keep ``batch=1`` (a check needs the round's rows) or
    check at batch boundaries only — fixed-round loops (this repo's
    bounded-round contract) need no care at all.
    """

    def __init__(self, batch: int | None = None):
        self.batch = batch if batch is not None else ROUND_BATCH
        if self.batch < 1:
            raise ValueError("batch must be >= 1")
        self._since = 0
        self._owned: DataFrame | None = None

    def adopt(self, df: DataFrame) -> DataFrame:
        """Register an ALREADY-materialized frame (a loop's seed) so
        the driver releases it when the first batched round lands."""
        self._owned = df
        return df

    def step(self, df: DataFrame) -> DataFrame:
        """Advance one round: truncate + swap ownership at batch
        boundaries, pass the lazy plan through otherwise."""
        self._since += 1
        if self._since < self.batch:
            return df
        return self._truncate(df)

    def finish(self, df: DataFrame) -> DataFrame:
        """Materialize a pending lazy tail (no-op when the last round
        landed exactly on a boundary)."""
        if self._since == 0:
            return df
        return self._truncate(df)

    def _truncate(self, df: DataFrame) -> DataFrame:
        out = materialize(df, eager=True)
        if self._owned is not None:
            release(self._owned)
        self._owned = out
        self._since = 0
        return out
