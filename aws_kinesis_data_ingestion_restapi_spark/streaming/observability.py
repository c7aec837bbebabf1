"""T11: per-batch record-count audit metrics (SURVEY §2.2 T11).

The reference logs a per-invocation audit line in every consumer —
"Successfully processed N records" (lambda_orders_transformation/
lambda_function.py:58, lambda_kinesis_consumer/lambda_function.py:49).
The Spark-native mapping is:

- ``DataFrame.observe()`` on the decoded stream: the counts accumulate
  as a side-product of the jobs the sinks already run — zero extra
  passes over the data, which is what makes this viable at 100 TB
  (a ``df.count()`` audit would double-scan every micro-batch).
- ``StreamingQueryListener``: surfaces the observed metrics per
  micro-batch from ``QueryProgressEvent.progress.observedMetrics`` and
  emits the audit log line; tests read ``listener.records``.
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from aws_kinesis_data_ingestion_restapi_spark.sources.events import is_corrupt

log = logging.getLogger(__name__)

#: Name under which the audit observation appears in observedMetrics.
AUDIT_OBSERVATION = "ingest_audit"


def with_audit_metrics(decoded: DataFrame) -> DataFrame:
    """Attach record/corrupt counters to a decoded-envelope DataFrame.

    Counts with ``split_corrupt``'s own rule (``is_corrupt``), so
    ``n_failed`` equals the rows the pipeline quarantines and
    ``n_records - n_failed`` equals the rows that reach the warehouse
    tables.
    """
    return decoded.observe(
        AUDIT_OBSERVATION,
        F.count(F.lit(1)).alias("n_records"),
        F.coalesce(F.sum(is_corrupt().cast("long")), F.lit(0)).alias("n_failed"),
    )


class AuditListener(StreamingQueryListener):
    """Logs the reference's audit line per micro-batch and keeps the
    counts for assertions: ``records`` is one dict per batch with
    ``batch_id``, ``n_records``, ``n_failed``.

    Attach with ``spark.streams.addListener(listener)`` (and remove
    with ``removeListener`` — listeners are session-global).
    """

    def __init__(self) -> None:
        self.records: list[dict[str, Any]] = []

    # -- StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        progress = event.progress
        observed = progress.observedMetrics or {}
        row = observed.get(AUDIT_OBSERVATION)
        if row is None:
            return
        entry = {"batch_id": progress.batchId, **row.asDict()}
        self.records.append(entry)
        # the reference's "Successfully processed N records" audit line
        log.info(
            "batch %d: processed %s records (%s failed)",
            entry["batch_id"],
            entry.get("n_records"),
            entry.get("n_failed"),
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- conveniences for tests / reporting --------------------------------
    def wait_for(self, n_records: int, timeout_s: float = 30.0) -> bool:
        """Block until ``total_records >= n_records`` (listener events
        are delivered asynchronously, typically just after the query
        terminates). Returns False on timeout."""
        import time

        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.total_records >= n_records:
                return True
            time.sleep(0.2)
        return self.total_records >= n_records

    @property
    def total_records(self) -> int:
        return sum(int(r.get("n_records") or 0) for r in self.records)

    @property
    def total_failed(self) -> int:
        return sum(int(r.get("n_failed") or 0) for r in self.records)
