"""The metrics the benchmark reports, and the entries that drive its workloads.

Names, units, directions and bounds live in ``BENCHMARK.json``; this
module reads them from there.

The end-to-end metrics are what a user of the pipeline sees, reported
by every workload on an untraced run. Each workload defines its own
unit of work for ``work_s`` and of result for the latency metrics:

- ``ingest_steady``: ``work_s`` is the mean busy time of a timed
  micro-batch (its ``offsets`` to its ``commits`` checkpoint entry);
  latency is per envelope file, from the time it was due to land until
  the commit of the micro-batch that contained it;
- ``backfill_and_query``: ``work_s`` is the drain plus the read side;
  latency is per backlog file, from the start of the drain until the
  commit of its micro-batch;
- ``curation_session``: ``work_s`` is the sum of every pass; latency is
  per registry entry, warm, run to its last row: the median of its
  three warm calls (cold-pass walls move with the seed-permuted order,
  which decides the entry that pays each cache build).

Peak resident memory is a per-layer figure, not an end-to-end one: the
JVM's heap sizing is adaptive, and its peak moved by 30% between seeds
of one workload, more than any bound could allow.

The per-layer metrics come from the traced run (``--trace 1``). A
layer that a workload does not exercise reports 0 there; that is the
prediction "no change" for an optimisation of that layer on that
workload.
"""

from __future__ import annotations

import json
import os

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)

#: (name, unit) of the metrics a run reports: BENCHMARK.json is their
#: one list, with their direction and (end-to-end) bound
END_TO_END: list[tuple[str, str]] = [(m["name"], m["unit"]) for m in _BENCH["end_to_end"]]
PER_LAYER: list[tuple[str, str]] = [(m["name"], m["unit"]) for m in _BENCH["per_layer"]]
UNITS = dict(END_TO_END) | dict(PER_LAYER)

ATHENA_QUERIES = [
    "total_sales_per_country",
    "average_order_value",
    "total_income_per_payment_method",
    "most_sales_products",
    "order_and_client_details",
]
#: A run of any workload must stay under about 45 s on 4 cores, so that
#: a full measurement (70 runs) fits in an hour. That budget leaves out
#: ``sales_per_nation``, ``events_sessionization``,
#: ``streaming_payment_match`` and ``streaming_enriched_nation_totals``
#: from ``backfill_and_query``.
ANALYTICS_ENTRIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
]
STATEFUL_ENTRIES = [
    "streaming_running_totals_final",
]
#: Curation entries of ``curation_session``. The time budget leaves no
#: room for the BPE trio (``text_bpe_merges`` /
#: ``text_bpe_segment`` / ``text_pack_bpe``: ~4 s of DuckDB oracle each),
#: ``ann_recall_audit`` (~11 s cold) or ``streaming_quality_gate`` (~8 s
#: cold: it builds all six intake gates) or ``streaming_dedup_replay``
#: (~3 s; ``streaming_running_totals_final`` in ``backfill_and_query``
#: measures the streaming layer). ``dedup_ensemble`` (~3 s over the
#: four passes) is left out for the same budget; ``dedup_minhash_lsh``
#: and ``dedup_canonical_docs`` measure the dedup operators.
#: ``dedup_components`` is left out too: warm, it is a ~40 ms cache
#: read, a fourth beside ``dedup_minhash_lsh``, ``text_quality_ensemble``
#: and ``ann_topk_ivf``.
CURATION_ENTRIES = [
    "curation_pipeline",
    "dedup_minhash_lsh",
    "dedup_canonical_docs",
    "text_quality_score",
    "text_quality_ensemble",
    "ann_topk_ivf",
]
TABLES = ["orders", "product_details", "shipping_addresses", "purchase_details"]
STREAM_PHASES = [
    "triggerExecution", "addBatch", "walCommit", "commitOffsets",
    "queryPlanning", "latestOffset", "getBatch",
]

