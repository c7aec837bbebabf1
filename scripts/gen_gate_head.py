"""GENERATE the driver-window rotation (_GATE_HEAD/_GATE_TAIL in
pkg/registry.py) instead of hand-writing it — r8 VERDICT ask #7: the
hand-maintained bookkeeping comment went stale against round growth
twice (r7 and r8), because mid-round additions were anchor-inserted
without regenerating the text. This script derives everything from
ground truth:

- per-query LAST DRIVER-GREEN round, computed from the committed
  CORRECTNESS_r*.json files (green = rows+schema+hash match, no err);
- the round's MUST_ROTATE list (new queries + queries whose output or
  implementation changed), declared once below;
- head = MUST_ROTATE + the stalest driver greens, exactly
  WINDOW (50) entries; tail = everything else, freshest-first.

Run from the repo root: ``python scripts/gen_gate_head.py [--check]``.
Default rewrites the generated block in registry.py in place;
``--check`` exits non-zero if the committed block differs from the
one regenerated from the CORRECTNESS rounds that block names (the
pytest rotation pin runs this mode, so a stale window fails the suite
instead of silently dropping a query out of the 50-entry gate
window, while a CORRECTNESS file added after generation does not).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY = os.path.join(
    ROOT, "aws_kinesis_data_ingestion_restapi_spark", "registry.py"
)
WINDOW = 50

#: Round-13 rotation set: every query whose IMPLEMENTATION changed
#: this round (outputs bit-identical, re-proven vs the oracle at
#: sf0.001/sf0.01 — see OPTIMIZATION_r13.md). Zero new operators this
#: round (surface frozen per VERDICT r12 item 8).
MUST_ROTATE = [
    # shuffle-free top-token fold (guide §2.4)
    "text_repetition",
    # data-derived state-partition sizing (guide §2/§5) — all 15
    # stateful drains start with ceil(feed_bytes/4MiB) state partitions
    "streaming_payment_match",
    "streaming_payment_match_outer",
    "streaming_payment_match_full",
    "streaming_topk_users",
    "streaming_running_totals_final",
    "streaming_dedup_replay",
    "streaming_hll_users",
    "streaming_sliding_1h_15m",
    "streaming_session_windows",
    "streaming_late_data_policy",
    "streaming_value_quantiles",
    "streaming_cusum_gate",
    "streaming_user_anomalies",
    "streaming_drift_tvd",
    "streaming_enriched_nation_totals",
    # concurrent ANN audit-panel builds (guide §2.6; plans unchanged)
    "ann_recall_audit",
    "ann_recall_clustered",
    "ann_label_audit",
    "ann_label_audit_clustered",
]


def correctness_files(rounds: list[int] | None = None) -> dict[int, str]:
    """round -> CORRECTNESS file path; all rounds on disk, or only
    ``rounds`` when given."""
    out = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        if rounds is None or rnd in rounds:
            out[rnd] = path
    return dict(sorted(out.items()))


def last_green_rounds(files: dict[int, str]) -> dict[str, int]:
    """name -> highest round with a fully-green driver row (never-
    checked names are absent → treated as round 0 = stalest)."""
    out: dict[str, int] = {}
    for rnd, path in files.items():
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
            ):
                out[name] = max(out.get(name, 0), rnd)
    return out


def compute_order(greens: dict[str, int]) -> tuple[list[str], list[str]]:
    sys.path.insert(0, ROOT)
    from aws_kinesis_data_ingestion_restapi_spark.registry import QUERY_FNS

    names = list(QUERY_FNS)
    missing = [n for n in MUST_ROTATE if n not in names]
    assert not missing, f"MUST_ROTATE names not in registry: {missing}"
    rest = [n for n in names if n not in MUST_ROTATE]
    stale_first = sorted(rest, key=lambda n: (greens.get(n, 0), n))
    head = MUST_ROTATE + stale_first[: WINDOW - len(MUST_ROTATE)]
    assert len(head) == WINDOW, len(head)
    tail = sorted(
        (n for n in names if n not in head),
        key=lambda n: (-greens.get(n, 0), n),
    )
    return head, tail


def render(rounds: list[int]) -> str:
    greens = last_green_rounds(correctness_files(rounds))
    head, tail = compute_order(greens)
    n_new = sum(1 for n in MUST_ROTATE if greens.get(n, 0) == 0)
    n_changed = len(MUST_ROTATE) - n_new
    n_stale = WINDOW - len(MUST_ROTATE)
    stale_rounds = sorted(
        {greens.get(n, 0) for n in head[len(MUST_ROTATE):]}
    )
    lines = [
        "# --- BEGIN GENERATED GATE ORDER (scripts/gen_gate_head.py) ---",
        "# Window = %d never-driver-checked additions + %d changed"
        % (n_new, n_changed),
        "# entries + the %d stalest driver greens (last green in"
        % n_stale,
        "# round(s) %s). Greens come from" % stale_rounds,
        "# CORRECTNESS rounds %s;" % rounds,
        "# --check rereads only those. Regenerate with",
        "#   python scripts/gen_gate_head.py",
        "# (pytest runs --check; hand-edits here go stale and FAIL).",
        "_GATE_HEAD = [",
    ]
    for n in head:
        lines.append(f'    "{n}",  # last driver green: r{greens.get(n, 0)}')
    lines.append("]")
    lines.append("_GATE_TAIL = [")
    for n in tail:
        lines.append(f'    "{n}",  # last driver green: r{greens.get(n, 0)}')
    lines.append("]")
    lines.append("# --- END GENERATED GATE ORDER ---")
    return "\n".join(lines)


def main() -> int:
    src = open(REGISTRY).read()
    pat = re.compile(
        r"# --- BEGIN GENERATED GATE ORDER.*?# --- END GENERATED GATE ORDER ---",
        re.S,
    )
    if "--check" in sys.argv:
        # Regenerate from the rounds the committed block names, so a
        # CORRECTNESS file deposited after generation cannot make the
        # check fail; a changed registry or MUST_ROTATE still does.
        m = pat.search(src)
        named = m and re.search(r"CORRECTNESS rounds \[([\d, ]*)\]", m.group(0))
        if not named or m.group(0) != render(
            [int(r) for r in named.group(1).split(",") if r.strip()]
        ):
            print("gate order is STALE — run: python scripts/gen_gate_head.py")
            return 1
        print("gate order up to date")
        return 0
    block = render(list(correctness_files()))
    if pat.search(src):
        src = pat.sub(lambda _: block, src)
    else:
        # first generation: replace the hand-written lists wholesale
        hand = re.compile(r"_GATE_HEAD = \[.*?\n\]\n_GATE_TAIL = \[.*?\n\]", re.S)
        assert hand.search(src), "no gate lists found to replace"
        src = hand.sub(lambda _: block, src)
    open(REGISTRY, "w").write(src)
    print(f"wrote the {WINDOW}-entry gate head from every CORRECTNESS round")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
