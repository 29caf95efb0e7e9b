"""The benchmark's workloads: which catalog queries each one runs, and why.

Each workload is a fixed set of ``CATALOG`` query names. A run issues them
one after another from one caller (closed loop), in an order that the run's
seed permutes, so the seed decides which query pays JIT warm-up and which
consumer of a shared build pays for that build. README.md in this directory
records why each query is in its workload.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Single-pass, read-only Catalyst work: exec dominates, nothing is
    # replayed. The control for build-phase and streaming changes.
    "reporting_batch": (
        "mart_financial_summary",
        "economic_indicators",
        "finance_daily_pipeline",
        "trial_balance_monthly",
        "q1_pricing_summary",
        "q3_top_orders",
        "q6_revenue_forecast",
        "hourly_event_rollup",
        "sessionize_events",
        "ingest_fred_observations",
    ),
    # Train / index / iterate / sweep: build dominates (Arrow UDFs,
    # aux-parquet writes, driver loops). Both consumers of the PQ
    # codebook cache are present, so the seed decides which one pays.
    "multipass_analytics": (
        "ann_ivfpq_topk",
        "ann_rerank_exact",
        "copurchase_association_rules",
        "attribution_window_sweep",
    ),
    # The write path: stage files, replay micro-batches, swap and
    # re-read state, checkpoint.
    "stream_replay": (
        "streaming_ivf_upsert_reassign",
        "streaming_merge_upsert",
        "streaming_nrr_monitor",
    ),
}


def query_order(workload: str, seed: int) -> list[str]:
    """The workload's queries in the seed's deterministic order."""
    names = list(WORKLOADS[workload])
    random.Random(f"{workload}:{seed}").shuffle(names)
    return names
