"""Quiet-box interleaved best-of-N re-measure for bench drifters
(the knn_graph_reciprocity disposition protocol): run the drifting
queries interleaved with an UNCHANGED sibling in the same session and
round-robin order, so box noise lands on drifter and sibling alike and
the sibling-normalized ratio isolates plan drift from box drift.

    python tools/drift_check.py <sibling> <drifter> [drifter ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from finance_reporting_etl_spark.session import get_spark, isolate_run

isolate_run("drift")

from finance_reporting_etl_spark.queries import CATALOG  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUNDS = int(os.environ.get("SPARK_GRAFT_DRIFT_ROUNDS", "3"))

names = sys.argv[1:]
assert len(names) >= 2, __doc__
spark = get_spark(app_name="drift_check", shuffle_partitions=32)

# one warm-up of the sibling absorbs Python-worker + codegen startup
CATALOG[names[0]].fn(spark, SF).collect()

best: dict[str, float] = {n: float("inf") for n in names}
for r in range(ROUNDS):
    for n in names:
        t0 = time.monotonic()
        CATALOG[n].fn(spark, SF).collect()
        dt = time.monotonic() - t0
        best[n] = min(best[n], dt)
        print(f"round {r} {n}: {dt:.2f}s", flush=True)
print({n: round(v, 2) for n, v in best.items()})
