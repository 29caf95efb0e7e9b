"""Time a named subset of catalog queries with the bench methodology
(noop sink, best-of-2 interleaved passes) — the measure/re-measure
loop of the optimization round without paying for the full catalog.

Usage: python tools/bench_subset.py [-nPASSES] name [name ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from finance_reporting_etl_spark.session import get_spark, isolate_run  # noqa: E402

isolate_run("bsub")

from finance_reporting_etl_spark.queries import CATALOG  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    passes = 2
    if args and args[0].startswith("-n"):
        passes = int(args[0][2:])
        args = args[1:]
    if passes < 1:
        raise SystemExit("bench_subset: passes must be >= 1")
    unknown = [n for n in args if n not in CATALOG]
    if unknown or not args:
        raise SystemExit(f"bench_subset: unknown/missing queries {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench-subset")
    spark.range(1).count()
    timings = {n: float("inf") for n in args}
    for _ in range(passes):
        for name in args:
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            CATALOG[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = min(timings[name], time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
    out = {n: round(t, 3) for n, t in timings.items()}
    out["_total"] = round(sum(out.values()), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
