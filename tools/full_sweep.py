"""Full-catalog exact-oracle sweep at one SF (default sf0.1) — the
end-of-round ritual that has caught latent bugs since r8. Prints one
line per query and a final PASS/FAIL census.

    SPARK_GRAFT_SWEEP_SF=/root/testdata/sf0.1 python tools/full_sweep.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from finance_reporting_etl_spark.session import get_spark, isolate_run

isolate_run("sweep")

from finance_reporting_etl_spark.queries import CATALOG  # noqa: E402
from tests.oracle_util import assert_matches_oracle  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.1")

spark = get_spark(app_name="full_sweep", shuffle_partitions=32)
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

fails: list[str] = []
t0 = time.monotonic()
for i, (name, e) in enumerate(CATALOG.items()):
    try:
        assert_matches_oracle(e.fn(spark, SF), con, e.oracle, exact_floats=True)
        print(f"ok   {i + 1:3d}/{len(CATALOG)} {name}", flush=True)
    except Exception as ex:
        fails.append(name)
        print(f"FAIL {i + 1:3d}/{len(CATALOG)} {name}: {str(ex)[:300]}", flush=True)
dt = time.monotonic() - t0
print(f"SWEEP {len(CATALOG) - len(fails)}/{len(CATALOG)} exact at {SF}"
      f" in {dt:.0f}s; fails={fails}")
