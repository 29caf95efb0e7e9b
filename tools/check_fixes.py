"""Dev-loop exact-oracle verifier: run the named catalog queries (all
three r7 re-gates by default) through the EXACT (no 6-dp re-rounding)
oracle compare at sf0.001 AND sf0.01 — the same harness the
gate-window pytest uses, invocable per-query while iterating.

    python tools/check_fixes.py [query_name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from finance_reporting_etl_spark.queries import CATALOG
from finance_reporting_etl_spark.session import get_spark
from tests.oracle_util import assert_matches_oracle

NAMES = sys.argv[1:] or [
    "fifo_realized_pnl",
    "bollinger_daily_bands",
    "loan_amortization_schedule",
]

spark = get_spark(app_name="check_fixes", shuffle_partitions=8)
for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name in NAMES:
        e = CATALOG[name]
        try:
            assert_matches_oracle(e.fn(spark, sf), con, e.oracle, exact_floats=True)
            print(f"OK    {sf.split('/')[-1]:8s} {name}")
        except Exception as ex:
            print(f"FAIL  {sf.split('/')[-1]:8s} {name}: {str(ex)[:500]}")
    con.close()
print("done")
