"""Regenerate digests.json: the expected result of every benchmark query.

Each digest comes from the query's DuckDB oracle (``CATALOG[name].oracle``)
over the benchmark's fixture copy. The Spark result is computed too, first,
because some oracles read the aux tables the Spark side persists; a query
whose Spark digest differs from its oracle digest is reported and left out.

Run from the repository root (takes a few minutes; the oracles are slow):

    SPARK_GRAFT_CPUS=4 python3 perfbench/make_digests.py sf0.01 sf0.001
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402
from worker import redirect_aux  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def main(scales: list[str]) -> int:
    os.environ.setdefault("SPARK_GRAFT_RUN_ID", f"perfbench-digests-{os.getpid()}")
    work = tempfile.mkdtemp(prefix="digests-", dir=HERE)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # Python UDF workers start in the working dir and must find the program
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    aux = os.path.join(work, "aux")
    program_aux = redirect_aux(aux)
    import duckdb

    from digest import frame_digest
    from finance_reporting_etl_spark.queries import CATALOG
    from finance_reporting_etl_spark.session import get_spark

    path = os.path.join(HERE, "digests.json")
    out = {}
    if os.path.exists(path):
        with open(path) as f:
            out = json.load(f)
    os.chdir(work)
    spark = get_spark(app_name="perfbench-digests")
    bad = []
    try:
        for sf in scales:
            sf_dir = os.path.join(HERE, "data", sf)
            con = duckdb.connect()
            for t in TABLES.split():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            got = {}
            for name in sorted({q for qs in WORKLOADS.values() for q in qs}):
                spark_d = frame_digest(CATALOG[name].fn(spark, sf_dir).toPandas())
                sql = CATALOG[name].oracle.replace(program_aux, aux)
                oracle_d = frame_digest(con.execute(sql).df())
                print(sf, name, oracle_d, "ok" if spark_d == oracle_d else "MISMATCH", flush=True)
                if spark_d == oracle_d:
                    got[name] = oracle_d
                else:
                    bad.append(f"{sf}:{name}")
            out[sf] = got
            con.close()
    finally:
        spark.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print("mismatches:", bad or "none")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["sf0.01", "sf0.001"]))
