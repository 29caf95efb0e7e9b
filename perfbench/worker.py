"""One cold benchmark process: set up Spark, run one workload, check it.

Started by run.py as ``python3 worker.py <config.json>``, with the
program's checkout on ``PYTHONPATH`` and a run-local working directory as
the current directory. Writes its result as JSON to ``config["result"]``.

Timed regions:

- set-up: process spawn (the parent's timestamp) -> imports ->
  ``session.get_spark`` -> one warm-up action (:func:`warm_up`);
- batch: the first catalog call -> the last noop write, one query after
  another. Per query, ``build`` is ``CATALOG[name].fn(spark, sf_dir)`` and
  ``exec`` is the noop write of the DataFrame it returns.

The output check (a digest of each query's result) runs after the batch,
outside the timed region.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

PKG = "finance_reporting_etl_spark"


def redirect_aux(aux_dir: str) -> str:
    """Point the program's persisted-intermediate root at ``aux_dir``.

    ``oracles._AUX_DIR`` is a hardcoded absolute path; ``queries`` copies
    it at import, so this must run before ``queries`` is imported. Returns
    the program's own value, which the parent checks stays untouched.
    """
    import finance_reporting_etl_spark.oracles as oracles

    original = oracles._AUX_DIR
    if f"{PKG}.queries" in sys.modules:
        raise RuntimeError("redirect_aux must run before queries is imported")
    oracles._AUX_DIR = aux_dir
    return original


def warm_up(spark, sf_dir: str, work_dir: str) -> None:
    """Actions through the paths the workloads use: a parquet scan, a
    shuffle, an Arrow batch through the Python workers, and a one-batch
    file stream into ``foreachBatch``. Class loading, code generation and
    Python worker start-up then count as set-up instead of landing on
    whichever query the seed puts first."""

    def ident(batches):
        yield from batches

    def sink(batch, _batch_id):
        batch.write.format("noop").mode("overwrite").save()

    path = os.path.join(sf_dir, "region.parquet")
    df = spark.read.parquet(path)
    df.repartition(4).mapInPandas(ident, df.schema).groupBy("r_name").count().write.format(
        "noop"
    ).mode("overwrite").save()
    src = os.path.join(work_dir, "warmup_src")
    os.makedirs(src)
    shutil.copy(path, src)
    q = (
        spark.readStream.schema(df.schema).parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(work_dir, "warmup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def main(cfg: dict) -> dict:
    spawn_ts = cfg["spawn_ts"]
    aux_dir = os.path.join(cfg["run_dir"], "aux")
    program_aux = redirect_aux(aux_dir)
    from finance_reporting_etl_spark.queries import CATALOG
    from finance_reporting_etl_spark.session import get_spark

    t0 = time.time()
    spark = get_spark()
    t1 = time.time()
    warm_up(spark, cfg["sf_dir"], cfg["run_dir"])
    t2 = time.time()
    res: dict = {
        "setup_s": t2 - spawn_ts,
        "session.get_spark_s": t1 - t0,
        "session.warmup_s": t2 - t1,
        "program_aux_dir": program_aux,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
    }

    tracer = listener = None
    if cfg["trace"]:
        from tracing import Tracer, make_stream_listener

        tracer = Tracer()
        tracer.install()
        listener = make_stream_listener()
        spark.streams.addListener(listener)
    sc = spark.sparkContext

    queries, frames, windows = [], {}, []
    b0 = time.time()
    for name in cfg["order"]:
        q = {"query": name, "error": None}
        queries.append(q)
        try:
            if tracer:
                sc.setJobGroup(f"{name}:build", name)
            s0 = time.time()
            df = CATALOG[name].fn(spark, cfg["sf_dir"])
            s1 = time.time()
            if tracer:
                sc.setJobGroup(f"{name}:exec", name)
            df.write.format("noop").mode("overwrite").save()
            s2 = time.time()
        except Exception:  # a failed query is counted, the batch goes on
            q["error"] = traceback.format_exc(limit=20)
            continue
        q["build_s"], q["exec_s"] = s1 - s0, s2 - s1
        windows += [
            {"query": name, "phase": "build", "t0": s0, "t1": s1},
            {"query": name, "phase": "exec", "t0": s1, "t1": s2},
        ]
        frames[name] = df
    res["batch_s"] = time.time() - b0
    if tracer:
        sc.setJobGroup("check", "output check")

    # Output check, outside the timed region: re-run each result and
    # compare its digest with the one derived from the DuckDB oracle.
    from digest import frame_digest

    expected = cfg["digests"]
    c0 = time.time()
    for q in queries:
        if q["error"] is not None:
            continue
        try:
            got = frame_digest(frames[q["query"]].toPandas())
        except Exception:
            q["error"] = traceback.format_exc(limit=20)
            continue
        if got != expected.get(q["query"]):
            q["error"] = f"digest {got} != expected {expected.get(q['query'])}"

    res["check_s"] = time.time() - c0
    res["queries"] = queries
    if listener is not None:
        listener.settle()
        res["streaming"] = listener.metrics()
        res["micro_batches"] = listener.batches
    if tracer is not None:
        res["layers"] = tracer.metrics()
        res["functions"] = tracer.detail()
    res["windows"] = windows
    spark.stop()
    shutil.rmtree(aux_dir, ignore_errors=True)
    return res


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        config = json.load(f)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    result = main(config)
    with open(config["result"], "w") as f:
        json.dump(result, f)
