"""Cold-process benchmark of the finspark catalog.

    python3 perfbench/run.py --workload reporting_batch --seed 1 --seconds 10 --trace 0

Each measured batch runs in a fresh Python process (worker.py): one caller
issues the workload's catalog queries one after another (closed loop)
against ``local[nproc]``, every other setting at the program's default.
The run starts such processes one after another while the next one still
fits in ``--seconds`` of wall time (always at least one) and reports the
medians.

``--trace 0`` prints the end-to-end metrics ``batch_s`` and ``setup_s``.
``--trace 1`` runs one untraced and one traced process and prints the
per-layer metrics of the traced one (see tracing.py and README.md).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A query fails when it raises, when its result
digest differs from the one derived from its DuckDB oracle
(digests.json), or when its process leaves files behind. Details of the
run go to ``.perfbench/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "finance_reporting_etl_spark"
OUT = os.path.join(ROOT, ".perfbench")
# Directories the snapshot of the checkout ignores: this benchmark's own
# run dirs, bytecode caches, version control and build output.
SKIP_DIRS = {".perfbench", "__pycache__", ".git", ".bench_build"}
RUN_DEADLINE_S = 170

sys.path.insert(0, HERE)
from tracing import PHASE_FIELDS, spark_phase_stats  # noqa: E402
from workloads import WORKLOADS, query_order  # noqa: E402


class RunError(Exception):
    """The run cannot produce a result."""


def _tree(root: str) -> set[str]:
    found = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS]
        found.update(os.path.join(d, f) for f in files)
        found.update(os.path.join(d, x) for x in dirs)
    return found


def _session(sid: int) -> list[tuple[int, str, int]]:
    """(pid, state, rss bytes) of every process in session ``sid``: the
    worker, its JVM and the JVM's Python workers."""
    page = os.sysconf("SC_PAGE_SIZE")
    procs = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        if int(fields[3]) == sid:
            procs.append((int(d), fields[0], int(fields[21]) * page))
    return procs


def _stop_session(proc: subprocess.Popen, grace_s: float = 20.0) -> None:
    """Wait for the worker and every process it started to end; kill what
    is left after the worker exits and ``grace_s`` passes."""
    if proc.poll() is None:
        _kill_group(proc.pid)
    proc.wait()
    end = time.time() + grace_s
    while any(state != "Z" for _, state, _ in _session(proc.pid)):
        if time.time() > end:
            _kill_group(proc.pid)
        time.sleep(0.1)


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _steal_s() -> float:
    """Host-wide CPU time stolen from this VM so far (0 where not reported)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _host_ref_s() -> float:
    """Time of a fixed pure-Python loop: tracks host speed, so a later
    reader can tell a slower host from slower code."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


def _child_env(run_id: str, run_dir: str, cpus: int, trace: bool) -> dict:
    env = dict(os.environ)
    # program defaults for everything but CPUs
    for k in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_DRIVER_MEMORY"):
        env.pop(k, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_RUN_ID=run_id,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    if trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir)
        env["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
            }
        )
    return env


def run_child(cfg: dict, index: int, trace: bool, deadline: float) -> dict:
    """One fresh worker process; returns its result plus the parent's checks."""
    run_id = f"perfbench-{os.getpid()}-{index}"
    run_dir = os.path.join(OUT, run_id)
    os.makedirs(run_dir)
    try:
        env = _child_env(run_id, run_dir, cfg["cpus"], trace)
        child_cfg = dict(
            cfg, trace=trace, run_dir=run_dir, result=os.path.join(run_dir, "result.json")
        )
        cfg_path = os.path.join(run_dir, "config.json")
        before = _tree(ROOT)
        host_ref = _host_ref_s()
        log_path = os.path.join(run_dir, "worker.log")
        peak = 0.0
        with open(log_path, "w") as log:
            steal0 = _steal_s()
            child_cfg["spawn_ts"] = time.time()
            with open(cfg_path, "w") as f:
                json.dump(child_cfg, f)
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                while proc.poll() is None and time.time() < deadline:
                    rss = sum(r for _, state, r in _session(proc.pid) if state != "Z")
                    peak = max(peak, rss / 2**20)
                    time.sleep(0.25)
            finally:
                _stop_session(proc)
        if proc.returncode != 0 or not os.path.exists(child_cfg["result"]):
            kept = os.path.join(OUT, f"{run_id}.log")
            shutil.copy(log_path, kept)
            raise RunError(f"worker {run_id} exited {proc.returncode}, log in {kept}")
        with open(child_cfg["result"]) as f:
            res = json.load(f)
        res["peak_rss_mb"] = peak
        # CPU the hypervisor gave to other guests while this worker ran:
        # explains run-to-run spread on shared hosts
        res["steal_s"] = _steal_s() - steal0
        res["host_ref_s"] = host_ref
        leftovers = sorted(_tree(ROOT) - before)
        if not res["program_aux_dir"].startswith(run_dir) and os.path.exists(
            res["program_aux_dir"]
        ):
            leftovers.append(res["program_aux_dir"])
        res["leftovers"] = leftovers
        if trace:
            # one app: a plain file, or an eventlog_v2_* dir of events_* parts
            logs = sorted(
                os.path.join(d, f)
                for d, _, files in os.walk(os.path.join(run_dir, "eventlog"))
                for f in files
                if not f.startswith(("appstatus", "."))
            )
            res["spark"] = spark_phase_stats(logs, res["windows"])
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_metrics(traced: dict, untraced: dict, cpus: int) -> dict:
    ok = [q for q in traced["queries"] if q["error"] is None]
    m = {
        "session.get_spark_s": traced["session.get_spark_s"],
        "session.warmup_s": traced["session.warmup_s"],
        "queries.build_s": sum(q["build_s"] for q in ok),
        "queries.exec_s": sum(q["exec_s"] for q in ok),
    }
    m.update(traced["layers"])
    st = traced["streaming"]
    m["streaming.micro_batches"] = st["streaming.micro_batches"]
    m["streaming.addbatch_s"] = st["streaming.addbatch_s"]
    m["streaming.trigger_overhead_s"] = st["streaming.trigger_overhead_s"]
    m["streaming.outside_trigger_s"] = (
        m["streaming.replay_s"] - m["streaming.stage_s"] - st["streaming.trigger_s"]
    )
    for phase in ("build", "exec"):
        tot = dict.fromkeys(PHASE_FIELDS, 0)
        for key, s in traced["spark"].items():
            if key.endswith(":" + phase):
                for k in PHASE_FIELDS:
                    tot[k] += s[k]
        wall = sum(q[f"{phase}_s"] for q in ok)
        tot["slot_util"] = tot["run_s"] / (wall * cpus) if wall else 0.0
        m.update({f"spark.{phase}.{k}": v for k, v in tot.items()})
    m["process.peak_rss_mb"] = traced["peak_rss_mb"]
    m["trace.overhead_frac"] = traced["batch_s"] / untraced["batch_s"] - 1
    return m


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default="sf0.01", help="fixture scale under perfbench/data")
    args = ap.parse_args(argv)
    t_start = time.time()

    sf_dir = os.path.join(HERE, "data", args.data)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        raise RunError(f"program package {PKG} not found under {ROOT}")
    if not os.path.isdir(sf_dir):
        raise RunError(f"no fixtures at {sf_dir}")
    with open(os.path.join(HERE, "digests.json")) as f:
        digests = json.load(f).get(args.data, {})
    order = query_order(args.workload, args.seed)
    missing = [q for q in order if q not in digests]
    if missing:
        raise RunError(f"no expected digest for {missing} at {args.data}")
    cpus = len(os.sched_getaffinity(0))
    cfg = {
        "workload": args.workload,
        "order": order,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "digests": {q: digests[q] for q in order},
    }
    os.makedirs(OUT, exist_ok=True)
    deadline = t_start + RUN_DEADLINE_S

    children = []
    if args.trace:
        children.append(run_child(cfg, 0, False, deadline))
        children.append(run_child(cfg, 1, True, deadline))
    else:
        # --seconds is the run's wall budget: start another process only
        # while one more (as long as the longest so far) still fits
        walls = []
        while not children or time.time() + max(walls) <= t_start + args.seconds:
            t0 = time.time()
            children.append(run_child(cfg, len(children), False, deadline))
            walls.append(time.time() - t0)

    attempted = sum(len(c["queries"]) for c in children)
    # files left behind cannot be traced to one query: all of that
    # process's queries count as failed
    failed = sum(
        len(c["queries"]) if c["leftovers"] else sum(q["error"] is not None for q in c["queries"])
        for c in children
    )
    if args.trace:
        metrics = layer_metrics(children[1], children[0], cpus)
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = {
            "batch_s": statistics.median(c["batch_s"] for c in children),
            "setup_s": statistics.median(c["setup_s"] for c in children),
        }
        units = {"batch_s": "s", "setup_s": "s"}

    env = {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": cpus,
        "driver_memory": children[0]["driver_memory"],
        "pyspark": metadata.version("pyspark"),
        "duckdb": metadata.version("duckdb"),
        "python": sys.version.split()[0],
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "seed": args.seed,
        "order": order,
        "workload": args.workload,
        "trace": args.trace,
        "processes": len(children),
        "wall_s": time.time() - t_start,
    }
    detail = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as f:
        json.dump({"env": env, "metrics": metrics, "children": children}, f, indent=1)
    for c in children:
        for q in c["queries"]:
            if q["error"] is not None:
                print(f"FAILED {q['query']}: {q['error'].strip().splitlines()[-1]}", file=sys.stderr)
        for path in c["leftovers"]:
            print(f"LEFT BEHIND {path}", file=sys.stderr)
    print(json.dumps({"env": env, "detail": os.path.relpath(detail, ROOT)}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_frac", "slot_util")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
