"""Per-layer tracing for the traced run, kept entirely in the benchmark.

Three sources, none of which needs code in the program:

- :class:`Tracer` wraps the public functions of the program's modules by
  replacing module attributes (and every other module global bound to the
  same function object). The catalog imports most operators inside each
  query function, so those imports pick up the wrapper. Spans are kept per
  thread; a function's self time is its duration minus its child spans.
- :class:`StreamListener` records every micro-batch's ``durationMs``.
- :func:`spark_phase_stats` reads Spark's uncompressed JSON event log and
  sums task metrics per phase (``build`` or ``exec``).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

PKG = "finance_reporting_etl_spark"

# (module, attribute) -> the layer groups whose time it counts toward. A
# group's time is the inclusive time of its outermost calls, so nesting
# within a group is not counted twice.
NAMED_GROUPS: dict[tuple[str, str], tuple[str, ...]] = {
    ("tables", "_read_parquet"): ("tables.read",),
    ("plans.registry", "ModelRegistry.run"): ("plans.registry_run",),
    ("pipeline", "run_pipeline"): ("pipeline.run_pipeline",),
    ("pipeline", "observe_quality"): ("pipeline.quality",),
    ("pipeline", "check_quality"): ("pipeline.quality",),
    ("pipeline", "publish_validated"): ("pipeline.publish",),
    ("streaming.staging", "stage_microbatches"): ("streaming.stage",),
    ("streaming.staging", "run_file_stream"): ("streaming.replay",),
    ("streaming.merge", "overwrite_state_dir"): ("streaming.state_swap",),
    ("operators.incremental", "checked_swap"): ("streaming.state_swap",),
}


# One self_s/calls pair per module of the program's operators package.
OPERATOR_MODULES = (
    "allocation", "asof", "clustering", "corpus", "decomposition", "dedup",
    "distinct", "drift", "graph", "incremental", "inference", "membership",
    "ml", "multimodal", "rangejoin", "ranking", "resample", "scale",
    "similarity", "sketches", "stats", "timeseries",
)


def _public_functions(mod):
    """Functions defined in ``mod`` itself whose names are public."""
    for name, obj in vars(mod).items():
        if (
            not name.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == mod.__name__
        ):
            yield name, obj


class Tracer:
    """Span timing around module attributes, aggregated per function."""

    def __init__(self) -> None:
        self._local = threading.local()
        self._lock = threading.Lock()
        # (module, attribute) -> [calls, inclusive_s, self_s]
        self.funcs: dict[tuple[str, str], list] = defaultdict(lambda: [0, 0.0, 0.0])
        # group -> [outermost calls, inclusive_s]
        self.groups: dict[str, list] = defaultdict(lambda: [0, 0.0])

    def _state(self):
        st = self._local
        if not hasattr(st, "stack"):
            st.stack = []  # per open span: child seconds so far
            st.depth = defaultdict(int)  # group -> open spans in it
        return st

    def _wrap(self, key: tuple[str, str], fn, groups: tuple[str, ...]):
        tracer = self

        # functools.wraps keeps __module__/__qualname__, so cloudpickle
        # still pickles the function by reference (the module attribute
        # now IS the wrapper) and Python workers import the original.
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            st = tracer._state()
            outer = [g for g in groups if st.depth[g] == 0]
            for g in groups:
                st.depth[g] += 1
            st.stack.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = st.stack.pop()
                if st.stack:
                    st.stack[-1] += dt
                for g in groups:
                    st.depth[g] -= 1
                with tracer._lock:
                    f = tracer.funcs[key]
                    f[0] += 1
                    f[1] += dt
                    f[2] += dt - child
                    for g in outer:
                        tracer.groups[g][0] += 1
                        tracer.groups[g][1] += dt

        return wrapper

    def install(self) -> None:
        """Import every program module, then wrap each traced function.

        Every module global that is bound to a wrapped function object is
        re-bound too, so ``from x import f`` done at import time is traced.
        """
        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            importlib.import_module(info.name)
        modules = [(n[len(PKG) + 1:], m) for n, m in sys.modules.items() if n.startswith(PKG + ".")]
        targets = {
            (short, attr): ()
            for short, mod in modules
            if short.split(".")[0] in ("operators", "sources")
            for attr, _ in _public_functions(mod)
        }
        targets.update(NAMED_GROUPS)
        replaced: dict[int, object] = {}
        for (short, attr), groups in targets.items():
            if short.startswith("sources."):
                groups += ("sources",)
            owner_name, _, leaf = attr.rpartition(".")
            owner = importlib.import_module(f"{PKG}.{short}")
            if owner_name:
                owner = getattr(owner, owner_name)
            fn = getattr(owner, leaf)
            wrapper = self._wrap((short, attr), fn, groups)
            setattr(owner, leaf, wrapper)
            replaced[id(fn)] = wrapper
        for _, mod in modules:
            for attr, val in list(vars(mod).items()):
                if id(val) in replaced:
                    setattr(mod, attr, replaced[id(val)])

    def metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for m in OPERATOR_MODULES:
            rows = [v for (mod, _), v in self.funcs.items() if mod == f"operators.{m}"]
            out[f"operators.{m}.self_s"] = sum(r[2] for r in rows)
            out[f"operators.{m}.calls"] = sum(r[0] for r in rows)
        out["operators.similarity.pq_train_codebooks.calls"] = self.funcs[
            ("operators.similarity", "pq_train_codebooks")
        ][0]
        g = self.groups
        out["tables.read_calls"] = g["tables.read"][0]
        out["tables.read_s"] = g["tables.read"][1]
        out["plans.registry_run_s"] = g["plans.registry_run"][1]
        out["pipeline.run_pipeline_s"] = g["pipeline.run_pipeline"][1]
        out["pipeline.quality_s"] = g["pipeline.quality"][1]
        out["pipeline.publish_s"] = g["pipeline.publish"][1]
        out["sources.s"] = g["sources"][1]
        out["streaming.stage_s"] = g["streaming.stage"][1]
        out["streaming.replay_s"] = g["streaming.replay"][1]
        out["streaming.state_swaps"] = g["streaming.state_swap"][0]
        out["streaming.state_swap_s"] = g["streaming.state_swap"][1]
        return out

    def detail(self) -> list[dict]:
        return [
            {"fn": f"{mod}.{attr}", "calls": v[0], "incl_s": v[1], "self_s": v[2]}
            for (mod, attr), v in sorted(self.funcs.items())
            if v[0]
        ]


def make_stream_listener():
    """A StreamingQueryListener that keeps each micro-batch's durations."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        def __init__(self):
            self.started = 0
            self.terminated = 0
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append(
                {
                    "ts": datetime.fromisoformat(p.timestamp).timestamp(),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

        def settle(self, timeout: float = 20.0) -> None:
            """Wait until every started query's events have arrived."""
            deadline = time.time() + timeout
            while self.terminated < self.started and time.time() < deadline:
                time.sleep(0.05)
            time.sleep(0.2)

        def metrics(self) -> dict[str, float]:
            trig = sum(b["duration_ms"].get("triggerExecution", 0) for b in self.batches)
            add = sum(b["duration_ms"].get("addBatch", 0) for b in self.batches)
            return {
                "streaming.micro_batches": len(self.batches),
                "streaming.addbatch_s": add / 1000,
                "streaming.trigger_overhead_s": (trig - add) / 1000,
                "streaming.trigger_s": trig / 1000,
            }

    return StreamListener()


PHASE_FIELDS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "input_mb", "output_mb", "python_mb",
)
_PY_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def spark_phase_stats(event_logs: list[str], windows: list[dict]) -> dict[str, dict]:
    """Sum task metrics per (query, phase) from JSON event log files.

    A job belongs to the query and phase named by its job group
    ``<query>:<phase>``; jobs without one (stream micro-batches run under
    their own group) belong to the window their submission time falls in.
    Jobs outside every window (set-up, output checks) are ignored.
    """
    keys = {f"{w['query']}:{w['phase']}" for w in windows}
    stage_key: dict[int, str] = {}
    stats: dict[str, dict] = defaultdict(lambda: dict.fromkeys(PHASE_FIELDS, 0))

    def window_of(ms: float):
        for w in windows:
            if w["t0"] * 1000 <= ms <= w["t1"] * 1000:
                return f"{w['query']}:{w['phase']}"
        return None

    for ev in _events(event_logs):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            key = group if group in keys else window_of(ev["Submission Time"])
            if key is None:
                continue
            stats[key]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key:
                stats[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if key is None or not m:
                continue
            s = stats[key]
            s["tasks"] += 1
            s["run_s"] += m["Executor Run Time"] / 1e3
            s["cpu_s"] += m["Executor CPU Time"] / 1e9
            s["gc_s"] += m["JVM GC Time"] / 1e3
            sr = m["Shuffle Read Metrics"]
            s["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 2**20
            s["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
            s["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
            s["input_mb"] += m["Input Metrics"]["Bytes Read"] / 2**20
            s["output_mb"] += m["Output Metrics"]["Bytes Written"] / 2**20
            for acc in ev["Task Info"].get("Accumulables", ()):
                if acc.get("Name") in _PY_ACCUMS:
                    s["python_mb"] += float(acc.get("Update", 0)) / 2**20
    return dict(stats)
