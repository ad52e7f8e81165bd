"""Per-layer tracing for the stage benchmark, entirely from outside the package.

Three sources feed the per-layer metrics of a traced run:

* spans the benchmark records around calls into the package's public
  functions (``sources.io.read_table``, the ``operators`` entry points,
  ``Estimator.fit``) and around each query's build, exec and cache release;
* Spark's own counters, read from the application status store after the
  run (jobs with submit/complete times, per-stage task metrics) and from
  the block manager (persisted bytes, sampled while traced passes run);
* a ``StreamingQueryListener`` for micro-batch progress, and ``/proc``
  for the CPU of Python workers.

Spans stay in memory; ``Tracer.dump`` writes them when the run ends.
Wrappers are installed once and record only while ``Tracer.enabled`` is
set, so traced and untraced passes run in the same process.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time

# (module, attribute, span name): functions timed at every name the
# package binds them to.
WRAPPED = [
    ("reddit_big_data_spark.sources.io", "read_table", "sources.read_table"),
    ("reddit_big_data_spark.operators.simjoin", "similarity_join", "operators.similarity_join"),
    ("reddit_big_data_spark.operators.components", "connected_components",
     "operators.connected_components"),
    ("reddit_big_data_spark.operators.clustering", "kmeans_centers", "operators.kmeans_centers"),
]

# Span name -> layer whose self time it counts toward.
LAYER_OF = {
    "queries.build": "queries.build",
    "queries.exec": "queries.exec",
    "sources.read_table": "sources",
    "operators.similarity_join": "operators",
    "operators.connected_components": "operators",
    "operators.kmeans_centers": "operators",
    "ml.fit": "ml",
    "plans.release": "plans",
    "spark.job": "engine",
}

# Every per-layer metric a traced run reports, with its unit. Values are
# per timed pass (mean over the traced passes) unless the name says peak.
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("queries.build_s", "s"),
    ("queries.exec_s", "s"),
    ("sources.read_table_s", "s"),
    ("sources.read_table_calls", "count"),
    ("sources.input_mb", "MB"),
    ("sources.input_rows", "rows"),
    ("sources.output_mb", "MB"),
    ("engine.jobs", "count"),
    ("engine.stages", "count"),
    ("engine.tasks", "count"),
    ("engine.driver_gap_s", "s"),
    ("engine.exec_run_s", "s"),
    ("engine.exec_cpu_s", "s"),
    ("engine.gc_s", "s"),
    ("engine.utilisation", "ratio"),
    ("shuffle.write_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"),
    ("shuffle.spill_mb", "MB"),
    ("plans.persist_mb_peak", "MB"),
    ("plans.release_s", "s"),
    ("operators.similarity_join_s", "s"),
    ("operators.connected_components_s", "s"),
    ("operators.kmeans_centers_s", "s"),
    ("ml.fit_s", "s"),
    ("ml.fit_calls", "count"),
    ("functions.pyworker_cpu_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "rows"),
    ("streaming.rows_per_s", "rows/s"),
    ("streaming.state_rows", "rows"),
    ("streaming.state_mb", "MB"),
    ("streaming.commit_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("self.queries.build_s", "s"),
    ("self.queries.exec_s", "s"),
    ("self.sources_s", "s"),
    ("self.operators_s", "s"),
    ("self.ml_s", "s"),
    ("self.plans_s", "s"),
    ("self.engine_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("peak_rss_mb", "MB"),
]

_MB = 1024.0 * 1024.0


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self._main = threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or threading.get_ident() != self._main:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent, **attrs})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        traced.__doc__ = getattr(fn, "__doc__", None)
        return traced

    def install(self) -> None:
        """Wrap every function in WRAPPED wherever the package binds it,
        and ``Estimator.fit`` (outermost calls only)."""
        import importlib

        from pyspark.ml.base import Estimator

        for mod_name, attr, name in WRAPPED:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(original, name)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("reddit_big_data_spark"):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        self._restore.append((mod, key, original))
                        setattr(mod, key, wrapper)

        original_fit = Estimator.fit
        tracer = self

        def fit(est, dataset, params=None):
            nested = any(tracer.spans[i]["name"] == "ml.fit" for i in tracer._stack)
            if nested:
                return original_fit(est, dataset, params)
            with tracer.span("ml.fit", estimator=type(est).__name__):
                return original_fit(est, dataset, params)

        self._restore.append((Estimator, "fit", original_fit))
        Estimator.fit = fit

    def uninstall(self) -> None:
        for owner, key, original in reversed(self._restore):
            setattr(owner, key, original)
        self._restore.clear()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class StreamingProgress:
    """Collects micro-batch progress while ``enabled``; one list per pass."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.enabled = False
        self.events: list[dict] = []
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if not outer.enabled:
                    return
                p = event.progress
                durations = dict(p.durationMs or {})
                states = p.stateOperators or []
                outer.events.append({
                    "id": str(p.id),
                    "rows": int(p.numInputRows or 0),
                    "trigger_ms": float(durations.get("triggerExecution", 0)),
                    "add_batch_ms": float(durations.get("addBatch", 0)),
                    "commit_ms": float(durations.get("commitOffsets", 0))
                    + float(durations.get("walCommit", 0)),
                    "state_rows": sum(int(s.numRowsTotal or 0) for s in states),
                    "state_bytes": sum(int(s.memoryUsedBytes or 0) for s in states),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def take(self) -> list[dict]:
        events, self.events = self.events, []
        return events

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def persisted_mb(spark) -> float:
    """Bytes of persisted RDD/DataFrame blocks, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


class PersistPeak:
    """Largest ``persisted_mb`` seen while ``enabled``, sampled every
    ``period`` seconds in a background thread, so blocks that are
    persisted and freed again inside one call (the per-iteration local
    checkpoints of connected components) still count."""

    def __init__(self, spark, period: float = 0.1) -> None:
        self.enabled = False
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(spark, period), daemon=True)
        self._thread.start()

    def _run(self, spark, period: float) -> None:
        while not self._stop.wait(period):
            if self.enabled:
                self.sample(spark)

    def sample(self, spark) -> None:
        mb = persisted_mb(spark)
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def pyworker_cpu_s() -> float:
    """CPU seconds used so far by this session's Python worker processes.

    Live workers count their own time; the ones a daemon already reaped
    are inside that daemon's children times."""
    tick = os.sysconf("SC_CLK_TCK")
    sid = os.getsid(0)
    me = os.getpid()
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        # Workers run as ``python -m pyspark.<module>``; the JVM's command
        # line names pyspark too, but never as a module to run.
        if int(fields[3]) != sid or b"-m\x00pyspark." not in cmd:
            continue
        utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
        total += utime + stime + cutime + cstime
    return total / tick


def _opt_s(opt) -> float | None:
    return float(opt.get().getTime()) / 1000.0 if opt.isDefined() else None


def read_jobs(spark) -> list[dict]:
    """Every retained job: id, submit and completion epoch seconds."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    seq = store.jobsList(sc._gateway.jvm.java.util.ArrayList())
    jobs = []
    it = seq.iterator()
    while it.hasNext():
        j = it.next()
        start, end = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
        if start is not None and end is not None:
            jobs.append({"id": int(j.jobId()), "start": start, "end": end})
    return jobs


def read_stages(spark) -> list[dict]:
    """Every retained stage attempt with its aggregated task metrics."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(
        gw.jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
    )
    stages = []
    it = seq.iterator()
    while it.hasNext():
        s = it.next()
        start = _opt_s(s.submissionTime())
        if start is None:
            continue
        stages.append({
            "start": start,
            "tasks": int(s.numCompleteTasks()) + int(s.numFailedTasks()),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "input_mb": s.inputBytes() / _MB,
            "input_rows": int(s.inputRecords()),
            "output_mb": s.outputBytes() / _MB,
            "shuffle_write_mb": s.shuffleWriteBytes() / _MB,
            "fetch_wait_s": s.shuffleFetchWaitTime() / 1000.0,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB,
        })
    return stages


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attach_jobs(spans: list[dict], jobs: list[dict], windows: list[tuple[float, float]]) -> None:
    """Append a ``spark.job`` span for every job submitted inside one of
    ``windows``; its parent is the innermost span open at submit time."""
    closed = [(i, s) for i, s in enumerate(spans) if s["end"] is not None]
    for job in jobs:
        if not any(ws <= job["start"] <= we for ws, we in windows):
            continue
        parent, best = None, None
        for i, s in closed:
            if s["start"] <= job["start"] <= s["end"] and (best is None or s["start"] >= best):
                parent, best = i, s["start"]
        spans.append({"name": "spark.job", "start": job["start"], "end": job["end"],
                      "parent": parent, "job_id": job["id"]})


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span time not covered by the span's own children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        layer = LAYER_OF.get(s["name"])
        if layer is None:
            continue
        inner = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(i, [])]
        covered = _union_s([(a, b) for a, b in inner if b > a])
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def layer_metrics(
    spans: list[dict],
    jobs: list[dict],
    stages: list[dict],
    windows: list[tuple[float, float]],
    cores: int,
) -> dict[str, float]:
    """Spark-counter and span totals per pass over the traced ``windows``."""
    n = len(windows)
    wall = sum(e - s for s, e in windows)

    def inside(t: float) -> bool:
        return any(s <= t <= e for s, e in windows)

    st = [s for s in stages if inside(s["start"])]
    jb = [j for j in jobs if inside(j["start"])]
    busy = sum(_union_s([(max(j["start"], ws), min(j["end"], we)) for j in jb
                         if j["end"] > ws and j["start"] < we])
               for ws, we in windows)

    def total(key: str) -> float:
        return sum(s[key] for s in st)

    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def span_n(name: str) -> int:
        return sum(1 for s in spans if s["name"] == name)

    run_s = total("run_s")
    m = {
        "queries.build_s": span_s("queries.build"),
        "queries.exec_s": span_s("queries.exec"),
        "sources.read_table_s": span_s("sources.read_table"),
        "sources.read_table_calls": span_n("sources.read_table"),
        "sources.input_mb": total("input_mb"),
        "sources.input_rows": total("input_rows"),
        "sources.output_mb": total("output_mb"),
        "engine.jobs": len(jb),
        "engine.stages": len(st),
        "engine.tasks": total("tasks"),
        "engine.driver_gap_s": wall - busy,
        "engine.exec_run_s": run_s,
        "engine.exec_cpu_s": total("cpu_s"),
        "engine.gc_s": total("gc_s"),
        "shuffle.write_mb": total("shuffle_write_mb"),
        "shuffle.fetch_wait_s": total("fetch_wait_s"),
        "shuffle.spill_mb": total("spill_mb"),
        "plans.release_s": span_s("plans.release"),
        "operators.similarity_join_s": span_s("operators.similarity_join"),
        "operators.connected_components_s": span_s("operators.connected_components"),
        "operators.kmeans_centers_s": span_s("operators.kmeans_centers"),
        "ml.fit_s": span_s("ml.fit"),
        "ml.fit_calls": span_n("ml.fit"),
    }
    for layer, secs in self_times(spans).items():
        m[f"self.{layer}_s"] = secs
    out = {k: v / n for k, v in m.items()}
    out["engine.utilisation"] = run_s / (wall * cores) if wall > 0 else 0.0
    return out


def streaming_metrics(events: list[dict], n_passes: int) -> dict[str, float]:
    rows = sum(e["rows"] for e in events)
    trigger_s = sum(e["trigger_ms"] for e in events) / 1000.0
    return {
        "streaming.batches": len(events) / n_passes,
        "streaming.input_rows": rows / n_passes,
        "streaming.rows_per_s": rows / trigger_s if trigger_s > 0 else 0.0,
        "streaming.state_rows": max((e["state_rows"] for e in events), default=0),
        "streaming.state_mb": max((e["state_bytes"] for e in events), default=0) / _MB,
        "streaming.commit_s": sum(e["commit_ms"] for e in events) / 1000.0 / n_passes,
        "streaming.add_batch_s": sum(e["add_batch_ms"] for e in events) / 1000.0 / n_passes,
    }
