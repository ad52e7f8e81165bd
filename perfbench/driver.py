"""One benchmark run inside one Spark driver process (started by run.py).

Sequence: start the session; run the check pass (each query forced once
through an order-insensitive digest, compared with ``digests.json``) and
the workload's untimed passes, which together are the warm-up and are
counted in ``setup_s``; then the timed passes, each running every query
of the workload once, in an order drawn from the seed, in a closed loop:
a query is built, forced with the ``noop`` sink, and the cache and local
checkpoints are released before the next one starts. With ``--trace 1`` some passes are traced: they
also record spans and Spark counters.

The end-to-end timings (set-up, passes, query latencies) are wall times
net of the CPU time the host stole from this machine (``net_of_steal``);
the detail line keeps the raw wall times and steal shares beside them.

Writes a JSON result to ``--result``; run.py prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import layertrace as layer_trace
from digest import digest
from workloads import WORKLOADS

CORES = 4
# Work directories the streaming queries create with mkdtemp, and Spark's
# temporary streaming checkpoints; removed between passes.
STREAM_TMP_PREFIXES = ("q139_sink_", "q146_backlog_", "rbds_q175_backlog_", "temporary-")


def tail(samples: list[float]) -> tuple[float, float]:
    """Value at the highest percentile with at least 10 samples above it,
    and that percentile. A run with fewer than 44 samples keeps a quarter
    of them above it instead, so the value is not a lone maximum."""
    xs = sorted(samples)
    k = len(xs) - 1 - min(10, len(xs) // 4)
    return xs[k], 100.0 * (k + 1) / len(xs)


def host_ticks() -> tuple[int, int]:
    """Busy and stolen CPU ticks of the whole machine so far, from
    ``/proc/stat``."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def net_of_steal(seconds: float, since: tuple[int, int]) -> tuple[float, float]:
    """Wall time net of steal, and the steal share, of the interval that
    started at the ``host_ticks()`` reading ``since`` and lasted ``seconds``.

    On a virtual machine whose host is shared, "steal" is time a virtual
    CPU had work to run while the host ran something else. Its share of the
    runnable time, steal / (busy + steal), swung between 0 % and 67 % from
    one minute to the next on a 4-vCPU VM and stretched pass times by up to
    2.5x, every query of a pass alike. Scaling the wall time by the share
    the machine did run, busy / (busy + steal), gives the wall time of the
    same work with nothing stolen. Where no steal is reported (bare metal,
    no steal clock) the wall time is returned unchanged."""
    busy, steal = (now - then for now, then in zip(host_ticks(), since))
    share = steal / (busy + steal) if busy + steal > 0 else 0.0
    return seconds * (1.0 - share), share


def remove_stream_dirs(tmp: str) -> None:
    for name in os.listdir(tmp):
        if name.startswith(STREAM_TMP_PREFIXES):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)


class Runner:
    def __init__(self, spark, registry: dict, data_dir: str, tracer) -> None:
        from reddit_big_data_spark.plans.cache import release_local_checkpoints

        self.spark = spark
        self.registry = registry
        self.data_dir = data_dir
        self.tracer = tracer
        self._release_checkpoints = release_local_checkpoints
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        # Set for traced runs: also sampled right before each release.
        self.persist: layer_trace.PersistPeak | None = None

    def release(self) -> None:
        with self.tracer.span("plans.release"):
            self.spark.catalog.clearCache()
            self._release_checkpoints(self.spark)

    def check(self, name: str, expected: str | None) -> tuple[float, str | None]:
        """Force ``name`` once through a digest and compare it with
        ``expected`` (None: record only); returns (seconds, digest)."""
        self.attempted += 1
        t0 = time.perf_counter()
        got, error = None, None
        try:
            got = digest(self.registry[name].fn(self.spark, self.data_dir))
            if expected is not None and got != expected:
                error = f"digest {got} != expected {expected}"
        except Exception as exc:  # a failing query is a measured outcome
            error = f"{type(exc).__name__}: {str(exc)[:200]}"
            traceback.print_exc(file=sys.stderr)
        elapsed = time.perf_counter() - t0
        if error:
            self.failed += 1
            self.failures[name] = f"check: {error}"
        self.release()
        return elapsed, got

    def timed(self, name: str) -> tuple[float, float, float] | None:
        """Build and force ``name``; returns (build_s, exec_s, latency net
        of steal) or None."""
        self.attempted += 1
        try:
            with self.tracer.span("query", query=name):
                ticks = host_ticks()
                t0 = time.perf_counter()
                with self.tracer.span("queries.build"):
                    df = self.registry[name].fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                with self.tracer.span("queries.exec"):
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
        except Exception as exc:
            self.failures.setdefault(name, f"timed: {type(exc).__name__}: {str(exc)[:200]}")
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            if self.persist and self.persist.enabled:
                self.persist.sample(self.spark)
            self.release()
        return t1 - t0, t2 - t1, net_of_steal(t2 - t0, ticks)[0]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True, help="directory of the input tables")
    ap.add_argument("--digests", required=True, help="expected digests (JSON)")
    ap.add_argument("--record", action="store_true",
                    help="write the check-pass digests to --digests instead of comparing")
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True, help="where a traced run writes its spans")
    args = ap.parse_args()

    w = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    tmp = os.environ.get("TMPDIR", "/tmp")

    setup_ticks = host_ticks()
    t0 = time.perf_counter()
    from reddit_big_data_spark.registry import all_queries
    from reddit_big_data_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{w.name}",
        cpus=CORES,
        # Keep every job and stage in the status store for the traced run's
        # counters; set on untraced runs too so both configure Spark alike.
        extra_confs={"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    by_prefix = {n.split("_", 1)[0]: n for n in registry}
    names = [by_prefix[p] for p in w.queries]
    start_s = time.perf_counter() - t0

    tracer = layer_trace.Tracer()
    runner = Runner(spark, registry, args.data, tracer)
    listener = persist = None

    def run_pass(traced: bool) -> dict:
        order = rng.sample(names, len(names))
        tracer.enabled = traced
        if listener:
            listener.enabled = persist.enabled = traced
        cpu0 = layer_trace.pyworker_cpu_s() if traced else 0.0
        start_epoch = time.time()
        ticks = host_ticks()
        p0 = time.perf_counter()
        samples = {}
        for name in order:
            r = runner.timed(name)
            if r is not None:
                samples[name] = r
        wall = time.perf_counter() - p0
        net, share = net_of_steal(wall, ticks)
        end_epoch = time.time()
        tracer.enabled = False
        rec = {"traced": traced, "order": [n.split("_", 1)[0] for n in order],
               "wall_s": net, "raw_wall_s": wall, "steal_share": share,
               "window": (start_epoch, end_epoch), "queries": samples}
        if listener:
            layer_trace.drain_listener_bus(spark)
            if traced:
                rec["pyworker_cpu_s"] = layer_trace.pyworker_cpu_s() - cpu0
                rec["stream_events"] = listener.take()
        remove_stream_dirs(tmp)
        return rec

    # Warm-up and correctness check, outside the timed region and counted
    # in setup_s: every query once, forced through its digest.
    expected = {}
    if not args.record:
        with open(args.digests) as f:
            expected = json.load(f)["digests"]
    check_order = rng.sample(names, len(names))
    got_digests = {}
    check_s = {}
    t1 = time.perf_counter()
    for name in check_order:
        want = None if args.record else expected.get(name, "missing")
        check_s[name], got_digests[name] = runner.check(name, want)
    remove_stream_dirs(tmp)
    if args.record:
        recorded = {}
        if os.path.exists(args.digests):
            with open(args.digests) as f:
                recorded = json.load(f)["digests"]
        recorded.update({k: v for k, v in got_digests.items() if v is not None})
        with open(args.digests, "w") as f:
            json.dump({"digests": dict(sorted(recorded.items()))}, f, indent=1)
    # Then the workload's untimed passes, also counted in setup_s: the
    # passes after the check run slower until the JVM has compiled the hot
    # paths of the noop-forced plans.
    warm = [run_pass(False) for _ in range(w.warm_passes)]
    warmup_s = time.perf_counter() - t1
    setup_s, setup_steal = net_of_steal(start_s + warmup_s, setup_ticks)

    n_passes = max(3 if args.trace else 2, round(args.seconds / w.pass_s))
    if args.trace:
        tracer.install()
        listener = layer_trace.StreamingProgress(spark)
        persist = runner.persist = layer_trace.PersistPeak(spark)
    # A traced run traces every other pass counted from both ends (UTU,
    # UTTU, UTUTU), so a steady pass-to-pass warming trend cancels out of
    # the traced-minus-untraced overhead.
    passes = [run_pass(bool(args.trace) and min(i, n_passes - 1 - i) % 2 == 1)
              for i in range(n_passes)]

    untraced = [p for p in passes if not p["traced"]]
    latencies = [q[2] for p in untraced for q in p["queries"].values()]
    attempted, failed = runner.attempted, runner.failed
    wall_s = statistics.median(p["wall_s"] for p in untraced)
    tail_s, tail_pct = tail(latencies) if latencies else (0.0, 0.0)

    detail = {
        "workload": w.name,
        "seed": args.seed,
        "cores": CORES,
        "cpu_count": os.cpu_count(),
        "load_1m": os.getloadavg()[0],
        "check_order": [n.split("_", 1)[0] for n in check_order],
        "check_s": {n.split("_", 1)[0]: round(s, 4) for n, s in check_s.items()},
        "passes": [{"order": p["order"], "wall_s": round(p["wall_s"], 4),
                    "raw_wall_s": round(p["raw_wall_s"], 4),
                    "steal_share": round(p["steal_share"], 3),
                    "traced": p["traced"]} for p in passes],
        "warm_pass_s": [round(p["wall_s"], 4) for p in warm],
        # Last over first untraced timed pass: below 1 while still warming.
        "pass_drift": untraced[-1]["wall_s"] / untraced[0]["wall_s"],
        "raw_setup_s": start_s + warmup_s,
        "setup_steal_share": setup_steal,
        "query_s": {n.split("_", 1)[0]: [round(p["queries"][n][2], 4) for p in untraced
                                          if n in p["queries"]] for n in names},
        "query_samples": len(latencies),
        "query_tail_pct": tail_pct,
        "error_rate": failed / attempted,
        "failures": {n.split("_", 1)[0]: runner.failures[n] for n in sorted(runner.failures)},
    }
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "query_p50_s": statistics.median(latencies) if latencies else 0.0,
        "query_tail_s": tail_s,
        "success_rate": 1.0 - failed / attempted,
    }
    layers = {}
    if args.trace:
        traced_passes = [p for p in passes if p["traced"]]
        windows = [p["window"] for p in traced_passes]
        layer_trace.drain_listener_bus(spark)
        jobs = layer_trace.read_jobs(spark)
        stages = layer_trace.read_stages(spark)
        spans = tracer.spans
        layer_trace.attach_jobs(spans, jobs, windows)
        layers = layer_trace.layer_metrics(spans, jobs, stages, windows, CORES)
        events = [e for p in traced_passes for e in p["stream_events"]]
        layers.update(layer_trace.streaming_metrics(events, len(traced_passes)))
        traced_wall = statistics.median(p["wall_s"] for p in traced_passes)
        layers.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "functions.pyworker_cpu_s": statistics.mean(
                p["pyworker_cpu_s"] for p in traced_passes),
            "plans.persist_mb_peak": persist.peak_mb,
            "trace.wall_s": traced_wall,
            "trace.overhead_s": traced_wall - wall_s,
        })
        for name, _unit in layer_trace.PER_LAYER:
            layers.setdefault(name, 0.0)
        tracer.dump(args.spans, {"workload": w.name, "seed": args.seed,
                                 "windows": windows})
        listener.close()
        persist.close()
        tracer.uninstall()

    with open(args.result, "w") as f:
        json.dump({
            "correct": not runner.failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
            "layers": layers,
            "detail": detail,
        }, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
