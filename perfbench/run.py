"""Warehouse benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 3 --trace 0

Run from the repository root.  Prints one ``name value unit`` line per
metric, a ``record`` line (machine, offered load, every figure), and as
its last line the JSON result: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.harness import (  # noqa: E402
    Outcome,
    RssSampler,
    RunRoot,
    Tracer,
    adopt_orphans,
    cpu_times,
    event_log_metrics,
    median,
    nproc,
    prepare_env,
    start_session,
    steal_share,
    stop_processes,
    stop_session,
)

#: the first two are the benchmark's; ``pipelines`` runs the other two in one run
WORKLOADS = ("pipelines", "dashboard", "trade_cdc", "traffic_log")
SETUP_ROUNDS = 3

#: (name, unit) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("throughput_per_s", "1/s"),
]

#: (name, unit) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = [
    ("session.start_s", "s"),
    ("gen.lateness_p50_s", "s"), ("gen.lateness_max_s", "s"),
    ("sources.offset_s", "s"), ("sources.input_rows", "count"),
    ("sources.lag_segments_max", "count"),
    ("dim.merge_s", "s"), ("dim.merge_calls", "count"), ("dim.change_rows", "count"),
    ("dim.store_rows", "count"),
    ("dwd.parse_topic_db_s", "s"), ("dwd.order_detail_star_s", "s"), ("dwd.pay_interval_s", "s"),
    ("dwd.split_log_s", "s"), ("dwd.dirty_rows", "count"),
    ("dws.sku_window_s", "s"), ("dws.province_window_s", "s"), ("dws.traffic_window_s", "s"),
    ("dws.keyword_window_s", "s"),
    ("state.daily_uv_s", "s"), ("state.rows_total", "count"), ("state.memory_bytes", "bytes"),
    ("state.commit_ms", "ms"),
    ("engine.batches", "count"), ("engine.batch_p50_s", "s"), ("engine.plan_ms", "ms"),
    ("engine.wal_commit_ms", "ms"), ("engine.idle_ratio", "ratio"),
    ("sinks.write_s", "s"), ("sinks.rows", "count"), ("sinks.files", "count"),
    ("sinks.retries", "count"),
    ("serving.query_s", "s"), ("serving.http_s", "s"), ("serving.jobs_per_req", "count"),
    ("serving.rebind_s", "s"), ("serving.stale_reads", "count"), ("serving.errors", "count"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.tasks", "count"), ("spark.task_skew", "ratio"),
]
_LAYER_NAMES = {n for n, _ in PER_LAYER}
#: spans whose self time is folded into another layer's metric
_SPAN_ALIAS = {"dim.changes": "dim.merge"}


class Ctx:
    """What a workload sees of the run: its seed, window and tracer (the
    tracer stays disabled outside the measured phase)."""

    def __init__(self, seed: int, seconds: float):
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(False)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _layer_metrics(tracer: Tracer, start_times: list[float], outcome: Outcome,
                   eventlog: dict) -> dict[str, float]:
    out = {n: 0.0 for n, _ in PER_LAYER}
    out["session.start_s"] = median(start_times)
    for name, t in tracer.self_times().items():
        key = _SPAN_ALIAS.get(name, name) + "_s"
        if key in _LAYER_NAMES:
            out[key] += t
    for name, v in tracer.counts.items():
        if name in _LAYER_NAMES:
            out[name] += v
    out.update(eventlog)
    out.update(outcome.layers)
    if outcome.layers.get("serving.requests"):
        out["serving.jobs_per_req"] = (eventlog.get("spark.jobs_ungrouped", 0.0)
                                       / outcome.layers["serving.requests"])
    return out


def run(args, root: RunRoot) -> int:
    try:
        import pyspark

        import gmall_realtime_ck_spark  # noqa: F401 — the program under test
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 3
    module = importlib.import_module(f"perfbench.{args.workload}")
    ctx = Ctx(args.seed, args.seconds)
    wl = module.Workload(ctx)
    rss = RssSampler().start()
    cpu0 = cpu_times()
    setup_times, start_times = [], []
    spark = None
    evdir = None
    try:
        for i in range(SETUP_ROUNDS):
            t = time.perf_counter()
            if spark is not None:
                stop_session(spark)
            evdir = root.sub(f"eventlog{i}") if args.trace else None
            spark = start_session(evdir)
            start_times.append(time.perf_counter() - t)
            wl.setup(spark, root.sub(f"setup{i}"))
            setup_times.append(time.perf_counter() - t)
            print(f"setup round {i}: {setup_times[-1]:.2f} s", file=sys.stderr)
        t = time.perf_counter()
        wl.start(spark)
        warm_s = time.perf_counter() - t
        print(f"warm-up: {warm_s:.2f} s", file=sys.stderr)
        ctx.tracer = Tracer(bool(args.trace))
        measure_start_ms = time.time() * 1000
        t = time.perf_counter()
        measured = wl.measure(spark)
        measure_end_ms = time.time() * 1000
        steal = steal_share(cpu0, cpu_times())
        ctx.tracer.enabled = False
        print(f"measured phase: {time.perf_counter() - t:.2f} s", file=sys.stderr)
        t = time.perf_counter()
        outcome = wl.outcome(spark, measured)
        print(f"checks: {time.perf_counter() - t:.2f} s", file=sys.stderr)
    finally:
        if spark is not None:
            stop_session(spark)
        peak_mb = rss.stop()

    lat_ms = [x * 1000 for x in outcome.latencies_s]
    e2e = {
        "setup_s": median(setup_times) + warm_s,
        "latency_p50_ms": None if outcome.p50_s is None else outcome.p50_s * 1000,
        "throughput_per_s": outcome.throughput,
    }
    named = {"fail_ratio": (outcome.failed / max(outcome.attempted, 1), "ratio"),
             "peak_rss_mb": (peak_mb, "MB"), "host_steal_share": (steal, "ratio"),
             **outcome.named}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": nproc(),
              "spark_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
              "spark_version": pyspark.__version__, "offered": wl.offered,
              "operations": len(lat_ms), "setup_rounds_s": setup_times, "warm_up_s": warm_s,
              "attempted": outcome.attempted, "failed": outcome.failed,
              "e2e": e2e, "named": {k: v[0] for k, v in named.items()},
              "notes": outcome.notes}
    if args.trace:
        layers = _layer_metrics(ctx.tracer, start_times, outcome,
                                event_log_metrics(evdir, measure_start_ms, measure_end_ms))
        record["layers"] = layers
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    results = os.path.join(HERE, ".results")
    os.makedirs(results, exist_ok=True)
    for n, u in END_TO_END:
        print(f"{n} {e2e[n]} {u}")
    for n, (v, u) in named.items():
        print(f"{n} {v} {u}")
    if args.trace:
        ctx.tracer.write(os.path.join(results, f"spans-{args.workload}-{args.seed}.json"))
        for n, u in PER_LAYER:
            print(f"{n} {record['layers'][n]} {u}")
        _print_overhead(os.path.join(results, f"{args.workload}-untraced.json"), e2e)
    else:
        with open(os.path.join(results, f"{args.workload}-untraced.json"), "w") as f:
            json.dump(record, f)
    print("record " + json.dumps(record, default=str))

    missing = [k for k, v in metrics.items() if v["value"] is None]
    correct = outcome.failed == 0 and not missing
    if missing:
        print(f"metrics without enough samples: {missing}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": outcome.attempted,
                      "failed": outcome.failed, "metrics": metrics}))
    return 0


def _print_overhead(untraced_path: str, traced: dict) -> None:
    """Traced-minus-untraced difference of every end-to-end metric,
    against the last untraced run of the workload in this checkout."""
    if not os.path.exists(untraced_path):
        print("tracing overhead: no untraced run of this workload recorded yet")
        return
    with open(untraced_path) as f:
        base = json.load(f)["e2e"]
    for n, u in END_TO_END:
        a, b = traced.get(n), base.get(n)
        if a is None or b is None:
            continue
        rel = (a - b) / b if b else 0.0
        print(f"trace_overhead.{n} {a - b:+.4f} {u} ({rel:+.1%})")


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its processes and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    root = RunRoot()
    try:
        prepare_env(root)
        return run(args, root)
    finally:
        stop_processes()
        root.remove()


if __name__ == "__main__":
    sys.exit(main())
