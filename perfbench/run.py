#!/usr/bin/env python3
"""Benchmark for the extraction engine.

    python3 perfbench/run.py --workload extract_bulk --seed 1 \
        --seconds 7 --trace 0

Workloads (closed loop, one client, ``local[nproc]``):

* ``extract_bulk``: the seeded bench corpus -> ``extract_spans`` ->
  parquet; one untimed pass, then timed passes;
* ``registry_mix``: a seeded shuffle of ``plans`` registry leaves over
  a seeded star schema, one cold pass, each result checked against its
  DuckDB oracle (rows-only leaves: at least one row);
* ``curate_pack``: a seeded corpus with planted duplicates, blocked
  URLs, an over-cap host and contaminated pages, through extraction,
  the web-curation chain, BPE, token packing and shard files; one
  untimed pass, then timed passes. Too slow for BENCHMARK.json's run
  budget, so it is run by hand.

A run sets up the Spark session three times (the median is
``setup_s``), prepares the inputs untimed, runs whole units of work
until ``--seconds`` have passed (at least one unit), then checks the
outputs. ``--trace 1`` turns on the Spark event log and in-memory
spans and reports per-layer numbers instead of end-to-end ones.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the machine context, the session settings the benchmark
changed, every check, the per-workload named metrics and, when traced,
every layer number the workload measured. Everything the run writes
goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
N_SETUPS = 3


class Ctx:
    """What a workload sees of the run."""

    def __init__(self, seed: int, cores: int, tracer, corrupt: bool):
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.corrupt = corrupt
        self.work = WORK
        self.spark = None
        self.windows: dict[str, tuple[float, float]] = {}
        self.settings: dict[str, str] = {}

    def set_conf(self, key: str, value: str) -> None:
        self.spark.conf.set(key, value)
        self.settings[key] = value


def session_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(ctx: Ctx, trace: bool) -> tuple[float, float]:
    """get_spark plus a warm-up job that starts one Python worker per
    core; returns both times."""
    from n8n_tools_api_spark.session import get_spark
    from workloads import _identity_batches

    t0 = time.perf_counter()
    spark = get_spark(app_name="n8n-tools-api-spark-perfbench",
                      master=f"local[{ctx.cores}]",
                      shuffle_partitions=ctx.cores,
                      extra=session_conf(trace))
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    spark.range(ctx.cores, numPartitions=ctx.cores) \
        .mapInPandas(_identity_batches, "id long").count()
    t3 = time.perf_counter()
    ctx.spark = spark
    return t1 - t0, t3 - t2


def measure(ctx: Ctx, wl, state, seconds: float) -> tuple[list, list]:
    """Whole units until ``seconds`` have passed; returns the ops and
    the wall time of each unit."""
    ops, unit_s, t0 = [], [], time.perf_counter()
    ctx.windows["measure"] = (time.time() * 1000, None)
    while True:
        u0 = time.perf_counter()
        try:
            ops += wl.unit(ctx, state)
        except Exception as e:  # a failed unit is reported, not fatal
            traceback.print_exc()
            ops.append(("unit", time.perf_counter() - u0, 0, repr(e)[:300]))
        unit_s.append(time.perf_counter() - u0)
        if ops[-1][3] or time.perf_counter() - t0 >= seconds:
            break
    ctx.windows["measure"] = (ctx.windows["measure"][0], time.time() * 1000)
    return ops, unit_s


def sizes(tiny: bool) -> dict:
    if tiny:
        return {"extract_bulk": {"n_docs": 300, "sample": 40},
                "curate_pack": {"n_docs": 80, "n_merges": 3},
                "registry_mix": {"leaves": ["q6_forecast_revenue",
                                            "gopher_word_stats",
                                            "multimodal_decode_stats"],
                                 "traced_extra": ["host_link_stats"]}}
    return {"extract_bulk": {}, "curate_pack": {}, "registry_mix": {}}


def run(workload: str, seed: int, seconds: float, trace: bool,
        tiny: bool = False, corrupt: bool = False) -> tuple[dict, dict]:
    from harness import (EventLog, Tracer, busy_and_steal, cpu_times,
                         geomean, high_percentile, machine_context, median,
                         tree_peak_rss_mb)
    from workloads import WORKLOADS

    context = machine_context(ROOT)
    cores = context["nproc"]
    tracer = Tracer(trace)
    ctx = Ctx(seed, cores, tracer, corrupt)
    wl = WORKLOADS[workload](**sizes(tiny)[workload])
    for d in ("spark-local", "warehouse", "tmp", "eventlog", "out"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    phases, t_run = {}, time.perf_counter()
    setups = []
    for i in range(N_SETUPS):
        last = i == N_SETUPS - 1
        setups.append(start_session(ctx, trace and last))
        if not last:
            ctx.spark.stop()
    spark = ctx.spark
    phases["setup_s"] = time.perf_counter() - t_run
    state = wl.prepare(ctx)
    phases["prepare_s"] = time.perf_counter() - t_run - sum(phases.values())

    cpu0 = cpu_times()
    ops, unit_s = measure(ctx, wl, state, seconds)
    busy, steal = busy_and_steal(cpu0, cpu_times())
    wall = sum(unit_s)
    phases["measure_s"] = wall
    errors = []

    def guarded(what: str, fn, empty):
        """An exception in the checks or the layer pass is reported as
        one failed check, and the run goes on to print its result."""
        try:
            return fn(ctx, state)
        except Exception as e:
            traceback.print_exc()
            errors.append((what, False, repr(e)[:300]))
            return empty

    checks = guarded("checks", wl.check, [])
    phases["check_s"] = time.perf_counter() - t_run - sum(phases.values())
    layer_m = guarded("layers", wl.layers, {}) if trace else {}
    phases["layers_s"] = time.perf_counter() - t_run - sum(phases.values())
    peak_rss = tree_peak_rss_mb()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    op_errors = [(label, err) for label, _, _, err in ops if err]
    checks += errors
    record = os.path.join(WORK, "results", f"{workload}_s{seed}.json")
    if trace:
        bad_spans = tracer.invalid_spans()
        # the trace itself is one more checked output
        checks.append(("trace_spans_valid", not bad_spans,
                       f"{len(bad_spans)} invalid spans"))
        # tracing overhead: this run's first unit against the first unit
        # of the untraced run of the same workload and seed, if any
        untraced = None
        if os.path.exists(record):
            with open(record) as f:
                rec = json.load(f)
            if rec["tiny"] == tiny:
                untraced = rec["first_unit_s"]
        log = EventLog(os.path.join(WORK, "eventlog"), app_id)
        layer_m["memory.peak_rss_mb"] = peak_rss
        metrics = layer_metrics(ctx, log, setups, layer_m,
                                unit_s[0] / untraced - 1 if untraced else 0.0)
        if workload == "extract_bulk":
            n_ex = metrics["extract.exchanges"]["value"]
            checks.append(("extract_stage_exchange_free", n_ex == 0,
                           f"{n_ex:g} exchanges"))
        context.update({"layers": layer_m,
                        "tracing_overhead_base_s": untraced,
                        "invalid_spans": bad_spans,
                        "self_time_s": tracer.self_times()})
        tracer.dump(os.path.join(
            WORK, "out", f"spans_{workload}_s{seed}.json"))

    attempted = len(ops) + len(checks)
    failed = len(op_errors) + sum(1 for _, ok, _ in checks if not ok)
    secs = [op[1] for op in ops if not op[3]] or [op[1] for op in ops]
    by_label: dict[str, list[float]] = {}
    for label, sec, _, err in ops:
        if not err:
            by_label.setdefault(label, []).append(sec)
    units = sum(op[2] for op in ops)
    setup_s = median([a + b for a, b in setups])
    # geometric mean over distinct operations of each one's own geomean:
    # a change to any single registry leaf moves it, and unlike the
    # median it does not jump when the seeded order shifts one-off
    # compile cost from one leaf to another
    geomean_ms = geomean([geomean(v) for v in by_label.values()]) * 1000 \
        if by_label else median(secs) * 1000
    if not trace:
        metrics = {"op_ms_geomean": {"value": geomean_ms, "unit": "ms"},
                   "setup_s": {"value": setup_s, "unit": "s"}}
        os.makedirs(os.path.dirname(record), exist_ok=True)
        with open(record, "w") as f:
            json.dump({"first_unit_s": unit_s[0], "tiny": tiny}, f)

    # per-workload names: docs/s, query latency, memory, failure share
    named = {"setup_s": setup_s, "peak_rss_mb": peak_rss,
             "fail_frac": failed / attempted}
    if workload == "extract_bulk":
        named["extract_docs_per_s"] = units / wall
    elif workload == "curate_pack":
        named["pipeline_docs_per_s"] = units / wall
    else:
        named.update({"query_ms_p50": median(secs) * 1000,
                      "query_geomean_ms": geomean_ms,
                      "query_samples": len(secs)})
        p_hi, v_hi = high_percentile(secs)
        if p_hi > 50:  # needs at least ten samples above it
            named[f"query_ms_p{p_hi:g}"] = v_hi * 1000
    context.update({
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "tiny": tiny,
        "load_1min_after": os.getloadavg()[0],
        "cpu_busy_frac": busy, "cpu_steal_frac": steal,
        "settings": {**session_conf(trace),
                     "master": f"local[{cores}]",
                     "spark.sql.shuffle.partitions": str(cores),
                     **{k: os.environ.get(k, "") for k in (
                         "PYTHONPATH", "TZ", "TMPDIR", "JAVA_TOOL_OPTIONS")},
                     **ctx.settings},
        "units": units, "ops": len(ops), "unit_s": unit_s,
        "op_s": [[label, sec] for label, sec, _, _ in ops],
        "setups_s": setups, "phases_s": phases,
        "named_metrics": named,
        "checks": [{"name": n, "ok": ok, "detail": d}
                   for n, ok, d in checks],
        "op_errors": op_errors,
    })
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return context, result


def per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def layer_metrics(ctx, log, setups, layer_m, overhead):
    from harness import median

    v: dict[str, float] = dict(layer_m)
    v["session.get_spark_s"] = median([a for a, _ in setups])
    v["session.warmup_s"] = median([b for _, b in setups])
    w = log.window(*ctx.windows["measure"])
    for k in ("jobs", "stages", "exchanges", "shuffle_write_mb", "spill_mb",
              "executor_busy_s", "gc_s", "driver_gap_s"):
        v[f"spark.{k}"] = w[k]
    if "extract.parquet" in ctx.windows:
        e = log.window(*ctx.windows["extract.parquet"])
        v["extract.task_skew"] = e["task_skew"]
        v["extract.exchanges"] = e["exchanges"]
    if "bpe.learn" in ctx.windows:
        v["bpe.learn_jobs"] = log.window(*ctx.windows["bpe.learn"])["jobs"]
    leaf_wins = {k[5:]: w for k, w in ctx.windows.items()
                 if k.startswith("leaf.")}
    for name, win in leaf_wins.items():
        lw = log.window(*win)
        v[f"leaf.{name}.wall_s"] = (win[1] - win[0]) / 1000
        v[f"leaf.{name}.jobs"] = lw["jobs"]
        v[f"leaf.{name}.exchanges"] = lw["exchanges"]
        v["sources.read_sf_table_tasks"] = \
            v.get("sources.read_sf_table_tasks", 0) + lw["scan_tasks"]
    v["trace.overhead_frac"] = overhead
    return {name: {"value": float(v.get(name, 0.0)), "unit": unit}
            for name, unit in per_layer_names()}


def stop_jvm() -> None:
    """Stop any session still up, then end the JVM that PySpark launched
    (it exits when its stdin closes) and wait for it, so the run leaves
    no process behind even when it raised."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    from harness import alive, process_tree

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python worker daemon exits once the JVM is gone
    deadline = time.monotonic() + 30
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_bulk", "curate_pack", "registry_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output before the checks "
                         "(self-test only)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "n8n_tools_api_spark")):
        print("perfbench: the engine package n8n_tools_api_spark is not "
              f"next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    # Python workers do not inherit the driver's sys.path: hand them the
    # engine and the benchmark modules through the environment, whatever
    # the current directory is
    paths = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]
    os.environ["TZ"] = "UTC"
    time.tzset()
    # keep every temporary file inside the checkout: Python's, the JVMs'
    # (launcher and driver) and their perf-data files
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # the last run's leftovers
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]))

    try:
        context, result = run(args.workload, args.seed, args.seconds,
                              bool(args.trace), args.tiny, args.corrupt)
    finally:
        stop_jvm()
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
