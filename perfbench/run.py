#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client driving the package.

    python3 perfbench/run.py --workload etl_hourly --seed 1 --seconds 10 --trace 0

Run from the repository root.  Spark runs as ``local[N]``, N = the CPUs this
process may use.  Everything the run writes goes under ``.bench_work/``
(scratch, removed at exit) and ``.bench_out/`` (span dumps) in the current
directory.

The run sets up its inputs three times (``setup_s``), warms up with checked
ops, then issues ops back to back until ``--seconds`` of op time is spent
(and the workload's minimum is met).  An op fails if it raises or its output
check fails.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
records spans around every call into the package and prints the per-layer
metrics.  The last stdout line is the JSON result; the lines before it
repeat every metric with its unit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
DRIVER_MEMORY = "2g"


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at least 10
    samples beyond it, i.e. the 11th-largest sample.  With fewer than 11
    samples there is none; the maximum is reported as the 100th percentile."""
    s = sorted(latencies)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def prepare_env(work: str) -> None:
    """Pin the session shape and keep every temporary file in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the program's default heap cap is 16g; the benchmark caps it lower so
    # that a run's footprint stays small on a shared machine (README.md)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no /tmp/hsperfdata file
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def measure(w, sc, tracer, seconds: float, traced: bool) -> tuple[list[dict], bool]:
    """The closed loop.  Returns the results (op latency in ms, pass/fail,
    kind, whether traced, stats) and whether the workload's minimum was met
    before the wall-clock limit cut the loop short.  In a traced run the
    workload interleaves traced and untraced ops (``w.traced``), so that
    trace.overhead_pct compares ops run at the same point of the run."""
    from perfbench.trace import spark_counts

    results, spent, i = [], 0.0, 0
    wall_limit = time.perf_counter() + 3 * seconds + 60
    while time.perf_counter() < wall_limit:
        on = traced and w.traced(i)
        tracer.enabled = on
        prep = w.prepare(i)
        group = f"op-{i}"
        sc.setJobGroup(group, f"op {i}")
        tracer.op_id = i
        stats, ok = {}, True
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                stats = w.op(i, prep)
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
        ms = (time.perf_counter() - t) * 1e3
        sc.setJobGroup("check", "output checks")
        spent += ms / 1e3
        if ok:
            try:
                ok = w.check(i, prep, stats)
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
        if not ok:
            print(f"op {i} ({w.kind(i)}) failed", file=sys.stderr)
        if on:
            stats["jobs"], stats["stages"], stats["tasks"] = spark_counts(
                sc, [group] + stats.get("groups", []))
        results.append({"ms": ms, "ok": ok, "kind": w.kind(i), "traced": on, "stats": stats})
        if spent >= seconds and w.done(i, traced):
            return results, True
        i += 1
    return results, False


def overhead_pct(traced: list[dict], untraced: list[dict]) -> float:
    """Tracing overhead from measured latencies: traced against untraced op
    median, both over the op kinds that both sets hold (every query of the
    mix; the plain hours of the cron job)."""
    common = {r["kind"] for r in traced} & {r["kind"] for r in untraced}
    t = statistics.median(r["ms"] for r in traced if r["kind"] in common)
    u = statistics.median(r["ms"] for r in untraced if r["kind"] in common)
    return 100.0 * (t - u) / u


def end_to_end(results: list[dict], setup_s: float, peak: float) -> dict[str, tuple[float, str]]:
    done = [r for r in results if r["ok"]]
    lat = [r["ms"] for r in results]
    busy_s = sum(lat) / 1e3
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_tail_ms": (tail(lat)[0], "ms"),
        "ops_per_s": (len(done) / busy_s, "1/s"),
        "rows_per_s": (sum(r["stats"].get("rows", 0) for r in done) / busy_s, "1/s"),
        "peak_rss_mb": (peak, "MB"),
    }


def layer_metrics(tracer, results: list[dict], get_spark_s: float, overhead: float,
                  failed: int, attempted: int) -> dict[str, tuple[float, str]]:
    from merl_etl_spark import registry

    from perfbench import mix

    n = max(1, len(results))
    self_ms = tracer.self_ms()

    def per_op(name):
        return self_ms.get(name, 0.0) / n

    def total(key):
        return sum(r["stats"].get(key, 0) for r in results)

    offered = total("rows") if total("pages") else 0
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (get_spark_s, "s"),
        "sources.paged.ingest_ms": (per_op("sources.paged.ingest"), "ms"),
        "sources.paged.pages": (total("pages") / n, "count"),
        "sources.paged.rows": (offered / n, "count"),
        "jobs.ingest_transfers_ms": (per_op("jobs.ingest_transfers"), "ms"),
        "jobs.append_ratio": (total("appended") / offered if offered else 0.0, "ratio"),
        "jobs.derive_top100_ms": (per_op("jobs.derive_top100"), "ms"),
        "jobs.activity_report_ms": (per_op("jobs.activity_report"), "ms"),
        "reporting.render_ms": (per_op("reporting.render"), "ms"),
        "sinks.append_ms": (per_op("sinks.append"), "ms"),
        "sinks.merge_into_parquet_ms": (per_op("sinks.merge_into_parquet"), "ms"),
        "sinks.files_written": (total("files_written") / n, "count"),
        "sinks.bytes_written": (total("bytes_written") / n, "B"),
        "sinks.write_amp": (
            total("bytes_written") / total("input_bytes") if total("input_bytes") else 0.0,
            "ratio"),
        "streaming.maintenance_ms": (per_op("streaming.maintenance"), "ms"),
        "streaming.batches": (total("batches") / n, "count"),
        "streaming.trigger_ms": (total("trigger_ms") / n, "ms"),
        "streaming.add_batch_ms": (total("add_batch_ms") / n, "ms"),
        "streaming.overhead_ms": ((total("trigger_ms") - total("add_batch_ms")) / n, "ms"),
        "spark.jobs_per_op": (total("jobs") / n, "count"),
        "spark.stages_per_op": (total("stages") / n, "count"),
        "spark.tasks_per_op": (total("tasks") / n, "count"),
        "bench.other_ms": (per_op("op"), "ms"),
    }
    registry.load_all()
    calls: dict[str, int] = {}
    for r in results:
        mod = r["stats"].get("module")
        if mod:
            calls[mod] = calls.get(mod, 0) + 1
    for q in mix.mix_queries():
        mod = registry.QUERIES[q].__module__.removeprefix("merl_etl_spark.")
        m[f"{mod}.query_ms"] = (self_ms.get(f"{mod}.query", 0.0) / max(1, calls.get(mod, 0)),
                                "ms")
    m["trace.op_p50_ms"] = (statistics.median(r["ms"] for r in results), "ms")
    m["trace.overhead_pct"] = (overhead, "%")
    m["error_rate"] = (failed / attempted, "ratio")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".bench_work")
    out_dir = os.path.join(os.getcwd(), ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path[:0] = [ROOT]
    try:
        from merl_etl_spark.session import get_spark

        from perfbench.trace import Tracer, peak_rss_mb, reset_peak_rss
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"cannot import the package under test: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    tracer = Tracer(enabled=False)
    spark = None
    phases: dict[str, float] = {}
    try:
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t
        sc = spark.sparkContext
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        sc.setJobGroup("setup", "benchmark set-up")
        w = WORKLOADS[args.workload](spark, args.seed, tracer, traced_io=bool(args.trace))
        rounds = []
        for r in range(SETUP_ROUNDS):
            t = time.perf_counter()
            w.setup_round(os.path.join(work, f"round{r}"))
            rounds.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.prime()
        prime_s = time.perf_counter() - t
        setup_s = get_spark_s + statistics.median(rounds) + prime_s
        t = time.perf_counter()
        setup_failures = w.warm_up()
        phases["warm_up"] = time.perf_counter() - t
        for f in setup_failures:
            print(f"set-up check failed: {f}", file=sys.stderr)
        reset_peak_rss(jvm_pid)
        t = time.perf_counter()
        results, complete = measure(w, sc, tracer, args.seconds, bool(args.trace))
        phases["measure"] = time.perf_counter() - t
        peak_py, peak_jvm = peak_rss_mb(jvm_pid)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not results:
        print("no op completed", file=sys.stderr)
        return 1

    attempted = len(results) + len(setup_failures)
    failed = sum(not r["ok"] for r in results) + len(setup_failures)
    traced = [r for r in results if r["traced"]]
    untraced = [r for r in results if not r["traced"]]
    _tail, tail_pct, tail_n = tail([r["ms"] for r in (traced or untraced)])
    if not complete:
        warning = (f"WARNING: run cut at the wall-clock limit before the {args.workload} "
                   "minimum of ops was met; its latencies cover fewer ops than a full run")
        print(f"# {warning}")
        print(warning, file=sys.stderr)
    if args.trace:
        # a cut run may lack one of the two sets (see the warning)
        overhead = overhead_pct(traced, untraced) if traced and untraced else 0.0
        metrics = layer_metrics(tracer, traced or results, get_spark_s, overhead, failed,
                                attempted)
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = end_to_end(results, setup_s, peak_py + peak_jvm)

    print(f"# workload {args.workload} seed {args.seed} ops {len(results)}: get_spark "
          f"{get_spark_s:.3f} s, input rounds {[round(r, 3) for r in rounds]} s, "
          f"prime {prime_s:.3f} s, "
          + ", ".join(f"{k} {v:.3f} s" for k, v in phases.items())
          + f"; peak RSS python {peak_py:.0f} MB, jvm {peak_jvm:.0f} MB")
    print(f"# op_tail_ms is p{tail_pct:.1f} of {tail_n} samples")
    print(f"# error_rate {failed / attempted:.6f} ratio ({failed} failed of {attempted})")
    for k, (v, unit) in metrics.items():
        print(f"# {k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
