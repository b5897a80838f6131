"""Benchmark entry point.

    python3 perfbench/run.py --workload <export_convert|corpus_dedup>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds its inputs from the seed, starts
one local Spark session (`local[N]`, N = min(4, cores)), runs the
workload's cycles until `--seconds` of cycle time have been measured
(at least one cycle), checks every output outside the timed region and
prints, as the last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are
the `end_to_end` ones of BENCHMARK.json; with `--trace 1` the
`per_layer` ones: after the measured cycles the run adds a warm
untraced, a warm traced and another warm untraced cycle; the layer
metrics come from the traced one, and the traced cycle minus the mean
of the two untraced ones is the tracing overhead. The measured
cycles of both modes run the same untraced session, so the wall and
memory figures of a traced run describe the untraced program.

Everything the run writes stays under `.perfbench_work/` (removed at
exit) and `.perfbench_out/` (span dumps of traced runs) in the
repository root.
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

from workloads import percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ethereum_export_pipeline_spark"
CANARY_ROWS = 20_000_000


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["export_convert", "corpus_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside `work`, and make
    the package importable by the driver and by Spark's Python workers
    whatever the caller's working directory is."""
    tmp, local, conf = (os.path.join(work, d) for d in ("tmp", "local", "conf"))
    for d in (tmp, local, conf):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_CONF_DIR"] = conf
    # A 2g driver heap instead of the package's 8g default: with 8g the
    # corpus_dedup JVM grew to ~4.9 GB resident, too much for a host
    # whose memory other jobs share. Memory and GC figures are for 2g.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    import tempfile
    tempfile.tempdir = None
    defaults = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in defaults.items())


def import_package():
    """Import the package from this checkout, never from elsewhere."""
    import importlib
    pkg = importlib.import_module(PACKAGE)
    where = os.path.dirname(os.path.abspath(pkg.__file__))
    if os.path.dirname(where) != ROOT:
        raise SystemExit(f"{PACKAGE} imported from {where}, not from {ROOT}")
    return pkg


def host_state(spark) -> dict[str, float]:
    """Ambient load, the host's CPU counters and a fixed pure-JVM
    canary job (ms)."""
    t = time.perf_counter()
    spark.range(0, CANARY_ROWS).selectExpr("sum((id * 7) % 13)").collect()
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"load1": os.getloadavg()[0],
            "canary_ms": (time.perf_counter() - t) * 1e3,
            "steal": cpu[7], "all": sum(cpu)}


def jvm_heap_retained_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2 ** 20


def jvm_peak_rss_mb(spark) -> float:
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def cpu_seconds(root_pid: int) -> float:
    """CPU time (user + system) used so far by this process and by
    `root_pid` with all its live descendants (the JVM, and the Python
    workers it forks). Time the hypervisor steals is not in it."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we walked /proc
        parent[int(pid)] = int(fields[1])
        # utime + stime, plus cutime + cstime of children already reaped
        ticks[int(pid)] = sum(int(f) for f in fields[11:15])
    def under_root(pid: int) -> bool:
        while pid > 1:
            if pid == root_pid:
                return True
            pid = parent.get(pid, 0)
        return False
    total = sum(t for pid, t in ticks.items()
                if pid == os.getpid() or under_root(pid))
    return total / os.sysconf("SC_CLK_TCK")


def checked(check, cycles: list) -> None:
    """Run a correctness check; if the check itself cannot run (an
    output is missing or unreadable), every op it covers failed."""
    try:
        check()
    except Exception:
        traceback.print_exc()
        for cyc in cycles:
            for op in cyc.ops:
                op.failed = True


def measure(workload, seconds: float, first: int, jvm_pid: int) -> list:
    """Timed cycles until `seconds` of cycle time (at least one);
    per-cycle checks run between cycles, outside the timing."""
    cycles, spent = [], 0.0
    while not cycles or spent < seconds:
        cpu0 = cpu_seconds(jvm_pid)
        cyc = workload.cycle(first + len(cycles))
        cyc.cpu_s = cpu_seconds(jvm_pid) - cpu0
        spent += cyc.seconds
        checked(lambda: workload.check(cyc), [cyc])
        cycles.append(cyc)
    return cycles


def tail(values: list[float]) -> tuple[int, float]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it (p50 when there are fewer than 20 samples)."""
    for pct in (99, 95, 90, 75):
        if len(values) * (100 - pct) / 100 >= 10:
            return pct, percentile(values, pct)
    return 50, percentile(values, 50)


def run(args) -> tuple[dict, dict]:
    import spans as spans_mod
    import workloads as W
    t_setup = time.perf_counter()
    import_package()
    from ethereum_export_pipeline_spark.session import get_spark
    cores = min(4, os.cpu_count() or 1)
    spark = get_spark(f"perfbench-{args.workload}", cpus=cores)
    session_s = time.perf_counter() - t_setup
    t = time.perf_counter()
    spark.range(1000).count()
    first_job_s = time.perf_counter() - t
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = spans_mod.Tracer(run_id)
    ctx = W.Context(spark, tracer, os.environ["PERFBENCH_WORK"], args.seed,
                    cores)
    workload = W.WORKLOADS[args.workload](ctx)
    try:
        parts = workload.setup()
        setup_cpu_s = cpu_seconds(jvm_pid)   # everything up to the first cycle
        for owner, attr, name, attrs in workload.ops_wrapped():
            tracer.wrap(owner, attr, name, attrs)
        host0 = host_state(spark)
        plain = measure(workload, args.seconds, 0, jvm_pid)
        rss = jvm_peak_rss_mb(spark)
        heap_mb = jvm_heap_retained_mb(spark)
        baseline, traced, stats = [], [], {}
        if args.trace:
            # The tracing overhead compares the traced cycle with the
            # mean of the untraced cycles just before and after it: the
            # JVM is still warming up, and bracketing cancels that trend.
            baseline = measure(workload, 0, len(plain), jvm_pid)
            tracer.sc = spark.sparkContext
            for owner, attr, name in layer_functions():
                tracer.wrap(owner, attr, name)
            traced = measure(workload, 0, len(plain) + 1, jvm_pid)
            tracer.unwrap_all()
            tracer.sc = None
            stats = spans_mod.group_stats(
                *spans_mod.fetch_status(spark.sparkContext, f"{run_id}:"))
            for owner, attr, name, attrs in workload.ops_wrapped():
                tracer.wrap(owner, attr, name, attrs)
            baseline += measure(workload, 0, len(plain) + 2, jvm_pid)
            for cyc in traced:
                workload.traced_extras(cyc)
        every_cycle = plain + baseline + traced
        checked(lambda: workload.check_all(every_cycle), every_cycle)
        host1 = host_state(spark)
    finally:
        tracer.unwrap_all()
        stop_spark(spark)

    ops = [op for cy in plain + baseline + traced for op in cy.ops]
    failed = sum(op.failed for op in ops)
    lat = [op.span.duration * 1e3 for cy in plain for op in cy.ops]
    pct, tail_ms = tail(lat)
    summary = workload.summary(plain)
    side = {
        "detail": {"workload": args.workload, "seed": args.seed,
                   "cycles_s": [c.seconds for c in plain],
                   "cycles_cpu_s": [c.cpu_s for c in plain], "ops": len(lat),
                   "op_ms": [[(op.span.name, op.span.duration * 1e3)
                              for op in c.ops] for c in plain],
                   "tail": {"pct": pct, "ms": tail_ms, "samples": len(lat)},
                   "setup_parts_s": {"session_start": session_s,
                                     "first_job": first_job_s, **parts},
                   **summary},
        "host": {"load1_start": host0["load1"], "load1_end": host1["load1"],
                 "canary_start_ms": host0["canary_ms"],
                 "canary_end_ms": host1["canary_ms"],
                 "steal_pct": 100 * (host1["steal"] - host0["steal"])
                 / (host1["all"] - host0["all"])},
    }
    setup_wall_s = (session_s + first_job_s + parts["generate_s"]
                    + parts.get("warmup_s", 0.0))
    wall = {"cycle_s": statistics.median(cy.seconds for cy in plain),
            "op_p50_ms": statistics.median(lat),
            "op_p90_ms": percentile(lat, 90),
            "setup_wall_s": setup_wall_s, "peak_rss_mb": rss,
            "heap_retained_mb": heap_mb}
    side["detail"].update(wall)
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
    if not args.trace:
        result["metrics"] = {
            "setup_s": setup_cpu_s,
            "cycle_cpu_s": statistics.median(cy.cpu_s for cy in plain),
        }
        return result, side

    m = {"session.start_s": session_s, "session.first_job_s": first_job_s}
    try:
        m.update(workload.layer_metrics(traced, tracer, stats))
    except Exception as e:
        if not failed:
            raise
        # ops failed, so the run is already marked incorrect; the layers
        # the failure kept from running read 0 on it
        side["detail"]["layer_metrics_error"] = repr(e)
    m.update(summary)
    every = spans_mod.subtree_stats(tracer, [c.span for c in traced], stats)
    traced_s = sum(c.seconds for c in traced)
    m["spark.task_busy_ratio"] = every.run_s / (traced_s * cores)
    m["spark.gc_s"] = every.gc_s / len(traced)
    m["spark.scheduler_delay_s"] = every.sched_delay_s / len(traced)
    m["trace.overhead_s"] = traced[0].seconds - statistics.mean(
        c.seconds for c in baseline)
    m["trace.spans_per_cycle"] = sum(
        len(tracer.subtree(c.span)) for c in traced) / len(traced)
    m.update(wall)
    m.update({"failed_ops_ratio": failed / len(ops),
              "host.steal_pct": side["host"]["steal_pct"],
              "host.load1_start": host0["load1"],
              "host.load1_end": host1["load1"],
              "host.canary_ms": (host0["canary_ms"] + host1["canary_ms"]) / 2})
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    side["self_s"] = self_time_table(tracer, traced, spans_mod)
    result["metrics"] = m
    return result, side


def layer_functions():
    """(owner, attribute, span name) of every package function the
    traced run wraps. Functions the benchmark calls directly get their
    span from the benchmark instead. Only driver-side functions are
    listed: a wrapper must never be shipped to a Python worker."""
    from ethereum_export_pipeline_spark import incremental, partitioning
    from ethereum_export_pipeline_spark.operators import (
        convert, dedup, multimodal, nulls, pipeline, similarity)
    from ethereum_export_pipeline_spark.sources import chain, csv_source
    names = [
        (partitioning, "pad8", "partitioning.pad8"),
        (pipeline, "run_export_dag", "pipeline.run_export_dag"),
        (csv_source, "write_partition_csv", "csv_source.write_partition_csv"),
        (csv_source, "read_table_csv", "csv_source.read_table_csv"),
        (csv_source, "read_table_parquet", "csv_source.read_table_parquet"),
        (incremental, "processed_ranges", "incremental.processed_ranges"),
        (incremental, "commit_ranges", "incremental.commit_ranges"),
        (convert, "typed_projection", "convert.typed_projection"),
        (nulls, "null_profile", "nulls.null_profile"),
        (dedup, "simhash_fingerprints", "dedup.simhash_fingerprints"),
        (similarity, "with_quantized", "similarity.with_quantized"),
        (multimodal, "documents_as_ppm_media", "multimodal.documents_as_ppm_media"),
    ]
    names += [(chain.FixtureChain, m, f"chain.{m}") for m in (
        "export_blocks_and_transactions", "export_token_transfers",
        "export_receipts_and_logs", "export_contracts", "export_tokens")]
    return names


def self_time_table(tracer, traced, spans_mod) -> dict[str, list[float]]:
    """Span name → [total, self] seconds per traced cycle."""
    spans = [s for c in traced for s in tracer.subtree(c.span)]
    selfs = spans_mod.self_times(spans)
    out: dict[str, list[float]] = {}
    for s in spans:
        tot = out.setdefault(s.name, [0.0, 0.0])
        tot[0] += s.duration / len(traced)
        tot[1] += selfs[s.id] / len(traced)
    return out


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = parse_args(argv)
    contract = load_contract()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["PERFBENCH_WORK"] = work
    sys.dont_write_bytecode = True
    try:
        prepare_env(work)
        result, side = run(args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    names = contract["per_layer" if args.trace else "end_to_end"]
    metrics = result["metrics"]
    if args.trace:
        import workloads as W
        own = set(W.WORKLOADS[args.workload].METRICS)
        # layers only another workload calls did no work on this one;
        # a layer this workload owns must have been measured
        others = {n for w in W.WORKLOADS.values() for n in w.METRICS} - own
        metrics = {**{n: 0.0 for n in others}, **metrics}
        if result["failed"]:
            metrics = {**{n: 0.0 for n in own}, **metrics}
    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    result["metrics"] = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                         for m in names}
    for key, value in side.items():
        print(json.dumps({key: value}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
