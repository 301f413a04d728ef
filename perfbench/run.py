#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. All load comes from this
process: one client runs one job at a time (a closed loop) on
``local[$SPARK_GRAFT_CPUS]``, which defaults to the cores this process may use.

A run:

1. writes the workload's seeded inputs under ``perfbench/_work/``;
2. sets up the engine three times (``get_session``, a first action, a warm
   Python worker pool, ``catalog.load_table`` for the workload's tables),
   stopping the session in between; ``setup_s`` is the median, and the
   first set-up is timed from before the engine is imported;
3. runs untimed warm-up passes, the first of which checks every output;
4. runs timed passes, each job in a seed-permuted order, until
   ``--seconds`` have passed and at least two passes ran; mr outputs are
   checked after every job;
5. prints one row for the workload, then one JSON line.

With ``--trace 0`` the JSON metrics are the end-to-end ones; with
``--trace 1`` the run repeats its timed passes in a second, traced session
(event log on, job groups, a streaming listener) and reports the per-layer
metrics instead. ``perfbench/README.md`` lists what each metric means and
which end-to-end metric it should move.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SETUPS = 3
# Timed passes per session, at least: the medians then rest on two samples
# even when one pass outlasts --seconds.
MIN_PASSES = 2
END_TO_END = {"setup_s": "s", "pass_s": "s", "job_geomean_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    import tracing
    import workloads

    units = {
        "session.get_session_s": "s", "session.warm_s": "s", "session.first_setup_s": "s",
        "session.conf_drift": "count", "session.jvm_peak_rss_mb": "MB",
        "catalog.load_table_s": "s", "catalog.scan_mb_per_s": "MB/s",
        "plans.build_s": "s", "plans.exec_s": "s", "plans.jobs": "count",
        "plans.eager_jobs": "count",
    }
    units.update({f"operators.{q}_s": "s" for q in workloads.LLM})
    units.update({f"mr.{j}_s": "s" for j in workloads.MrJobs.jobs})
    units.update({
        "mr.map_output_records": "count", "mr.reduce_ratio": "ratio",
        "mr.reduce_skew": "ratio", "mr.input_reshuffle_mb": "MB",
        "streaming.triggers": "count", "streaming.trigger_p50_ms": "ms",
        "streaming.trigger_tail_ms": "ms", "streaming.add_batch_ms": "ms",
        "streaming.get_batch_ms": "ms", "streaming.query_planning_ms": "ms",
        "streaming.wal_commit_ms": "ms", "streaming.state_rows": "count",
        "streaming.state_mem_mb": "MB", "streaming.leaked_tables": "count",
    })
    total_units = {
        "task_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
        "shuffle_read_mb": "MB", "spill_mb": "MB", "tasks": "count",
        "tasks_failed": "count", "cpu_util": "ratio",
    }
    for layer in tracing.LAYERS:
        units.update({f"{layer}.{k}": total_units[k] for k in tracing.EVENT_TOTALS})
    units.update({f"self.{kind}_s": "s" for kind in tracing.SPAN_KINDS})
    units.update({
        "trace.overhead_pct": "%", "trace.passes": "count",
        "host.load_avg_1m": "load", "host.probe_total_s": "s",
    })
    return units


def parse_args(argv: list[str]) -> argparse.Namespace:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="bench",
                    help="input size; 'smoke' is the self-check's quick size")
    return ap.parse_args(argv)


def configure_env(work: str, extra: dict[str, str]) -> int:
    """Keep Spark, its Python workers and every temp file inside ``work``;
    put the checkout on the workers' import path."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join(paths),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_SUBMIT_ARGS": (
            # No hsperfdata file: HotSpot would write it under /tmp. C1 only:
            # with C2 on, passes kept getting faster for the first minute
            # or more while C2 compiled Spark's planner, so a run's figures
            # depended on how far its JVM had got; C1 settles within two
            # passes. An engine change whose gain only C2 brings out will
            # not show here.
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1'"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        **extra,
    })
    tempfile.tempdir = None
    return cpus


def _identity(batches):
    return batches


def setup(tables: tuple[str, ...], sf_dir: str, cpus: int, t0: float):
    """Engine set-up to the first job being ready; returns (spark, timings)."""
    import map_reduce_group_spark.plans  # noqa: F401  (the registry)
    from map_reduce_group_spark import catalog
    from map_reduce_group_spark.session import get_session

    t = time.perf_counter()
    spark = get_session("perfbench")
    t_session = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    t_first = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(cpus).repartition(cpus).mapInPandas(_identity, "id long").write.format(
        "noop").mode("overwrite").save()
    t_warm = time.perf_counter() - t
    t = time.perf_counter()
    for name in tables:
        catalog.load_table(spark, sf_dir, name)
    t_load = time.perf_counter() - t
    return spark, {
        "setup_s": time.perf_counter() - t0, "get_session_s": t_session,
        "first_action_s": t_first, "warm_s": t_warm, "load_table_s": t_load,
    }


def shutdown_jvm() -> None:
    """Stop the active session and the JVM behind it; wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits on EOF of its stdin
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs passes of one workload and keeps the per-job wall times."""

    def __init__(self, wl, seed: int):
        self.wl = wl
        self.seed = seed
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0

    def run_pass(self, spark, tracer, pass_no: int, check: bool, listener=None) -> dict:
        import workloads

        walls: dict[str, float] = {}
        with tracer.span("pass", pass_no=pass_no):
            for job in workloads.pass_order(self.wl.jobs, self.rng):
                verify = None
                with tracer.span("job", job=job, layer=workloads.layer_of(job),
                                 pass_no=pass_no) as sp:
                    t = time.perf_counter()
                    try:
                        verify = self.wl.run(spark, job, tracer, check)
                    except Exception as exc:  # a failed job counts; the run goes on
                        first = (str(exc).strip().splitlines() or [repr(exc)])[0]
                        print(f"perfbench: {job} raised: {first[:300]}", file=sys.stderr)
                    walls[job] = time.perf_counter() - t
                ok = verify is not None and verify()
                self.attempted += 1
                if not ok:
                    self.failed += 1
                    if verify is not None:
                        print(f"perfbench: {job} returned a wrong result", file=sys.stderr)
                spark.catalog.clearCache()
                if listener is not None:
                    listener.settle()
                sp["ok"] = ok
        return walls

    def timed_passes(self, spark, tracer, seconds: float, first_no: int, listener=None,
                     after_pass=None) -> list[dict]:
        passes: list[dict] = []
        deadline = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            passes.append(self.run_pass(spark, tracer, first_no + len(passes), False, listener))
            if after_pass is not None:
                after_pass()
        return passes


def pass_s(passes: list[dict]) -> float:
    return statistics.median(sum(p.values()) for p in passes)


def job_geomean_s(passes: list[dict]) -> float:
    jobs = passes[0].keys()
    med = [statistics.median(p[j] for p in passes) for j in jobs]
    return math.exp(sum(math.log(m) for m in med) / len(med))


def traced_session(spark, wl, runner, cpus, seconds, sf_dir, work, setups, untraced):
    """Second, traced session: event log on, job groups, listener."""
    import tracing
    import workloads
    from map_reduce_group_spark import catalog

    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir)
    # spark-submit passes --conf settings to the Spark JVM as system
    # properties; set them the same way so the next SparkContext reads them.
    system = spark._jvm.java.lang.System
    spark.stop()
    for key, value in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }.items():
        system.setProperty(key, value)
    spark, timings = setup(wl.tables, sf_dir, cpus, time.perf_counter())
    setups.append(timings)
    listener = tracing.stream_listener()
    spark.streams.addListener(listener)
    tracer = tracing.Tracer(spark, True)

    conf0 = dict(spark.conf.getAll)
    leaked: list[int] = []
    drift: list[int] = []

    def tables_now() -> set[str]:
        return {t.name for t in spark.catalog.listTables()}

    before = [tables_now()]

    def after_pass() -> None:
        now = tables_now()
        leaked.append(len(now - before[0]))
        before[0] = now
        conf = dict(spark.conf.getAll)
        drift.append(sum(1 for k in set(conf) | set(conf0) if conf.get(k) != conf0.get(k)))

    with tracer.span("workload", workload=wl.name):
        passes = runner.timed_passes(spark, tracer, seconds, 1, listener, after_pass)

    # Spark jobs per registry job, from the StatusTracker by job group:
    # builder groups and stream run ids started inside a builder are eager.
    listener.settle()
    started = list(listener.started)
    n_jobs = n_eager = 0
    for sp in tracer.spans:
        if sp["name"] not in ("plans.build", "plans.exec"):
            continue
        runs = [r for r, t in started if sp["start_ms"] <= t <= sp["end_ms"]]
        count = tracer.group_jobs(sp["id"]) + sum(
            len(spark.sparkContext.statusTracker().getJobIdsForGroup(r)) for r in runs)
        n_jobs += count
        n_eager += count if sp["name"] == "plans.build" else 0

    scanned_mb = scan_s = 0.0
    for name in wl.tables:
        t = time.perf_counter()
        catalog.load_table(spark, sf_dir, name).write.format("noop").mode("overwrite").save()
        scan_s += time.perf_counter() - t
        scanned_mb += os.path.getsize(os.path.join(sf_dir, f"{name}.parquet")) / tracing.MB

    import bench

    probe = bench._calibration_probe(spark)
    shutdown_jvm()
    peak_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0

    log = tracing.read_event_log(tracing.find_event_log(event_dir))
    tracing.attach_spark_spans(tracer, log, listener)
    n = len(passes)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731

    def phase_per_pass(kind: str) -> float:
        return sum((s["end_ms"] - s["start_ms"]) / 1000.0
                   for s in tracer.spans if s["name"] == kind) / n

    m = {
        "session.get_session_s": med([s["get_session_s"] for s in setups]),
        "session.warm_s": med([s["warm_s"] for s in setups]),
        "session.first_setup_s": setups[0]["setup_s"],
        "session.conf_drift": float(drift[-1]),
        "session.jvm_peak_rss_mb": peak_mb,
        "catalog.load_table_s": med([s["load_table_s"] for s in setups]),
        "catalog.scan_mb_per_s": scanned_mb / scan_s if scan_s else 0.0,
        "plans.build_s": phase_per_pass("plans.build"),
        "plans.exec_s": phase_per_pass("plans.exec"),
        "plans.jobs": n_jobs / n,
        "plans.eager_jobs": n_eager / n,
        "streaming.leaked_tables": med(leaked),
        "trace.overhead_pct": (pass_s(passes) / untraced - 1.0) * 100.0,
        "trace.passes": float(n),
        "host.probe_total_s": probe["total"],
    }
    for q in workloads.LLM:
        m[f"operators.{q}_s"] = med([p[q] for p in passes if q in p])
    for j in workloads.MrJobs.jobs:
        m[f"mr.{j}_s"] = med([p[j] for p in passes if j in p])
    m.update(tracing.mr_counters(log, tracer.spans))
    m.update(tracing.streaming_metrics(listener, n))
    m.update(tracing.layer_totals(log, tracer.spans, cpus, n))
    m.update({f"self.{k}_s": v / n for k, v in tracing.self_times(tracer.spans).items()})

    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"spans-{wl.name}-seed{runner.seed}.json"), "w") as fh:
        json.dump({"probe": probe, "spans": tracer.spans}, fh)
    return m


def log(message: str) -> None:
    print(f"perfbench: {message}", file=sys.stderr)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "map_reduce_group_spark")):
        log(f"no engine package under {ROOT}; run from the root of a checkout")
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        if "pyspark" in sys.modules:
            shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, work: str) -> int:
    import tracing
    import workloads

    load_start = os.getloadavg()[0]
    wl = workloads.WORKLOADS[args.workload](ROOT, work, args.seed, args.size)
    cpus = configure_env(work, wl.env(args.size))
    sf_dir = wl.sf_dir

    t0 = time.perf_counter()
    spark, first = setup(wl.tables, sf_dir, cpus, t0)
    setups = [first]
    wl.bind()
    for _ in range(SETUPS - 1):
        spark.stop()
        spark, timings = setup(wl.tables, sf_dir, cpus, time.perf_counter())
        setups.append(timings)

    runner = Runner(wl, args.seed)
    tracer = tracing.Tracer(spark, False)
    t_warmup = time.perf_counter()
    warm = [runner.run_pass(spark, tracer, -i, i == 0) for i in range(wl.warmup_passes)]
    t_timed = time.perf_counter()
    passes = runner.timed_passes(spark, tracer, args.seconds, 1)
    log(f"inputs {t0 - T_START:.1f}s, set-ups {t_warmup - t0:.1f}s"
        f" (first {first['setup_s']:.1f}s), warm-up passes {t_timed - t_warmup:.1f}s,"
        f" timed passes {time.perf_counter() - t_timed:.1f}s")
    for s in setups:
        log("setup " + " ".join(f"{k}={v:.3f}" for k, v in s.items()))
    for p in warm + passes:
        log("pass " + " ".join(f"{j}={p[j]:.3f}" for j in wl.jobs))

    row = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "pass_s": pass_s(passes),
        "job_geomean_s": job_geomean_s(passes),
    }
    if args.trace:
        metrics = traced_session(spark, wl, runner, cpus, args.seconds, sf_dir, work,
                                 setups, row["pass_s"])
        metrics["host.load_avg_1m"] = load_start
        units = per_layer_units()
    else:
        shutdown_jvm()
        metrics = row
        units = END_TO_END

    print(
        f"workload={wl.name} seed={args.seed} "
        + " ".join(f"{k}={v:.4f}{END_TO_END[k]}" for k, v in row.items())
        + f" passes={len(passes)} jobs_per_pass={len(wl.jobs)}"
        + f" failed_frac={runner.failed / runner.attempted:.4f}"
        + f" ({runner.failed}/{runner.attempted})"
        + f" load_avg_1m={load_start:.2f}->{os.getloadavg()[0]:.2f} cpus={cpus}"
    )
    for job in wl.jobs:
        print(f"  job {job} = {statistics.median(p[job] for p in passes):.4f} s")
    if args.trace:
        for name in sorted(metrics):
            print(f"  {name} = {metrics[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
