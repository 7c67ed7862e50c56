"""Benchmark runner for the engine: one workload, one seed, one JSON result.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 16 --trace 0

The engine runs on ``local[N]`` (N = min(4, usable cores)) through
``session.get_spark``. The run reads the engine's fixture tables, copied
under ``perfbench/fixtures/``, at the workload's scale factor, sets up the
workload (session start + warm-up pass, timed as ``setup_s``),
runs the seeded closed loop for ``--seconds`` (whole rounds), checks every
output outside the timed window, and prints as its LAST stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop with spans and Spark job/stage attribution and reports the per-layer
metrics instead. The line before it records the run configuration.
Everything the run writes stays under ``perfbench/.work/`` in the checkout:
the traced runs' span files, and a per-run directory (temp files, store,
spill) removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
FIXTURES = os.path.join(HERE, "fixtures")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
}


def _cpus() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def _pin_environment(run_dir: str) -> dict:
    """Environment for the engine: N cores, driver memory, and every temp,
    spill and warehouse path under ``run_dir``. Must run before the JVM
    starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = _cpus()
    config = {"cpus": cpus, "driver_memory": "2g"}
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = config["driver_memory"]
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from the checkout, whatever the cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = [f"--conf {k}={shlex.quote(v)}" for k, v in confs.items()]
    args.append(f"--driver-java-options {shlex.quote(java_opts)}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp
    return config


def _shutdown_engine(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait()


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main(argv=None, sf: float | None = None) -> int:
    """Run one workload. ``sf`` overrides the workload's scale factor; only
    the self-test passes it, to run on the tiny fixture."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("recommender_systems_pyspark_spark/registry.py", "tools/verify_local.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"the engine is missing: {need} not found under {ROOT}")
    t_proc = time.perf_counter()
    sys.path[:0] = [ROOT, HERE]
    import workloads
    from tracing import Tracer, peak_rss_mb

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    cls = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    sf = cls.sf if sf is None else sf
    sf_dir = os.path.join(FIXTURES, f"sf{sf}")
    if not os.path.isfile(os.path.join(sf_dir, "events.parquet")):
        _fail(f"the fixture tables are missing: {sf_dir}")
    config = _pin_environment(run_dir)

    from recommender_systems_pyspark_spark.session import get_spark

    def spark_factory():
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    tracer = Tracer(bool(args.trace))
    wl = cls(spark_factory, sf_dir, run_dir, args.seed, tracer)
    t0 = time.perf_counter()
    try:
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.run_timed(args.seconds)
        wl.check()
        metrics = collect_metrics(wl, setup_s, peak_rss_mb)
        config.update(
            seed=args.seed,
            workload=args.workload,
            sf=sf,
            spark_version=wl.spark.version,
            rounds=wl.phase["rounds"],
            process_setup_s=round(t0 - t_proc, 3),
        )
        if args.trace:
            metrics.update(layer_metrics(wl, tracer, spark_factory))
            tracer.dump(os.path.join(WORK, "spans", f"{os.path.basename(run_dir)}.json"),
                        {"config": config})
    finally:
        _shutdown_engine(wl.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = wl.attempted_failed()
    for f in wl.failures:
        print(f"FAIL {f}", file=sys.stderr)
    print("# config " + json.dumps(config, sort_keys=True))
    layer_units = {**LAYER_UNITS, **{f"op.{q}_ms": "ms" for q in workloads.POOL}}
    units = {**END_TO_END, **layer_units}
    names = layer_units if args.trace else END_TO_END
    result = {
        "correct": failed == 0 and not wl.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            n: {"value": float(metrics.get(n, 0.0)), "unit": units[n]} for n in names
        },
    }
    print(json.dumps(result))
    return 0


def collect_metrics(wl, setup_s: float, peak_rss_mb) -> dict[str, float]:
    jvm_pid = wl.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm, py = peak_rss_mb(jvm_pid), peak_rss_mb()
    return {
        "setup_s": setup_s,
        **wl.end_to_end(),
        "peak_rss_mb": jvm + py,
        "jvm.peak_rss_mb": jvm,
        "python.peak_rss_mb": py,
    }


#: Per-layer metrics of the traced run, with units. Layers are named
#: after the engine's modules; a layer a workload never calls reads 0.
LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "session.recycle_s": "s",
    "session.warmup_s": "s",
    "registry.build_ms": "ms",
    "registry.build_jobs": "count",
    "jobs_per_op": "count",
    "stages_per_op": "count",
    "tasks_per_op": "count",
    "job_time_ms": "ms",
    "driver_gap_ms": "ms",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "gc_ms": "ms",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "B",
    "sources.scan_rows_per_result_row": "ratio",
    "ml.users.create_user_ms": "ms",
    "ml.users.add_rating_ms": "ms",
    "ml.users.latest_ratings_ms": "ms",
    "sources.sinks.files_written": "count",
    "sources.sinks.bytes_written": "B",
    "sources.sinks.bytes_per_rating": "B",
    "sources.store_files_scanned": "count",
    "ml.recommender.train_s": "s",
    "ml.recommender.train_jobs": "count",
    "ml.recommender.topn_s": "s",
    "ml.recommender.rmse": "1",
    "ml.ratings.derive_s": "s",
    "app.write_p50_ms": "ms",
    "app.retrain_s": "s",
    "streaming.triggers": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.addbatch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def layer_metrics(wl, tracer, spark_factory) -> dict[str, float]:
    """Per-layer numbers of the timed phase, from the spans and the Spark
    jobs/stages the UI REST API reports for the ops they enclose."""
    from tracing import attribute_jobs, fetch_spark_metrics, jobs_in, median, op_spark_stats

    lo, hi = wl.timed_window
    spans = [s for s in tracer.spans if "end" in s and lo <= s["start"] <= hi]
    jobs, stages = fetch_spark_metrics(wl.spark)
    ops = [s for s in spans if s["layer"] == "op"]
    by_op = attribute_jobs(ops, jobs)
    stats = [op_spark_stats(s, by_op[s["id"]], stages) for s in ops]
    n = max(1, len(stats))

    def mean(key: str) -> float:
        return sum(st[key] for st in stats) / n

    def named(layer: str, name: str | None = None) -> list[dict]:
        return [s for s in spans if s["layer"] == layer and (name is None or s["name"] == name)]

    def dur_ms(xs: list[dict]) -> float:
        return median((s["end"] - s["start"]) * 1000.0 for s in xs)

    # Result rows of each op: its collected action, else the warm-up pass;
    # the scan ratio counts only ops whose result size is known.
    warm_rows = getattr(wl, "result_rows", dict)()
    rows_of = {s["parent"]: s["rows"] for s in named("action") if "rows" in s}
    known = [(rows_of.get(s["id"], warm_rows.get(s["name"])), st) for s, st in zip(ops, stats)]
    known = [(r, st) for r, st in known if r is not None]
    registry = named("registry")
    progress = [p for p in (tracer.listener.progress if tracer.listener else [])
                if lo <= p["ts"] <= hi + 5.0]
    out = {
        "session.start_s": wl.phase["session.start_s"],
        "session.warmup_s": wl.phase["session.warmup_s"],
        "registry.build_ms": dur_ms(registry),
        "registry.build_jobs": sum(len(jobs_in(s, jobs)) for s in registry) / max(1, len(registry)),
        "jobs_per_op": mean("jobs"),
        "stages_per_op": mean("stages"),
        "tasks_per_op": mean("tasks"),
        "job_time_ms": mean("job_ms"),
        "driver_gap_ms": mean("gap_ms"),
        "executor_run_ms": mean("run_ms"),
        "executor_cpu_ms": mean("cpu_ms"),
        "gc_ms": mean("gc_ms"),
        "shuffle_read_bytes": mean("shuffle_read"),
        "shuffle_write_bytes": mean("shuffle_write"),
        "spill_bytes": mean("spill"),
        "sources.scan_rows": mean("in_rows"),
        "sources.scan_bytes": mean("in_bytes"),
        "sources.scan_rows_per_result_row": sum(st["in_rows"] for _, st in known)
        / max(1, sum(r for r, _ in known)),
        "ml.users.create_user_ms": dur_ms(named("ml.users", "create_user")),
        "ml.users.add_rating_ms": dur_ms(named("ml.users", "add_rating")),
        "ml.users.latest_ratings_ms": dur_ms(named("ml.users", "latest_ratings")),
        "ml.recommender.train_jobs": median(
            len(jobs_in(s, jobs)) for s in named("ml.recommender", "train")
        ),
        "streaming.triggers": float(len(progress)),
        "streaming.batch_ms_p50": median(p["batch_ms"] for p in progress),
        "streaming.addbatch_ms": median(p["durations"].get("addBatch", 0) for p in progress),
        "streaming.planning_ms": median(p["durations"].get("queryPlanning", 0) for p in progress),
        "streaming.state_rows": float(max((p["state_rows"] for p in progress), default=0)),
        "streaming.state_bytes": float(max((p["state_bytes"] for p in progress), default=0)),
        "trace.overhead_s": tracer.hook_s,
        "trace.spans": float(len(tracer.spans)),
        **wl.per_op(),
    }
    if hasattr(wl, "app_metrics"):
        out.update(wl.app_metrics())
    # One session recycle (stop + get_spark), as a batch job between ops pays.
    t0 = time.perf_counter()
    with tracer.span("recycle", "session"):
        wl.spark.stop()
        wl.spark = spark_factory()
    out["session.recycle_s"] = time.perf_counter() - t0
    return out


if __name__ == "__main__":
    sys.exit(main())
