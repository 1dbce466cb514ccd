"""Seeded benchmark of the product-analytics engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_pipeline|small_dml|analyst_mix \
        --seed N --seconds S --trace 0|1

Prints every metric of the workload by name with its unit, then, as
the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end set (tracing off); with ``--trace 1``
they are the per-layer set from a traced run. A full record (all
metrics, environment, failures; spans for a traced run) is written to
``.perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORKLOADS = ("cdc_pipeline", "small_dml", "analyst_mix")

#: end-to-end metrics every workload reports (tracing off); the rest
#: of the workload's metrics are printed but not bounded
END_TO_END = ("setup_s", "op_p50_s", "work_per_s")

#: per-layer metrics of the traced run: name -> (unit, better, the
#: end-to-end metric it should move, on which workload)
LAYERS = {
    "session.start_s": ("s", "lower", "setup_s", "all"),
    "plans.model_s.customers_latest": ("s", "lower", "op_p50_s, work_per_s", "cdc_pipeline"),
    "plans.model_s.orders_cleaned": ("s", "lower", "op_p50_s, work_per_s", "cdc_pipeline"),
    "plans.model_s.dim_customer": ("s", "lower", "op_p50_s, work_per_s", "cdc_pipeline"),
    "plans.sched_idle_s": ("s", "lower", "op_p50_s, work_per_s", "cdc_pipeline"),
    "plans.max_concurrency": ("count", "higher", "op_p50_s, work_per_s", "cdc_pipeline"),
    "models.build_s": ("s", "lower", "op_p50_s", "cdc_pipeline"),
    "models.rows_built": ("count", "lower", "op_p50_s", "cdc_pipeline"),
    "driver_queries.plan_s": ("s", "lower", "op_p50_s, work_per_s", "analyst_mix"),
    "driver_queries.exec_s": ("s", "lower", "op_p50_s, work_per_s", "analyst_mix"),
    "cache.shared_builds": ("count", "lower", "work_per_s, op_tail_s, peak_rss_mb", "analyst_mix; none on small_dml"),
    "cache.shared_hit_ratio": ("ratio", "higher", "work_per_s, op_tail_s", "analyst_mix; none on small_dml"),
    "cache.leaked_rdds": ("count", "lower", "peak_rss_mb", "all"),
    **{
        f"sinks.{m}_{k}": (u, "lower", "op_p50_s, work_per_s", on)
        for m, on in (
            ("merge", "cdc_pipeline"), ("overwrite", "cdc_pipeline"),
            ("read", "cdc_pipeline, small_dml"), ("merge_mor", "small_dml"),
            ("delete_where_mor", "small_dml"), ("update_where_mor", "small_dml"),
            ("compact", "small_dml"),
        )
        for k, u in (("s", "s"), ("n", "count"))
    },
    "sinks.bytes_written": ("bytes", "lower", "op_p50_s", "cdc_pipeline, small_dml"),
    "sinks.write_amp": ("ratio", "lower", "op_p50_s", "cdc_pipeline, small_dml"),
    "delta_log.commit_n": ("count", "lower", "op_p50_s, work_per_s", "small_dml; ~0 share on cdc_pipeline"),
    "delta_log.commit_s": ("s", "lower", "op_p50_s, op_tail_s, work_per_s", "small_dml; ~0 share on cdc_pipeline"),
    "delta_log.snapshot_s": ("s", "lower", "op_p50_s, work_per_s", "small_dml"),
    "delta_log.snapshot_hit_ratio": ("ratio", "higher", "op_p50_s, work_per_s", "small_dml"),
    "delta_log.checkpoint_n": ("count", "lower", "op_tail_s", "small_dml"),
    "delta_log.checkpoint_s": ("s", "lower", "op_tail_s", "small_dml"),
    "delta_log.log_bytes": ("bytes", "lower", "op_p50_s", "small_dml"),
    "deletion_vectors.dv_bytes": ("bytes", "lower", "op_p50_s", "small_dml"),
    "io.files_opened": ("count", "lower", "op_p50_s, work_per_s", "small_dml"),
    "io.footer_reads": ("count", "lower", "op_p50_s, work_per_s", "small_dml"),
    "io.dir_lists": ("count", "lower", "op_p50_s, work_per_s", "small_dml"),
    "py4j.calls": ("count", "lower", "op_p50_s", "small_dml, cheap analyst_mix keys"),
    "py4j.wait_s": ("s", "lower", "op_p50_s", "small_dml, cheap analyst_mix keys"),
    "driver.self_s": ("s", "lower", "op_p50_s", "small_dml, cheap analyst_mix keys"),
    "spark.jobs": ("count", "lower", "op_p50_s, work_per_s", "cdc_pipeline, analyst_mix"),
    "spark.stages": ("count", "lower", "op_p50_s, work_per_s", "cdc_pipeline, analyst_mix"),
    "spark.tasks": ("count", "lower", "op_p50_s, work_per_s", "cdc_pipeline, analyst_mix"),
    "spark.failed_tasks": ("count", "lower", "op_p50_s, op_tail_s", "cdc_pipeline, analyst_mix"),
    "trace.overhead_ratio": ("ratio", "lower", "none", "all"),
    **{
        f"self_s.{layer}": ("s", "lower", "op_p50_s", on)
        for layer, on in (
            ("op", "all"), ("plans", "cdc_pipeline"), ("models", "cdc_pipeline"),
            ("sinks", "cdc_pipeline, small_dml"), ("delta_log", "small_dml"),
            ("driver_queries", "analyst_mix"), ("cache", "analyst_mix"),
            ("io", "small_dml"), ("py4j", "small_dml"),
        )
    },
}


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _mem_total_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 4.0


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _environment(work: str, nproc: int) -> dict[str, str]:
    """Session settings that make the numbers measure the program:
    one executor slot per core, a driver heap below host RAM, scratch
    space inside the work dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    mem_gb = max(1, min(4, int(_mem_total_gb() // 4)))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM the session starts (launcher and driver): no hsperfdata
    # file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def _layer_metrics(run, tracer, session_s: float) -> dict[str, float]:
    """Per-op layer metrics over the run's traced ops."""
    ops = set(run.traced_ops)
    n = max(1, len(ops))
    L = run.layers
    spans = tracer.span_totals(ops)
    c = tracer.counts
    out = {name: 0.0 for name in LAYERS}
    out["session.start_s"] = session_s
    for k in ("plans.model_s.customers_latest", "plans.model_s.orders_cleaned",
              "plans.model_s.dim_customer", "plans.sched_idle_s", "models.rows_built",
              "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
              "sinks.bytes_written", "delta_log.log_bytes", "deletion_vectors.dv_bytes"):
        out[k] = L.get(k, 0.0) / n
    out["plans.max_concurrency"] = L.get("plans.max_concurrency_sum", 0.0) / n
    out["models.build_s"] = sum(v for k, v in spans.items() if k.startswith("models.build.")) / n
    out["driver_queries.plan_s"] = spans.get("driver_queries.plan", 0.0) / n
    out["driver_queries.exec_s"] = spans.get("driver_queries.exec", 0.0) / n
    calls = c.get("cache.shared_calls", 0)
    out["cache.shared_builds"] = c.get("cache.shared_builds", 0) / n
    out["cache.shared_hit_ratio"] = (calls - c.get("cache.shared_builds", 0)) / calls if calls else 0.0
    out["cache.leaked_rdds"] = len(run.leaked)  # per run, not per op
    for m in ("merge", "overwrite", "read", "merge_mor", "delete_where_mor",
              "update_where_mor", "compact"):
        out[f"sinks.{m}_s"] = spans.get(f"sinks.{m}", 0.0) / n
        out[f"sinks.{m}_n"] = c.get(f"sinks.{m}_n", 0) / n
    inp = L.get("input_bytes", 0.0)
    out["sinks.write_amp"] = L.get("sinks.bytes_written", 0.0) / inp if inp else 0.0
    out["delta_log.commit_n"] = c.get("delta_log.commit_n", 0) / n
    out["delta_log.commit_s"] = spans.get("delta_log.commit", 0.0) / n
    out["delta_log.snapshot_s"] = spans.get("delta_log.snapshot", 0.0) / n
    looks = L.get("snapshot_hits", 0) + L.get("snapshot_misses", 0)
    out["delta_log.snapshot_hit_ratio"] = L.get("snapshot_hits", 0) / looks if looks else 0.0
    out["delta_log.checkpoint_n"] = c.get("delta_log.checkpoint_n", 0) / n
    out["delta_log.checkpoint_s"] = spans.get("delta_log.checkpoint", 0.0) / n
    for k in ("io.files_opened", "io.footer_reads", "io.dir_lists", "py4j.calls", "py4j.wait_s"):
        out[k] = c.get(k, 0) / n
    out["driver.self_s"] = (L.get("op_wall_s", 0.0) - c.get("py4j.wait_s", 0.0)) / n
    t, u = run.walls["T"], run.walls["U"]
    out["trace.overhead_ratio"] = statistics.fmean(t) / statistics.fmean(u) if t and u else 0.0
    for layer, secs in tracer.self_times(ops).items():
        if f"self_s.{layer}" in out:
            out[f"self_s.{layer}"] = secs / n
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p for p in ("product_analytics_spark/__init__.py", "tools/check.py", "tools/fairscheduler.xml")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    nproc = _nproc()
    loadavg = os.getloadavg()
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = _environment(work, nproc)
    if args.workload == "analyst_mix":
        conf["spark.scheduler.mode"] = "FAIR"
        conf["spark.scheduler.allocation.file"] = os.path.join(ROOT, "tools", "fairscheduler.xml")
    sys.path[:0] = [ROOT, HERE]

    import pyspark

    import workloads as W
    from tracing import SparkCounter, Tracer

    from product_analytics_spark import cache
    from product_analytics_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    proc = spark.sparkContext._gateway.proc
    tracer = counter = None
    if args.trace:
        tracer = Tracer(work)
        tracer.install()
        counter = SparkCounter(spark, tracer)
    run = W.Run(spark, ROOT, work, args.seed, args.seconds, tracer, counter)
    try:
        if args.workload == "cdc_pipeline":
            W.cdc_pipeline(run)
        elif args.workload == "small_dml":
            W.small_dml(run)
        else:
            W.analyst_mix(run, clients=nproc)
        cache.clear_all()
        cache.clear_shared()
        run.leaked += W.release_leaked(spark)
        left = W.persistent_rdds(spark)
        run.check(left == 0, f"{left} persisted RDDs left after releasing every cache")
        jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        rss = _hwm_mb("self") + _hwm_mb(jvm_pid)
        run.mark("released")
    finally:
        if tracer is not None:
            tracer.uninstall()
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    walls = run.op_walls
    run.put("setup_s", session_s + run.setup_s, "s")
    run.put("op_p50_s", W.median(walls), "s")
    run.put("op_tail_s", W.tail(walls), "s")
    run.put("peak_rss_mb", rss, "MB")
    run.put("fail_ratio", run.failed / max(1, run.attempted), "ratio")
    attempted = max(1, run.attempted)

    if args.trace:
        layer = _layer_metrics(run, tracer, session_s)
        shown = {k: (v, LAYERS[k][0]) for k, v in layer.items()}
        reported = shown
    else:
        shown = dict(run.metrics)
        reported = {k: run.metrics[k] for k in END_TO_END}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "loadavg_start": loadavg,
        "pyspark": pyspark.__version__, "git_sha": _git_sha(),
        "ops": len(walls), "op_walls_s": walls, "op_tail_percentile": W.TAIL_PCT,
        "attempted": attempted, "failed": run.failed, "errors": run.errors,
        "leaked_after_clearing": run.leaked,
        "session_s": session_s, "phases_s": run.phases,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    if tracer is not None:
        tracer.dump(os.path.join(out_dir, stem + ".spans.json"))

    print(f"# {args.workload} seed={args.seed} nproc={nproc} loadavg={loadavg[0]:.2f} "
          f"pyspark={pyspark.__version__} sha={record['git_sha'][:12]} ops={len(walls)} "
          f"tail=p{W.TAIL_PCT}")
    for e in run.errors:
        print(f"# FAILED: {e}")
    if run.leaked:
        print(f"# {len(run.leaked)} RDDs stayed persisted after cache.clear_all/clear_shared "
              f"(released by the benchmark): {sorted(set(run.leaked))[:3]}")
    for k, (v, u) in shown.items():
        print(f"{args.workload:<13} {k:<36} {v:>14.6g} {u}")
    sys.stdout.flush()
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
