"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload code_filter --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run

1. records ``nproc`` and the 1-minute load;
2. generates the workload's corpus from ``--seed`` (not timed) and probes
   the host's speed (``hostprobe.py``);
3. sets up cold, which is ``setup_s``: it launches the JVM, starts the
   Spark session and runs the workload's warm pass, which starts the Python
   workers and builds the LID singleton;
4. runs the workload's job in a closed loop for ``--seconds`` (at least
   the workload's ``min_jobs``) on ``local[nproc]``;
5. checks the outputs, tears down and probes the host again;
   ``files_per_s`` and ``setup_s`` are scaled by the probe to a reference
   host speed (``hostprobe.scale``).

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the loop gets half of ``--seconds``; the run then
restarts the session inside the same JVM with the UI and its REST API on
(``session.restart_s``), runs the loop for the other half with
benchmark-side wrappers around the layers' public calls, and prints the
per-layer metrics instead.  The full report (spans, counts,
metrics) goes to ``.perfbench_work/reports/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import signal
import sys
import time
import traceback

import corpus
import hostprobe
import reaper
from tracing import RssSampler, SparkRest, Tracer, engine_metrics, median, sql_node_metrics, stages_of
from workloads import N_FILES, WORKLOADS, Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

ROWS = 8000  # input files per corpus; every job processes all of them
PROBE_ROUNDS = 2  # host-speed probe rounds before the set-up and after the teardown
DEADLINE_S = 150  # a run still going then dumps its stacks, ends its processes and exits 1

END_TO_END = {
    "files_per_s": "files/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "keep_f1": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.restart_s": "s",
    "scan.s": "s",
    "scan.bytes": "B",
    "fused.python_run_s": "s",
    "fused.python_init_s": "s",
    "fused.bytes_to_python": "B",
    "fused.bytes_from_python": "B",
    "fused.rows": "rows",
    "fused.us_per_file": "us",
    "fused.task_skew": "ratio",
    "fused.scaling_eff": "ratio",
    **{
        f"kernels.{k}.{m}": u
        for k in ("lid", "tokenize", "gopher_repetition", "gopher_quality", "c4", "fineweb", "pii")
        for m, u in (("us_per_doc", "us"), ("docs_in", "docs"))
    },
    "kernels.chain.us_per_doc": "us",
    "kernels.frame_overhead_us": "us",
    "lineage.resume_plan_s": "s",
    "lineage.batch_s_median": "s",
    "lineage.batch_s_max": "s",
    "lineage.table_read_s": "s",
    "iceberg.stage_append_s": "s",
    "iceberg.commit_s": "s",
    "iceberg.read_plan_s": "s",
    "iceberg.commits": "count",
    "iceberg.commit_retries": "count",
    "iceberg.files_written": "count",
    "iceberg.bytes_written": "B",
    "iceberg.prune_ratio": "ratio",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.band_us_per_doc": "us",
    "dedup.dropped": "rows",
    "dedup.shuffle_write_bytes": "B",
    "dedup.spill_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.driver_gap_s": "s",
    "trace.overhead_files_per_s": "files/s",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def host() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "load1": round(os.getloadavg()[0], 2)}


def prepare_env() -> None:
    """Point Spark, its Python workers and every temp file at the checkout."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package of this checkout, not an installed one
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, the launcher's too: no /tmp/hsperfdata_*, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)


def start_session(cores: int, ui: bool):
    from datatrove_spark import session

    os.environ["SPARK_UI"] = "true" if ui else "false"
    spark = session.get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, jvm: bool = False) -> None:
    """Stop the Spark context (its Python workers go with it); with ``jvm``
    also end the JVM and wait until it and every Python worker has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if jvm else None
    procs = reaper.tree(proc.pid) if proc is not None else {}
    spark.stop()
    if jvm and gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reaper.wait_ended(procs, timeout=30)


def set_up(workload, ctx, ui: bool) -> dict:
    """One set-up: start the session (and the JVM, if none runs), then the
    workload's warm pass.  Returns the times of both and their sum."""
    t0 = time.perf_counter()
    ctx.spark = start_session(ctx.cores, ui)
    t1 = time.perf_counter()
    workload.warm(ctx)
    t2 = time.perf_counter()
    return {"start_s": t1 - t0, "warm_s": t2 - t1, "setup_s": t2 - t0}


def closed_loop(workload, ctx, seconds: float, sampler) -> dict:
    """Run jobs back to back for ``seconds`` (at least the workload's
    ``min_jobs``).  Returns
    the files/s and peak tree RSS (MB) of every job that succeeded, and the
    attempted and failed counts."""
    loop = {"rates": [], "peaks": [], "attempted": 0, "failed": 0}
    # the first job, whose peak is reported, starts from a collected JVM
    # heap, whatever garbage the set-up left; later jobs run undisturbed
    ctx.spark._jvm.java.lang.System.gc()
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or loop["attempted"] < workload.min_jobs:
        loop["attempted"] += 1
        sampler.lap()
        t0 = time.perf_counter()
        try:
            with ctx.span("job"):
                files = workload.job(ctx)
        except Exception:  # a failing job is counted and the loop goes on
            loop["failed"] += 1
            traceback.print_exc()
            continue
        loop["rates"].append(files / (time.perf_counter() - t0))
        loop["peaks"].append(sampler.lap())
    return loop


def warm_rate(rates: list[float]) -> float:
    """Median files/s of a loop's jobs after the first, or of its only job.
    The first job at full size still warms the JVM (``near_dup``'s runs
    about a quarter slower than the next), and whether a run fits two or
    three jobs must not decide its result."""
    return median(rates[1:] or rates)


def layer_report(workload, ctx, rest, window, setups: dict, rate: float, untraced: float) -> dict:
    jobs = max(ctx.notes["traced_jobs"], 1)
    fused = sql_node_metrics(window, "MapInPandas")
    scan = sql_node_metrics(window, "Scan parquet")
    engine = engine_metrics(window, ctx.cores)
    heavy = [s for s in stages_of(window, "MapInPandas") if s.get("numTasks", 0) > 1]
    top = max((s.get("executorRunTime", 0) for s in heavy), default=0)
    skews = [rest.task_skew(s) for s in heavy if s.get("executorRunTime", 0) >= top / 4]
    rows = fused.get("number of output rows", 0.0)
    run_s = fused.get("time to run Python workers", 0.0)
    out = {
        "session.start_s": setups["cold"]["start_s"],
        "session.warm_s": setups["cold"]["warm_s"],
        "session.restart_s": setups["restart"]["setup_s"],
        "scan.s": scan.get("scan time", 0.0) / jobs,
        "scan.bytes": scan.get("size of files read", 0.0) / jobs,
        "fused.python_run_s": run_s / jobs,
        "fused.python_init_s": fused.get("time to initialize Python workers", 0.0) / jobs,
        "fused.bytes_to_python": fused.get("data sent to Python workers", 0.0) / jobs,
        "fused.bytes_from_python": fused.get("data returned from Python workers", 0.0) / jobs,
        "fused.rows": rows / jobs,
        "fused.us_per_file": run_s * 1e6 / rows if rows else 0.0,
        "fused.task_skew": median(skews),
        "trace.overhead_files_per_s": rate - untraced,
    }
    for name in ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
                 "spark.executor_run_s", "spark.gc_s", "spark.driver_gap_s"):
        out[name] = engine[name] / jobs
    out["spark.core_busy_frac"] = engine["spark.core_busy_frac"]
    if workload.name == "near_dup":
        out["dedup.shuffle_write_bytes"] = engine["spark.shuffle_write_bytes"] / jobs
        out["dedup.spill_bytes"] = engine["spark.spill_bytes"] / jobs
    out.update(workload.layer_metrics(ctx))
    chain_us = out.get("kernels.chain.us_per_doc", 0.0)
    if chain_us and out["fused.us_per_file"]:
        out["kernels.frame_overhead_us"] = out["fused.us_per_file"] - chain_us
    if hasattr(workload, "scaling_eff"):
        out["fused.scaling_eff"] = workload.scaling_eff(ctx)
    return out


def traced_run(workload, ctx, seconds: float, setups: dict, untraced_rate: float, report: dict) -> tuple[dict, int, int]:
    """Restart the session with the UI on, rerun the loop with the layers'
    public calls wrapped, and return (per-layer metrics, attempted, failed).
    The spans, counts and stage list go into ``report``."""
    stop_session(ctx.spark)
    ctx.tracer = tracer = Tracer()
    setups["restart"] = set_up(workload, ctx, True)
    rest = SparkRest(ctx.spark)
    marks = rest.marks()
    sampler = RssSampler().start()
    try:
        with tracer.wrapped(workload.trace_targets(ctx)):
            t0 = time.time()
            traced = closed_loop(workload, ctx, seconds, sampler)
            t1 = time.time()
    finally:
        sampler.stop()
    ctx.notes["traced_jobs"] = traced["attempted"]
    window = rest.window(marks, t0, t1)
    rate = warm_rate(traced["rates"])
    layers = layer_report(workload, ctx, rest, window, setups, rate, untraced_rate)
    metrics = {name: layers.get(name, 0.0) for name in PER_LAYER}
    report.update(
        traced_loop=traced,
        per_layer=metrics,
        spans=tracer.spans,
        counts=dict(tracer.counts),
        stages=[{k: s.get(k) for k in ("stageId", "name", "numTasks", "executorRunTime",
                                       "submissionTime", "completionTime")}
                for s in window["stages"]],
    )
    return metrics, traced["attempted"], traced["failed"]


def run(args) -> dict:
    workload = WORKLOADS[args.workload]
    info = host()
    log(f"{workload.name} seed={args.seed} nproc={info['nproc']} load1={info['load1']}")
    began = time.perf_counter()
    n_rows = ROWS
    corpus_dir = corpus.generate(
        workload.corpus_kind, args.seed, n_rows, N_FILES,
        os.path.join(WORK, "corpus", f"{workload.corpus_kind}-{args.seed}-{n_rows}"),
        procs=min(info["nproc"], 4),
    )
    log(f"corpus ready after {time.perf_counter() - began:.1f}s")
    probes = hostprobe.probe(info["nproc"], PROBE_ROUNDS)
    ctx = Ctx(None, args.seed, corpus_dir, n_rows, WORK, info["nproc"])
    workload.cleanup(ctx)  # what an interrupted earlier run may have left
    setups = {"cold": set_up(workload, ctx, False)}
    log("cold set-up " + ", ".join(f"{k} {v:.2f}s" for k, v in setups["cold"].items()))
    # a traced run splits its time between the untraced and the traced loop
    seconds = args.seconds / 2 if args.trace else args.seconds
    sampler = RssSampler().start()
    try:
        loop = closed_loop(workload, ctx, seconds, sampler)
    finally:
        sampler.stop()
    log(f"{len(loop['rates'])} jobs: " + ", ".join(f"{r:.0f}" for r in loop["rates"])
        + " files/s, peak RSS " + ", ".join(f"{p:.0f}" for p in loop["peaks"]) + " MB")

    check = workload.check(ctx)
    log("check: " + json.dumps({k: v for k, v in check.items() if k != "problems"}))
    log(f"checked after {time.perf_counter() - began:.1f}s")
    for problem in check["problems"]:
        log(f"CHECK FAILED: {problem}")
    # the output check is one more attempt
    attempted, failed = loop["attempted"] + 1, loop["failed"] + bool(check["problems"])
    raw_rate = warm_rate(loop["rates"])
    report = {"host": info, "workload": workload.name, "seed": args.seed, "rows": n_rows,
              "setups": setups, "loop": loop, "check": check}
    if args.trace:
        layers, traced_attempts, traced_failed = traced_run(workload, ctx, seconds, setups, raw_rate, report)
        attempted += traced_attempts
        failed += traced_failed

    stop_session(ctx.spark, jvm=True)
    workload.cleanup(ctx)
    probes += hostprobe.probe(info["nproc"], PROBE_ROUNDS)
    info["probe_s"] = probes
    scale = hostprobe.scale(median(probes))  # how much faster the reference host is
    files_per_s, setup_s = raw_rate * scale, setups["cold"]["setup_s"] / scale
    log(f"{raw_rate:.1f} files/s, set-up {setups['cold']['setup_s']:.2f}s at a probe of {median(probes):.4f}s: "
        f"{files_per_s:.1f} files/s, set-up {setup_s:.2f}s at {hostprobe.REF_S}s")
    report["end_to_end"] = {
        "files_per_s": files_per_s,
        "setup_s": setup_s,
        # the same work in every run: the first job, however fast the host
        "peak_rss_mb": loop["peaks"][0] if loop["peaks"] else 0.0,
        "keep_f1": check["keep_f1"],
    }
    metrics, units = report["end_to_end"], END_TO_END
    if args.trace:
        metrics, units = layers, PER_LAYER
        os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
        path = os.path.join(WORK, "reports", f"trace-{workload.name}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1, default=str)
        log(f"per-layer report: {path}")
    result = {
        "correct": not check["problems"] and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": units[name]} for name in units},
    }
    return result


def deadline(signum, frame):
    faulthandler.dump_traceback(all_threads=True)
    raise TimeoutError(f"the run is still going after {DEADLINE_S}s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    # a SIGTERM unwinds like an error, so that the run still ends its processes
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    # the last resort, should the main thread never see the alarm
    faulthandler.dump_traceback_later(DEADLINE_S + 20, exit=True)
    try:
        prepare_env()
        import datatrove_spark  # noqa: F401  -- fail before any work without the package

        result = run(args)
    finally:
        signal.alarm(0)
        reaper.end_all()  # on every way out: no process of the run outlives it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
