"""Benchmark of the geospatial object-matching engine.

    python3 perfbench/run.py --workload flagship --seed 42 --seconds 8 --trace 0

Run from the root of a checkout. After three timed set-ups and one warm-up
job, one client in one process runs the workload's job in a closed loop (each job starts when the previous one has returned) for
``--seconds`` and at least two jobs, checks every result, and prints the
end-to-end metrics as the last line of stdout.
With ``--trace 1`` it then replays the job once as spans around calls into
the engine's layers and prints the per-layer metrics instead; the spans go
to ``.perfbench_work/trace-<workload>-<seed>.json``. perfbench/README.md
lists the workloads and which end-to-end metric each layer metric moves.
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
PACKAGE = "geospatial_object_matching_spark"
#: jobs measured at least, whatever --seconds says: the jobs after the
#: warm-up still speed up for a few more, so a purely time-bounded loop
#: would put a different number of them into the median on a slower host
MIN_JOBS = 2


def configure_env(work: str) -> dict:
    """Size the session from the host before pyspark starts the JVM."""
    import host

    cpus = host.nproc()
    # a sixteenth of the machine, at least 1g: the engine's own 24g default
    # can exceed the host's RAM, these inputs need well under 1g of heap,
    # and the machine is shared with other processes
    heap_gb = max(1, min(24, host.mem_total_bytes() // 16 // 2**30))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_MASTER": f"local[{cpus}]",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return {"nproc": cpus, "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"], "tmp": tmp}


def start_session(sized: dict, extra: dict):
    from geospatial_object_matching_spark.config import EngineConf
    from geospatial_object_matching_spark.session import get_spark

    conf = EngineConf(
        shuffle_partitions=2 * sized["nproc"],
        extra_spark_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={sized['tmp']}",
            "spark.ui.showConsoleProgress": "false",
            **extra,
        },
    )
    spark = get_spark("perfbench", master=os.environ["SPARK_GRAFT_MASTER"], conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM, which exits when its stdin closes."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def timed_job(wl, ctx, state) -> dict:
    import host

    pid = os.getpid()
    cpu0, t0 = host.tree_cpu_s(pid), time.perf_counter()
    with host.RssSampler(pid) as rss:
        out = wl.job(ctx, state)
    return {
        "out": out,
        "job_s": time.perf_counter() - t0,
        "cpu_s": host.tree_cpu_s(pid) - cpu0,
        "peak_rss_mb": rss.peak[0] / 2**20,
        "worker_rss_mb": rss.peak_worker / 2**20,
        "workers": rss.max_workers,
        "rss_split_mb": [round(x / 2**20) for x in rss.peak],
    }


def layer_metrics(tr, wl, state: dict, untraced_job_s: float) -> dict:
    """Per-layer metrics from the spans; 0 for a layer the workload does not
    call. The span named "replay" holds the spans that replay one job."""
    spans = {}
    for s in tr.spans:
        spans.setdefault(s["name"], s)

    def get(name: str, key: str, default=0.0):
        return spans[name].get(key, default) if name in spans else default

    def per(name: str, key: str, count_key: str, scale: float):
        n = get(name, count_key)
        return get(name, key) / n * scale if n else 0.0

    root = spans["replay"]
    grid_cpu = get("operators.matching_model.grid", "driver_cpu_s")
    job_spans = sum(s["wall_s"] for s in tr.spans if s["parent"] == root["id"])
    # pages are parsed by extract_objects, or inside the fused properties pass
    parser = "operators.extract" if "operators.extract" in spans else "operators.properties"
    return {
        "operators.extract.busy_s": get("operators.extract", "wall_s"),
        "operators.extract.kept_ratio": get(parser, "objects") / state["pages"],
        "operators.properties.busy_s": get("operators.properties", "wall_s"),
        "operators.properties.task_cpu_s": get("operators.properties", "task_cpu_s"),
        "operators.properties.cpu_s": get("operators.properties", "tree_cpu_s"),
        "operators.properties.objects": get("operators.properties", "objects"),
        "operators.blocking.order_s": get("operators.blocking.order", "wall_s"),
        "operators.scaler.fit_s": get("operators.scaler.fit", "wall_s"),
        "operators.knn.busy_s": get("operators.knn", "wall_s"),
        "operators.knn.queries": get("operators.knn", "queries"),
        "operators.knn.index_rows": get("operators.knn", "index_rows"),
        "operators.knn.rows_out": get("operators.knn", "rows_out"),
        "operators.knn.us_per_query": per("operators.knn", "task_run_s", "queries", 1e6),
        "operators.knn.strategy": get("operators.knn", "strategy"),
        "operators.matching.thresholds_s": get("operators.matching.thresholds", "wall_s"),
        "operators.matching.pair_features_s": get("operators.matching.pair_features", "wall_s"),
        "operators.render.busy_s": get("operators.render", "wall_s"),
        "operators.render.ms_per_obj": per("operators.render", "task_run_s", "objects", 1e3),
        "operators.contrastive.busy_s": get("operators.contrastive", "wall_s"),
        "operators.contrastive.encode_ms_per_obj": per("operators.contrastive", "task_run_s", "objects", 1e3),
        "operators.similarity.topk_s": get("operators.similarity.topk", "wall_s"),
        "operators.similarity.gemm_flops": get("operators.similarity.topk", "gemm_flops"),
        "operators.matching_model.grid_s": get("operators.matching_model.grid", "wall_s"),
        "operators.matching_model.fits": get("operators.matching_model.grid", "fits"),
        "operators.matching_model.train_rows": get("operators.matching_model.grid", "train_rows"),
        "operators.matching_model.driver_cpu_share": (
            grid_cpu / get("plans.matching_quality", "tree_cpu_s") if grid_cpu else 0.0),
        "operators.matching_model.predict_s": get("operators.matching_model.predict", "wall_s"),
        "plans.pipeline.overlap_s": job_spans - untraced_job_s if wl.replays_pipeline else 0.0,
        "spark.task_run_s": root["task_run_s"],
        "spark.task_cpu_s": root["task_cpu_s"],
        "spark.gc_s": root["gc_s"],
        "spark.shuffle_read_mb": root["shuffle_read_mb"],
        "spark.shuffle_write_mb": root["shuffle_write_mb"],
        "spark.spill_mb": root["spill_mb"],
        "spark.failed_tasks": root["failed_tasks"],
        "trace.job_s": root["wall_s"],
        "trace.untraced_job_s": untraced_job_s,
        "trace.overhead_s": tr.overhead_s,
    }


def load_bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import host
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    spec = load_bench_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, wl, spec, units, work, work_root, host, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl, spec, units, work, work_root, host, workloads) -> int:
    sized = configure_env(work)
    jiffies0, load0 = host.cpu_jiffies(), host.loadavg1()
    log_dir = os.path.join(work, "eventlog")
    extra = {}
    if args.trace:
        from spans import event_log_conf

        os.makedirs(log_dir)
        extra = event_log_conf(log_dir)

    t0 = time.perf_counter()
    spark, conf = start_session(sized, extra)
    session_s = time.perf_counter() - t0
    ctx = workloads.Ctx(spark=spark, conf=conf, seed=args.seed, work=work)
    problems: list[str] = []
    attempted = failed = 0
    jobs: list[dict] = []
    pinned = None
    persisted_left = 0

    def one_job(on: dict, kind: str) -> dict | None:
        """Run, time and check one job; ``kind`` is "warm-up" (deep checks,
        and its result is the one every later job must repeat) or "loop"."""
        nonlocal attempted, failed, pinned, persisted_left
        attempted += 1
        try:
            rec = timed_job(wl, ctx, on)
            bad = wl.check(ctx, on, rec["out"])
            if kind == "warm-up":
                bad += wl.deep_check(ctx, on, rec["out"])
                pinned = wl.pinned(rec["out"])
            elif wl.pinned(rec["out"]) != pinned:
                bad.append(f"result {wl.pinned(rec['out'])} differs from the warm-up's {pinned}")
        except Exception:  # a failed job is counted and the loop goes on
            traceback.print_exc()
            rec, bad = None, ["job raised"]
        persisted_left = len(spark.sparkContext._jsc.getPersistentRDDs())
        spark.catalog.clearCache()
        if bad:
            failed += 1
            problems.extend(bad)
            for p in bad:
                print("check failed:", p, file=sys.stderr)
        return rec

    # set-up is timed three times and the median kept; the last state is used
    materialize_s = []
    for _ in range(3):
        t = time.perf_counter()
        state = workloads.setup(ctx, wl.entities)
        materialize_s.append(time.perf_counter() - t)
    setup_s = session_s + statistics.median(materialize_s)

    # the first job of a session pays for JIT compilation and for starting
    # the Python workers, and it also sets the result later jobs must repeat
    warmup = one_job(state, "warm-up")
    t_loop = time.perf_counter()
    measured = 0
    while pinned is not None and (time.perf_counter() - t_loop < args.seconds
                                  or measured < MIN_JOBS):
        rec = one_job(state, "loop")
        measured += 1
        if rec is not None:
            jobs.append(rec)

    n_job_problems = len(problems)
    print(f"result: {json.dumps(pinned)}", file=sys.stderr)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    if args.seed == workloads.DEFAULT_SEED and pinned != expected.get(wl.name):
        problems.append(f"seed {args.seed} result {pinned} != pinned {expected.get(wl.name)}")

    metrics: dict[str, float] = {}
    if jobs:
        med = lambda key: statistics.median(j[key] for j in jobs)  # noqa: E731
        metrics = {
            "job_s": med("job_s"),
            "pages_per_s": statistics.median(state["pages"] / j["job_s"] for j in jobs),
            "cpu_s": med("cpu_s"),
            "peak_rss_mb": med("peak_rss_mb"),
            "setup_s": setup_s,
        }

    layers: dict[str, float] = {}
    tr = None
    if args.trace and jobs:
        from spans import Tracer

        tr = Tracer(spark, run_id=f"{wl.name}-{args.seed}-{os.getpid()}")
        try:
            replayed = wl.replay(ctx, state, tr)
        except Exception:  # reported like a failed job; the result line still prints
            traceback.print_exc()
            replayed, tr = {}, None
            problems.append("traced replay raised")
        if any(replayed[k] != pinned[k] for k in replayed.keys() & pinned.keys()):
            problems.append(f"traced replay gave {replayed}, the jobs gave {pinned}")
        print(f"replay result: {json.dumps(replayed)}", file=sys.stderr)
        # the replay's other keys were checked against the jobs' result above
        want = expected.get(f"{wl.name}.replay", {})
        if (tr is not None and args.seed == workloads.DEFAULT_SEED
                and any(replayed.get(k) != v for k, v in want.items())):
            problems.append(f"seed {args.seed} replay {replayed} != pinned {want}")
        layers["spark.persisted_left"] = persisted_left
        layers["workers.rss_peak_mb"] = max(j["worker_rss_mb"] for j in jobs)
    stop_session(spark)
    if tr is not None:
        tr.attach_stage_metrics(log_dir)
        layers.update(layer_metrics(tr, wl, state, metrics["job_s"]))
        layers.update(workloads.kernel_timings())

    jiffies1 = host.cpu_jiffies()
    stamp = {
        **host.facts(),
        "loadavg1_start": load0,
        "steal_share": (jiffies1[1] - jiffies0[1]) / max(1, jiffies1[0] - jiffies0[0]),
        "driver_mem": sized["driver_mem"],
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "pages": state["pages"],
        "session_s": session_s,
        "materialize_s": materialize_s,
        "warmup_s": warmup["job_s"] if warmup else None,
        "jobs_s": [j["job_s"] for j in jobs],
        "jobs_cpu_s": [j["cpu_s"] for j in jobs],
        "jobs_rss_mb": [j["peak_rss_mb"] for j in jobs],
        "jobs_workers": [j["workers"] for j in jobs],
        "jobs_rss_split_mb": [j["rss_split_mb"] for j in jobs],
    }
    print("host and run:", json.dumps(stamp), file=sys.stderr)
    if tr is not None:
        tr.write(os.path.join(work_root, f"trace-{wl.name}-{args.seed}.json"),
                 {"stamp": stamp, "layers": layers})
        metrics = layers
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in names if n not in metrics and n != "ok_frac"]
    if missing:
        problems.append(f"no value for {missing}")
    for p in problems[n_job_problems:]:
        print("check failed:", p, file=sys.stderr)
    # a run-level check that fails counts as one failed job
    if len(problems) > n_job_problems and not failed:
        failed = 1
    metrics["ok_frac"] = 1.0 - failed / attempted
    for n in names:
        if n in metrics:
            print(f"{n:45s} {metrics[n]:.6g} {units[n]}")
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in names if n in metrics},
    }
    with open(os.path.join(work_root, f"result-{wl.name}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**result, "stamp": stamp, "problems": problems}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
