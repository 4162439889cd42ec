"""kgforge benchmark: one workload, one seed, closed loop, one client.

Run from the repository root:

    python3 perfbench/run.py --workload ac_redecide --seed 1 --seconds 5 --trace 0

The process starts one Spark session sized to the box, builds the seeded
inputs (set-up), runs the cold first job, then submits one job at a time,
each after the previous one has finished, until ``--seconds`` have passed
and the workload's minimum number of warm jobs has run. Every job is checked
for correctness outside its timed span, and a second generation of the
inputs checks that the seed gave the same bytes. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` the same jobs run with
the wrappers of ``tracing.py`` installed and it carries the per-layer ones.
See README.md in this directory for the workloads and the metrics.
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
import traceback

# a run must end well inside three minutes even on a slow box: past this
# much wall time since the process started, the measured loop stops after
# its current job (it always runs at least one warm job)
RUN_DEADLINE_S = 130.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def box_env(root: str, run_dir: str) -> dict:
    """Size the session to this box through the deployment env vars the
    session factory reads, and keep every file the run writes under
    ``run_dir``. Returns the settings, which the run records."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # a quarter of physical RAM, capped at 6 GiB: the session factory's
    # 48g default lets the driver heap grow past what the box has
    driver_mb = min(6144, mem_kb // 1024 // 4)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
    }
    os.environ.update(env)
    os.environ.update({
        "TMPDIR": tmp,
        # UsePerfData off: the JVM would write /tmp/hsperfdata_<user> otherwise
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    })
    return env


def start_session(run_dir: str, partitions: int, trace: bool):
    from kg_curation_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.shuffle.partitions": str(partitions),
    }
    if trace:
        # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb() -> float:
    """VmHWM of the driver JVM (local-mode executors live in it)."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait until the gateway JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def set_up(spark, wl, seed: int, tmp: str):
    """The timed build of the seeded inputs the jobs use.
    Returns (inputs, build wall)."""
    t0 = time.perf_counter()
    inp = wl.build(spark, seed, tmp)
    return inp, time.perf_counter() - t0


def inputs_deterministic(spark, wl, inp, seed: int) -> tuple[dict, bool]:
    """Digest the inputs the jobs used, drop Spark's cache, generate the
    inputs a second time from the seed and digest those. Run after the
    measured loop: different bytes for one seed fail the run.
    Returns (digests, deterministic)."""
    digests = wl.digest(inp)
    # the second generation has the same plans as the cached frames, so
    # with the cache in place it would read them back instead
    spark.catalog.clearCache()
    return digests, wl.regenerate(spark, seed) == digests


def spark_jobs_submitted(spark) -> int:
    """Spark jobs the session has submitted so far (the scheduler's job id
    counter): one job at a time runs, so a difference is an exact count."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def attempt(spark, wl, inp, fn, k: int, tracer) -> dict:
    """One job plus its untimed correctness check. A job that raises or
    fails its check counts as failed."""
    if tracer:
        tracer.job = k
    rec = {"k": k, "t0": time.time(), "ok": False, "wall_s": None}
    n0 = spark_jobs_submitted(spark)
    try:
        res = fn(spark, inp, k)
    except Exception:  # noqa: BLE001 - the loop records the failure and goes on
        traceback.print_exc()
        return rec
    finally:
        rec["t1"] = time.time()
        rec["spark_jobs"] = spark_jobs_submitted(spark) - n0
        if tracer:
            tracer.job = None
    rec.update(wall_s=res.wall_s, params=res.params)
    try:
        rec["check"] = wl.check(spark, inp, res)
        if tracer:
            tracer.count_outputs(k)
        rec["ok"] = res.ok
        rec["quality"] = res.quality
    except Exception:  # noqa: BLE001
        traceback.print_exc()
    return rec


def run(args, root: str, run_dir: str, started: float) -> tuple[dict, dict]:
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    env = box_env(root, run_dir)
    cpus = int(env["SPARK_GRAFT_CPUS"])
    # the session factory floors shuffle partitions at 32, sized for a
    # cluster; the inputs here are small, so every shuffle stage (and the
    # pipeline's own repartitioning) runs as one wave of one task per core
    partitions = cpus
    t0 = time.perf_counter()
    spark = start_session(run_dir, partitions, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
        tmp = os.path.join(run_dir, "data")
        inp, build_s = set_up(spark, wl, args.seed, tmp)
        inp.state.update(seed=args.seed, tmp=tmp, partitions=partitions)
        if tracer:
            tracer.install()
        jobs = [attempt(spark, wl, inp, wl.cold, 0, tracer)]
        loop0 = time.perf_counter()
        while True:
            jobs.append(attempt(spark, wl, inp, wl.warm, len(jobs), tracer))
            elapsed = time.perf_counter() - loop0
            done = elapsed >= args.seconds and len(jobs) > wl.min_warm_jobs
            if done or time.perf_counter() - started >= RUN_DEADLINE_S:
                break
        rss = jvm_peak_rss_mb()
        if tracer:
            tracer.uninstall()
            spark_jobs = tracer.spark_jobs()
        digests, deterministic = inputs_deterministic(spark, wl, inp, args.seed)
    finally:
        stop_session(spark)

    warm = [j["wall_s"] for j in jobs[1:] if j["wall_s"] is not None]
    failed = sum(not j["ok"] for j in jobs)
    correct = deterministic and failed == 0 and bool(warm)
    scored = [j["quality"] for j in jobs if j.get("quality")]
    quality = {q: statistics.median(s[q] for s in scored)
               for q in ("precision", "recall")} if scored else {}
    if not args.trace:
        job_wall = statistics.median(warm) if warm else float("nan")
        metrics = {
            "job_wall_s": (job_wall, "s"),
            "cold_job_s": (jobs[0]["wall_s"] or float("nan"), "s"),
            "assertions_per_s": (inp.n_assertions / job_wall, "1/s"),
            "setup_s": (session_s + build_s, "s"),
            "peak_rss_mb": (rss, "MB"),
            "precision": (quality.get("precision", float("nan")), "ratio"),
            "recall": (quality.get("recall", float("nan")), "ratio"),
        }
    else:
        metrics = tracing.per_layer(
            tracer, spark_jobs, jobs, cpus,
            setup={"session.start_s": session_s,
                   **{k: inp.timings.get(k, 0.0) for k in tracing.SYNTH_KEYS}},
        )
        metrics["traced_job_wall_s"] = (statistics.median(warm) if warm else float("nan"), "s")
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "partitions": partitions,
        "assertions": inp.n_assertions, "input_sha256": digests,
        "inputs_deterministic": deterministic,
        "session_s": session_s, "build_s": build_s, "synth_s": inp.timings,
        "jobs": [{k: j[k] for k in ("k", "wall_s", "spark_jobs", "ok", "params", "check",
                                    "layers")
                  if k in j} for j in jobs],
    }
    result = {
        "correct": correct, "attempted": len(jobs), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return info, result


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kg_curation_spark", "__init__.py")):
        print("perfbench: kg_curation_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    try:
        info, result = run(args, root, run_dir, started)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
