#!/usr/bin/env python3
"""spark-tin benchmark.

    python3 perfbench/run.py --workload dem_tiles --seed 1 --seconds 10 --trace 0

Runs one workload (``dem_tiles``, ``strips_dem``, ``pip_classify``,
``laz_dsm``; see perfbench/LAYERS.md) from seeded inputs on
``local[<cores>]`` in one driver process, checks every job's outputs and
prints one JSON object as the last line of standard output.  With
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics.

A run: generate the inputs (cached under .bench_build/, not timed), start
the session, set up the inputs three times, warm up once (``setup_s`` is
the session start plus the median input set-up plus the warm-up), then
run jobs back to back for ``--seconds`` seconds and report medians over
the jobs.  The traced run
alternates untraced and traced jobs so that it can report the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SETUPS = 3

END_TO_END = {
    "points_per_s": "1/s",
    "tiles_per_s": "1/s",
    "setup_s": "s",
    "cpu_s_per_mpoint": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}


def _isolate_env(cpus: int) -> None:
    """Keep every file the process tree writes inside the checkout and
    fix the session size; must run before the JVM starts."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "LSU_NO_SHM_SPILL": "1",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "3g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
            "pyspark-shell"
        ),
    })
    import tempfile

    tempfile.tempdir = tmp


def _start_session(cpus: int):
    from lasutility_spark.engine.session import get_spark

    spark = get_spark(cpus, app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_all(spark, tree) -> None:
    """Stop Spark, end the JVM and wait until no descendant is left."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def _digest_file(root: str) -> str:
    return os.path.join(BUILD, "digests", os.path.basename(root) + ".txt")


def _corrupt(r) -> None:
    """Flip the last field of one output row (the self-check)."""
    row = list(r.rows[0])
    row[-1] = f"corrupted:{row[-1]}"
    r.rows[0] = tuple(row)


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: str = "full", corrupt: bool = False) -> dict:
    cpus = len(os.sched_getaffinity(0))
    _isolate_env(cpus)
    import inputs
    import layers
    from probes import ProcTree, RssSampler, StatusStore, Tracer, host_cpu_ticks, median
    from workloads import WORKLOADS, _NO_TRACE, digest

    phases, t_phase = {}, time.perf_counter()
    root, manifest = inputs.ensure_inputs(os.path.join(BUILD, "inputs"), workload, seed, scale)
    phases["inputs_s"] = time.perf_counter() - t_phase
    scratch = os.path.join(BUILD, "scratch", f"{workload}-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    wl = WORKLOADS[workload](root, manifest, scratch, cpus)
    tree = ProcTree()

    # -- set-up: session start, the input set-up three times, one warm-up
    t0 = time.perf_counter()
    spark = _start_session(cpus)
    session_start_s = time.perf_counter() - t0
    try:
        input_setup_s, parts = [], []
        for i in range(SETUPS):
            if i:
                wl.teardown(spark)
            t0 = time.perf_counter()
            wl.setup(spark)
            input_setup_s.append(time.perf_counter() - t0)
            parts.append(dict(wl.setup_parts))
        t0 = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t0
        setup_s = session_start_s + median(input_setup_s) + warmup_s
        t_phase = time.perf_counter()

        # -- measured jobs ---------------------------------------------------
        status = StatusStore(spark)
        tracer = Tracer()
        ref_path = _digest_file(root)
        ref = open(ref_path).read().strip() if os.path.exists(ref_path) else None
        jobs: list[dict] = []
        sampler = RssSampler(tree).start()
        steal0, total0 = host_cpu_ticks()
        busy = 0.0  # job wall time so far: checks between jobs are not measured
        job_no = 0
        # the traced run compares traced jobs with untraced ones after the
        # first, which is often the slowest: it needs at least three jobs
        min_jobs = max(wl.min_jobs, 3) if trace else wl.min_jobs
        while True:
            traced = trace and job_no % 2 == 1
            tracer.job = job_no
            status.mark()
            cpu0 = tree.cpu_s()
            t0 = time.perf_counter()
            try:
                r = wl.job(spark, tracer if traced else _NO_TRACE, job_no)
                error = None
            except Exception as e:  # a failed job counts; the run goes on
                r, error = None, f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
            cpu = tree.cpu_s() - cpu0
            busy += wall
            problems = [error] if error else []
            if r is not None:
                if corrupt and job_no == 1:
                    _corrupt(r)
                problems += wl.check(r, first=job_no == 0)
                d = digest(r.rows)
                if ref is None and not problems:
                    ref = d
                    os.makedirs(os.path.dirname(ref_path), exist_ok=True)
                    with open(ref_path, "w") as f:
                        f.write(d + "\n")
                elif d != ref:
                    problems.append("output digest differs from the seed's reference")
            retried = status.job_failures()
            if retried:
                problems.append(f"{retried} failed or retried tasks")
            rec = {"no": job_no, "traced": traced, "wall_s": wall, "cpu_s": cpu,
                   "problems": problems,
                   "points": r.points if r else 0, "tiles": r.tiles if r else 0}
            if traced and r is not None:
                rec["layers"] = layers.job_layers(
                    workload, manifest, len(status.jobs()), status.stages(), status.nodes(),
                    tracer.durations(job_no), r,
                )
            jobs.append(rec)
            for p in problems:
                print(f"job {job_no}: {p}", file=sys.stderr)
            job_no += 1
            if busy >= seconds and job_no >= min_jobs:
                break
        peak = sampler.stop()
        steal1, total1 = host_cpu_ticks()
        steal_frac = (steal1 - steal0) / max(total1 - total0, 1)
        phases["jobs_and_checks_s"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        replay = wl.replay() if trace else {}
    finally:
        _stop_all(spark, tree)
        shutil.rmtree(scratch, ignore_errors=True)
    phases["replay_and_stop_s"] = time.perf_counter() - t_phase

    attempted = len(jobs)
    failed = sum(1 for j in jobs if j["problems"])
    ok = [j for j in jobs if not j["problems"]] or jobs
    untraced = [j for j in ok if not j["traced"]]
    pps = [j["points"] / j["wall_s"] for j in untraced]
    summary = {
        "workload": workload, "seed": seed, "jobs": attempted,
        "session_start_s": session_start_s, "input_setup_s": input_setup_s,
        "warmup_s": warmup_s,
        "job_wall_s": [j["wall_s"] for j in jobs], "phases": phases,
        "host_steal_frac": steal_frac,
        "inputs": {k: v for k, v in manifest.items() if k not in ("tile_names", "files")},
    }
    if trace:
        metrics = layers.run_layers(
            workload, manifest, [j for j in jobs if j["traced"] and "layers" in j],
            replay, peak, session_start_s,
            median(p.get("sources.cache_build_s", 0.0) for p in parts),
        )
        traced_pps = [j["points"] / j["wall_s"] for j in ok if j["traced"]]
        later_pps = [j["points"] / j["wall_s"] for j in untraced if j["no"] > 0]
        metrics["trace.points_per_s_untraced"] = median(later_pps)
        metrics["trace.points_per_s_traced"] = median(traced_pps)
        metrics["trace.overhead_frac"] = (
            1.0 - median(traced_pps) / median(later_pps) if later_pps and traced_pps else 0.0
        )
        metrics["failed_frac"] = failed / attempted
        metrics["proc.host_steal_frac"] = steal_frac
        tracer.write(os.path.join(BUILD, "traces", os.path.basename(root) + ".jsonl"))
        summary["span_self_s"] = tracer.self_times(tracer.spans)
        units = layers.UNITS
    else:
        metrics = {
            "points_per_s": median(pps),
            "tiles_per_s": median(j["tiles"] / j["wall_s"] for j in untraced),
            "setup_s": setup_s,
            "cpu_s_per_mpoint": median(
                j["cpu_s"] / (max(j["points"], 1) / 1e6) for j in untraced
            ),
            "peak_rss_mb": peak["total"],
            "ok_frac": (attempted - failed) / attempted,
        }
        units = END_TO_END
    print(json.dumps(summary), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dem_tiles", "strips_dem", "pip_classify", "laz_dsm"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--corrupt-one-output", action="store_true",
                    help="self-check: corrupt one job's output, expect it counted")
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lasutility_spark", "__init__.py")):
        print("the engine package lasutility_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    res = run(a.workload, a.seed, a.seconds, bool(a.trace), a.scale, a.corrupt_one_output)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
