"""Crawl-engine benchmark: one workload per run, closed loop, one job at
a time.

    python3 perfbench/run.py --workload frontier_crawl --seed 1 \\
        --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The run generates its inputs from
``--seed`` (cached per seed under ``.perfbench_work/``), starts a
``local[k]`` session with k = min(2, nproc), warms up untimed,
then times whole jobs back to back until ``--seconds`` have passed (at
least one), checking every job's output against the reference
outside the timed region. It prints the run context and every metric by
name and unit, and as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 1`` the timed
jobs are replaced by the traced run (``tracing.py``) and the metrics are
the per-layer ones. ``--smoke`` runs every workload, and the fetch probe of
``curate_dedup``'s traced run, at a tiny size with their correctness
checks, in one session.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
import traceback

PROCESS_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: local[k] with k = min(CORES, nproc): the jobs are bound by per-job fixed
#: cost, so 2 task threads run them as fast as 4 and leave cores for the
#: Spark driver, the JIT, GC and the Python workers
CORES = 2
UNITS = {"setup_s": "s", "job_s": "s", "round_p50_s": "s",
         "urls_per_s": "URL/s", "docs_per_s": "doc/s", "peak_rss_mb": "MB"}


def _environment() -> None:
    """Executors import the package by module path, and every file Spark
    or Python writes stays inside the checkout."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def _context(spark, cores: int, seed: int, stats: dict) -> dict:
    import pyspark
    return {"nproc": os.cpu_count(), "master": f"local[{cores}]",
            "spark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "seed": seed,
            "inputs": stats}


def timed_metrics(workload, results, setup_s: float, peaks) -> dict:
    from measure import med
    values = {
        "setup_s": setup_s,
        "job_s": med(r.job_s for r in results),
        "round_p50_s": med(u for r in results for u in r.unit_s),
        "urls_per_s": med(r.urls / r.job_s for r in results),
        "docs_per_s": med(r.docs / r.job_s for r in results),
        "peak_rss_mb": med(peaks),
    }
    return {k: {"value": round(v, 6), "unit": UNITS[k]}
            for k, v in values.items()}


def sample_counts(results) -> dict[str, int]:
    """How many samples each timed metric is the median of."""
    jobs = len(results)
    return {"setup_s": 1, "job_s": jobs, "urls_per_s": jobs,
            "docs_per_s": jobs, "peak_rss_mb": jobs,
            "round_p50_s": sum(len(r.unit_s) for r in results)}


def run_timed(workload, spark, seconds: float, setup_s: float):
    """Closed loop: whole jobs one at a time until ``seconds`` have passed
    (at least one); each job is checked after its timed region."""
    from measure import PeakRss, jvm_pid
    from workloads import Op
    results, peaks, ops = [], [], []
    started = time.perf_counter()
    while not results or time.perf_counter() - started < seconds:
        try:
            with PeakRss(jvm_pid(spark)) as rss:
                result = workload.job()
        except Exception:  # a failed job is counted, not fatal
            traceback.print_exc()
            ops.append(Op(f"job {len(results) + 1}", False, "raised"))
            break
        job_ops = workload.check(result)
        for op in job_ops:
            if not op.ok:
                print(f"CHECK FAILED {workload.name} {op.name}: "
                      f"{op.message}", file=sys.stderr)
        ops.extend(job_ops)
        workload.cleanup(result)
        results.append(result)
        peaks.append(rss.peak_mb)
    metrics = timed_metrics(workload, results, setup_s, peaks) \
        if results else {}
    details = {"jobs": [{"job_s": r.job_s, "unit_s": r.unit_s,
                         "urls": r.urls, "docs": r.docs, **r.details}
                        for r in results], "peak_rss_mb": peaks,
               "samples": sample_counts(results)}
    return metrics, ops, details


def run(args) -> int:
    from measure import build_session, stop_session
    from workloads import WORKLOADS, tally

    scale = "smoke" if args.smoke else "full"
    names = list(WORKLOADS) if args.smoke else [args.workload]
    workloads = [WORKLOADS[n](WORK, args.seed, scale) for n in names]
    gen_start = time.perf_counter()
    stats = {w.name: w.generate() for w in workloads}
    gen_s = time.perf_counter() - gen_start
    cores = max(1, min(CORES, os.cpu_count() or 1))
    event_log = os.path.join(WORK, "eventlog") if args.trace else None
    if event_log is not None:
        import shutil
        shutil.rmtree(event_log, ignore_errors=True)
    spark = build_session(WORK, cores, event_log=event_log)
    try:
        for w in workloads:
            w.load(spark)
            w.warm_up()
        # process start to first timed call, less seeded input generation
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        context = _context(spark, cores, args.seed, stats)
        print("context " + json.dumps(context, sort_keys=True))
        all_ops, metrics, details = [], {}, {}
        for w in workloads:
            if args.trace:
                from tracing import run_traced
                metrics, ops, details = run_traced(w, spark, setup_s,
                                                   event_log)
            else:
                # smoke: one job per workload, just to run the checks
                metrics, ops, details = run_timed(
                    w, spark, 0 if args.smoke else args.seconds, setup_s)
                if args.smoke and w.probe is not None:
                    from tracing import Isolator, Tracer, isolate_fetch
                    _, observed = isolate_fetch(
                        w.probe, spark, Isolator(spark, Tracer(spark, "smoke")))
                    ops += w.probe.check(observed)
            attempted, failed = tally(ops)
            print(f"workload {w.name}: ops_attempted {attempted} count, "
                  f"ops_failed {failed} count, "
                  f"correct {'yes' if failed == 0 else 'NO'}")
            samples = details.get("samples", {})
            for k, v in metrics.items():
                n = f" (median of {samples[k]})" if k in samples else ""
                print(f"  {k} {v['value']} {v['unit']}{n}")
            all_ops.extend(ops)
    finally:
        stop_session(spark)
    attempted, failed = tally(all_ops)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{'smoke' if args.smoke else args.workload}"
                           f"-{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({"context": context, "details": details,
                   "metrics": metrics}, fh, indent=1, default=str)
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": max(attempted, 1), "failed": failed
                      if attempted else 1, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", choices=("frontier_crawl",
                                               "curate_dedup"))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=5)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true",
                        help="all workloads at a tiny size, with checks")
    args = parser.parse_args(argv)
    if not args.smoke and args.workload is None:
        parser.error("--workload is required unless --smoke")
    _environment()
    try:
        import fess_ds_s3_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
