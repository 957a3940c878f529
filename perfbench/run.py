#!/usr/bin/env python3
"""Per-change benchmark of the lucene_spark engine at local[nproc].

    python3 perfbench/run.py --workload ingest|search --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run traces every
single search and every other ingest op and batch call of the timed loop,
runs a layer probe and reports the per-layer ones. The line above it is a
summary of the work done (counts, generation and oracle times, op samples).
``--tiny`` shrinks every size for the smoke test. The benchmark runs in a
child process; this one waits for it and then ends every process the run
started. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PINNED = {
    "PYTHONHASHSEED": "0",
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}
PR_SET_CHILD_SUBREAPER = 36


def _config(tiny: bool) -> SimpleNamespace:
    nproc = len(os.sched_getaffinity(0))
    if tiny:
        return SimpleNamespace(
            nproc=nproc, ingest_docs=60, ingest_ops=2, search_docs=120, variants=2, probe_docs=24,
        )
    return SimpleNamespace(
        nproc=nproc, ingest_docs=1000, ingest_ops=3, search_docs=1000, variants=16, probe_docs=40,
    )


def _pinned_env() -> dict:
    """The hash seed and thread counts are fixed before the interpreter
    starts, for the benchmark and, through the environment, for every worker."""
    env = dict(os.environ, **PINNED, PERFBENCH_PINNED="1", PERFBENCH_T0=repr(time.time()))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def _interrupted(signum, _frame):
    raise SystemExit(128 + signum)


def _end_descendants(grace_s: float) -> None:
    """Waits up to ``grace_s`` for every descendant to exit, then kills what
    is left, and reaps each one. As the child subreaper, this process inherits
    every orphan of its subtree, so nothing it started outlives it."""
    from measure import tree_pids

    me = os.getpid()
    kill_at = time.monotonic() + grace_s
    give_up = kill_at + 30
    while time.monotonic() < give_up:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        if time.monotonic() > kill_at:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)
    print(f"perfbench: processes still alive: {left}", file=sys.stderr)


def _supervise() -> int:
    """Runs the benchmark in a child process with the pinned environment and
    stops every process the run started, the JVM, Spark's Python workers and
    the multiprocessing helpers, before it returns the child's exit code."""
    import ctypes
    import subprocess

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, _interrupted)
    grace_s = 15.0
    try:
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env=_pinned_env()
        )
        return child.wait()
    except BaseException:
        grace_s = 0.0
        raise
    finally:
        _end_descendants(grace_s)


def _session(cfg, run_dir: str):
    from pyspark.sql import SparkSession

    tmp = os.environ["TMPDIR"]
    return (
        SparkSession.builder.master(f"local[{cfg.nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cfg.nproc))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM has exited; whatever it leaves is
    ended by ``_supervise``."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "lucene_spark", "__init__.py")):
        print(f"perfbench: no lucene_spark package under {ROOT}", file=sys.stderr)
        return 2
    if os.environ.get("PERFBENCH_PINNED") != "1":
        return _supervise()
    sys.path[:0] = [ROOT, HERE]

    from concurrent.futures import ProcessPoolExecutor
    from multiprocessing import get_context

    from corpus import Oracle
    from layers import layer_metrics, probe
    from measure import Tracer, median
    from workloads import Ingest, Result, Search

    t0 = float(os.environ.get("PERFBENCH_T0", time.time()))
    marks: dict[str, float] = {}

    def mark(name: str) -> None:
        marks[name] = round(time.time() - t0, 2)

    cfg = _config(args.tiny)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    res = Result()
    kind = {"ingest": Ingest, "search": Search}[args.workload]
    try:
        with ProcessPoolExecutor(cfg.nproc, mp_context=get_context("spawn")) as pool:
            oracle = Oracle(os.path.join(WORK, "oracle"), pool, cfg.nproc)
            wl = kind(cfg, None, None, oracle, pool)
            wl.prepare(args.seed)
            mark("prepared")
            spark = _session(cfg, run_dir)
            mark("session")
            try:
                spark.sparkContext.setLogLevel("ERROR")
                tracer = Tracer(spark, enabled=bool(args.trace))
                wl.spark, wl.tracer = spark, tracer
                try:
                    # no new op starts after 3 * --seconds of timed loop
                    wl.run(run_dir, 3 * args.seconds, res)
                except Exception as e:  # counted; the result line still prints
                    traceback.print_exc()
                    res.check(False, f"{args.workload} raised {e!r}"[:300])
                mark("workload")
                if args.trace and res.failed == 0:
                    probe(spark, tracer, run_dir, res, cfg.probe_docs)
                    tracer.resolve_jobs()
                    # the same op, untraced and traced, alternating in one loop
                    op = {"ingest": "op_s", "search": "batch_s"}[args.workload]
                    base, traced = res.summary[op], res.summary[f"traced_{op}"]
                    overhead = 100 * (median(traced) / median(base) - 1)
                    res.metrics = layer_metrics(tracer, cfg.nproc, overhead)
                    mark("probe")
            finally:
                _stop(spark)
                mark("stopped")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    mark("end")

    res.summary.update(
        workload=args.workload, seed=args.seed, nproc=cfg.nproc,
        gen_s=round(wl.gen_s, 3),
        marks_s=marks, errors=res.errors,
    )
    print("summary " + json.dumps(res.summary, sort_keys=True))
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
