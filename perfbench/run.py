"""rapidfuzz_spark benchmark: one seeded workload on local[4], verified.

    python3 perfbench/run.py --workload score_long --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (setup_s, job_s, scored_pairs_per_s,
pairwise_f1); with ``--trace 1`` they are the per-layer ones,
from one extra traced job, probes and Spark's event log. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPEATS = 3
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h
JVM_EXIT_S = 60  # the JVM's own shutdown, before it is killed
DESCENDANTS_EXIT_S = 20  # the rest, after SIGTERM, before SIGKILL


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument(
        "--workload", required=True, choices=("score_long", "er_batch", "er_resumable")
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("rapidfuzz-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> list:
    """Live (non-zombie) processes whose parent is this one."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat[stat.rfind(")") + 2 :].split()[:2]
        if int(ppid) == me and state != "Z":
            out.append(int(name))
    return out


def stop_processes() -> None:
    """Stop the JVM and every process started under it, and wait for each.

    ``spark.stop()`` leaves the JVM running; it exits once its stdin closes,
    after this process would have. This process is a child subreaper (see
    ``main``), so the JVM's Python daemon and workers, orphaned when the JVM
    ends, become its children, and ``waitpid`` sees every one of them end.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(JVM_EXIT_S)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + DESCENDANTS_EXIT_S
    termed = set()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left, running or not
        if pid:
            continue
        late = time.monotonic() > deadline
        for pid in _children():
            if late or pid not in termed:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                termed.add(pid)
        time.sleep(0.05)


def run(args: argparse.Namespace, work: str) -> dict:
    from perfbench import spans as T
    from perfbench import workloads as W

    t0 = time.perf_counter()
    spark = make_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        wl = W.WORKLOADS[args.workload](spark, args.seed, work)
        prep = [W.timed(wl.prepare) for _ in range(SETUP_REPEATS)]
        # each warm-up job is an attempted operation like any timed job;
        # the first one's check sets the reference the later ones meet
        attempted = failed = 0
        warm_s = 0.0
        for i in range(wl.warm_ups):
            t = time.perf_counter()
            out = wl.warm_up() if i == 0 else wl.job()
            warm_s += time.perf_counter() - t
            problems = wl.check_warm_up(out) if i == 0 else wl.check(out)
            attempted += 1
            if problems:
                failed += 1
                print(f"warm-up job {attempted} failed its check: {problems}", file=sys.stderr)
        setup_s = session_s + statistics.median(prep) + warm_s

        walls = []
        start = time.perf_counter()
        while True:
            attempted += 1
            t = time.perf_counter()
            try:
                out = wl.job()
                walls.append(time.perf_counter() - t)
                problems = wl.check(out)
            except Exception:
                traceback.print_exc()
                problems = ["job raised"]
            if problems:
                failed += 1
                print(f"job {attempted} failed its check: {problems}", file=sys.stderr)
            timed_jobs = attempted - wl.warm_ups
            if timed_jobs >= wl.min_jobs and time.perf_counter() - start >= args.seconds:
                break
        if not walls:
            raise RuntimeError("no job completed")
        job_s = statistics.median(walls)
        print(
            f"{args.workload}: setup {setup_s:.2f} s (session {session_s:.2f}, "
            f"prepare {[round(p, 2) for p in prep]}), jobs {[round(w, 2) for w in walls]}",
            file=sys.stderr,
        )

        if not args.trace:
            e2e = wl.end_to_end(job_s)
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (job_s, "s"),
                "scored_pairs_per_s": (e2e["scored_pairs_per_s"], "1/s"),
                "pairwise_f1": (e2e["pairwise_f1"], "ratio"),
            }
        else:
            tracer = T.Tracer()
            layer, problems = wl.traced(tracer)
            attempted += 1
            if problems:
                failed += 1
                print(f"traced job failed its check: {problems}", file=sys.stderr)
    finally:
        spark.stop()

    if args.trace:
        tracer.dump(sys.stderr)
        jobs = T.attribute_jobs(tracer, os.path.join(work, "events"))
        per = W.per_layer(jobs, layer, job_s)
        metrics = {k: (v, _unit(k)) for k, v in per.items()}

    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _unit(name: str) -> str:
    if name.endswith("pairs_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("share", "eff", "yield", "completeness", "quality", "per_doc")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rapidfuzz_spark")):
        print(f"rapidfuzz_spark not found under {ROOT}", file=sys.stderr)
        return 2
    # orphaned descendants (the JVM's Python workers) are re-parented to
    # this process, so stop_processes can wait for every one of them
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl: {os.strerror(ctypes.get_errno())}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d))
    # everything Spark, its JVM and its Python workers write stays in the
    # work directory, and the workers import the package from this checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # import the package and the benchmark from the checkout root, not from
    # this directory (whose module names must not shadow the stdlib's)
    sys.path[:] = [ROOT] + [p for p in sys.path if p != HERE]
    try:
        result = run(args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
