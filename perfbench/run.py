"""Benchmark of the spark-extract flagship chain.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds a local Spark session
on local[nproc] from the checkout's own `ocr_service_spark` and sets up
three times (a new session, inputs generated from --seed, an untimed
warm-up job); setup_s is their median. Only the first set-up launches
the JVM, so setup_s leaves the JVM launch out. It then times whole jobs
for --seconds, at least three, checks every job's output against a
kernel-side oracle, and reports medians. Jobs during which other
processes took a visible share of the host's CPU are replaced by up to
two more; with fewer than three undisturbed jobs, the medians are over
the three least disturbed. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the traced
layer breakdown instead (see layers.py) and reports per-layer metrics.
The line before it is a report with the host stamps. Everything the run
writes stays under .perfbench/ in the checkout; the Spark JVM and its
Python workers are stopped and waited for before exit. Without the
package next to this directory the run exits with code 2.

--selftest runs only the plan-metric walker's tiny-scale self-test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# JVM temp files and perf data stay out of the shared /tmp
JVM_OPTS = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"

# a run counts as made under foreign load when other processes used more
# than this share of the host's CPU while it measured
FOREIGN_SHARE = 0.15


def _own_session() -> None:
    """Put this run in a POSIX session of its own, so the process-tree
    probes count exactly this run's own process, JVM and Python workers."""
    try:
        os.setsid()
        return
    except PermissionError:  # already a process-group leader
        pass
    pid = os.fork()
    if pid:
        _, status = os.waitpid(pid, 0)
        os._exit(os.waitstatus_to_exitcode(status))
    os.setsid()


def _configure_env(cores: int, mem_mb: float) -> None:
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    driver_gb = max(1, min(4, int(mem_mb / 1024 / 4)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LAUNCHER_OPTS": JVM_OPTS,  # the JVM that builds spark-submit's command
        # the Arrow UDF's workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


class Session:
    """Owns the Spark session and the JVM behind it."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self):
        """A new session: a new SparkContext, Spark environment and
        Python worker daemon. getOrCreate() after stop() reuses the running
        gateway JVM, so only the first start launches the JVM; setup_s is
        therefore a running-JVM figure, and the JVM launch shows in the
        traced run's session.start_s and in the report's setup_s_runs."""
        from ocr_service_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = build_session(
            "perfbench", cores=self.cores,
            extra_conf={"spark.driver.extraJavaOptions": JVM_OPTS})
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _reap_session() -> None:
    """Stop whatever is left in this run's session (Python workers of a
    JVM that died early) and wait for it."""
    from probe import session_pids

    me = os.getpid()
    if os.getsid(0) != me:
        return
    left = [p for p in session_pids() if p != me]
    for p in left:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 20
    while left and time.time() < deadline:
        time.sleep(0.2)
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def timed_run(sess: Session, w, seed: int, seconds: float, stamps: dict) -> dict:
    """Set up SETUPS times, then time whole jobs for `seconds`."""
    from workloads import golden, set_up, time_jobs

    t0 = time.perf_counter()
    gold = golden(w.base_docs, seed)  # oracle, untimed
    stamps["oracle_s"] = time.perf_counter() - t0
    data = os.path.join(WORK, "data")
    spark, inp, setups = set_up(sess, w, seed, data)
    setups = [s.total_s for s in setups]

    t = time_jobs(spark, inp, os.path.join(data, "out"), gold, seconds, sess.cores)
    stamps["host.foreign_cpu_s"] = t.window.foreign_cpu_s
    stamps["window_s"] = t.window.wall_s
    stamps["jobs"] = t.jobs
    stamps["setup_s_runs"] = setups
    stamps["failed_ratio"] = t.failed / t.attempted
    wall, cpu, rss = t.medians()
    metrics = {
        "wall_s": (wall, "s"),
        "docs_per_s": (w.input_rows / wall, "docs/s"),
        "cpu_s": (cpu, "s"),
        "peak_rss_mb": (rss, "MB"),
        "setup_s": (statistics.median(setups), "s"),
    }
    return {"attempted": t.attempted, "failed": t.failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="extract_fresh")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "ocr_service_spark", "__init__.py")):
        print(f"no ocr_service_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    _own_session()
    sys.path[:0] = [HERE, ROOT]
    import probe
    from ocr_service_spark.bench_probe import loadavg1
    from workloads import WORKLOADS

    if not args.selftest and args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = probe.nproc()
    mem_mb = probe.mem_total_mb()
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    _configure_env(cores, mem_mb)
    stamps = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": cores, "mem_total_mb": round(mem_mb),
              "host.load1_start": loadavg1(),
              "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}

    sess = Session(cores)
    try:
        if args.selftest:
            import layers

            print(json.dumps(layers.selftest(sess.start(), os.path.join(WORK, "data"))))
            return 0
        w = WORKLOADS[args.workload]
        if args.trace:
            import layers

            result = layers.traced_run(sess, w, args.seed, args.seconds, WORK, stamps)
        else:
            result = timed_run(sess, w, args.seed, args.seconds, stamps)
    finally:
        sess.close()
        _reap_session()
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "local"), ignore_errors=True)

    stamps["run_s"] = time.perf_counter() - t_run
    window = max(stamps.get("window_s", 0.0), 1e-9)
    foreign = stamps.get("host.foreign_cpu_s", 0.0)
    stamps["clean"] = foreign < FOREIGN_SHARE * window * cores
    if not stamps["clean"]:
        print(f"warning: run made under foreign load (foreign CPU {foreign:.1f} s "
              f"over {window:.1f} s x {cores} cores, load1 at start "
              f"{stamps['host.load1_start']}); not a clean figure",
              file=sys.stderr)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    report = dict(stamps, metrics=metrics)
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "reports", name), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"report": stamps}))
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
