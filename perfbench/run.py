"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload estimator_bcast --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 2

Runs from the root of a checkout of the repository, in one process at
``local[<cores>]``. ``--trace 0`` prints the end-to-end metrics, measured with
tracing off. ``--trace 1`` first makes the same measurement untraced, then
restarts the Spark context with the event log on, measures again and prints
the per-layer metrics plus the tracing overhead. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed``, ``metrics``. A full record (labels, spans,
per-span Spark counters) goes to ``.perfbench/results/``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: the workloads BENCHMARK.json lists, then the one run by hand (see README.md)
NAMES = ("estimator_bcast", "fixpoints_hub", "longdiam_shards")
#: untimed jobs before the timed ones: the first call of each operator in a
#: process is 1.3-2x slower, by an amount that varies from run to run
WARMUP_JOBS = 1
#: timed jobs a run makes at least, past ``--seconds`` if need be: the median
#: of three rejects one job slowed by a burst of host load, where the median
#: of two (their mean) does not
MIN_TIMED_JOBS = 3


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    worst = 0
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        print(f"== {name}", flush=True)
        worst = max(worst, subprocess.run(cmd, cwd=ROOT).returncode)
    return worst


def prepare_environment(run_dir: str) -> dict:
    """Keep every file Spark, the JVM and the engine write inside the checkout,
    and let the Python workers import the package. Must run before pyspark
    starts the JVM, which inherits this environment."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def hard_cuts(run_dir: str) -> int:
    """Parquet lineage resets the engine's Checkpointer has written so far."""
    tmp = os.path.join(run_dir, "tmp")
    return sum(
        len([c for c in os.listdir(os.path.join(tmp, d)) if c.startswith("cut=")])
        for d in os.listdir(tmp) if d.startswith("ckpt_hard_")
    )


class Phase:
    """One Spark context: set up the workload, then run its job in a closed
    loop for ``seconds`` and check every output."""

    def __init__(self, spark, wl, seed, tracer, run_dir):
        self.spark, self.wl, self.seed, self.tracer = spark, wl, seed, tracer
        self.run_dir = run_dir
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.jobs: list[dict] = []  # one per timed job: span, results, cuts

    def _job(self, graph, name: str, calls) -> tuple[dict, dict, dict]:
        results, failures = {}, {}
        with self.tracer.span(name) as js:
            for call in calls:
                with self.tracer.span(call.span):
                    try:
                        results[call.span] = call.run(graph)
                    except Exception:  # noqa: BLE001 - a failed call is counted, then reported
                        failures[call.span] = traceback.format_exc(limit=3)
        return js, results, failures

    def _check(self, calls, results: dict, failures: dict, expect: dict, first: dict) -> None:
        self.attempted += len(calls)
        for call in calls:
            if call.span in failures:
                msg = f"{call.span} raised:\n{failures[call.span]}"
            else:
                msg = self.wl.check(call.span, results[call.span], expect, first)
                first.setdefault(call.span, results[call.span].fingerprint)
            if msg:
                self.failed += 1
                if len(self.errors) < 10:
                    self.errors.append(msg)

    def run(self, seconds: float) -> None:
        """Set up, run the workload's untimed warm-up jobs, then timed jobs
        until ``seconds`` have passed and at least ``MIN_TIMED_JOBS`` ran."""
        from workloads import collect_edges

        with self.tracer.span("setup") as sp:
            graph, self.facts = self.wl.build_inputs(self.spark, self.seed, self.tracer)
        self.setup_s = self.tracer.wall(sp)
        calls = self.wl.calls
        warm = [self._job(graph, "warmup", calls) for _ in range(WARMUP_JOBS)]
        self.warmup_s = sum(self.tracer.wall(js) for js, *_ in warm)
        t = time.perf_counter()
        edges = collect_edges(graph)
        expect = self.wl.expect(graph, edges)
        self.expect_s = time.perf_counter() - t
        first: dict = {}
        for _, results, failures in warm:
            self._check(calls, results, failures, expect, first)
        cuts = hard_cuts(self.run_dir)
        start = time.perf_counter()
        while True:
            js, results, failures = self._job(graph, "job", calls)
            now_cuts = hard_cuts(self.run_dir)
            self._check(calls, results, failures, expect, first)
            self.jobs.append({"span": js, "results": results, "parquet_cuts": now_cuts - cuts})
            cuts = now_cuts
            if time.perf_counter() - start >= seconds and len(self.jobs) >= MIN_TIMED_JOBS:
                break
        t = time.perf_counter()
        last = self.jobs[-1]["results"]
        if len(last) == len(calls):
            self.errors.extend(self.wl.full_check(graph, edges, last, expect))
        self.full_check_s = time.perf_counter() - t
        graph.unpersist()

    def job_s(self) -> list[float]:
        return [self.tracer.wall(j["span"]) for j in self.jobs]


def start_spark(cores: int, driver_mb: int, conf: dict):
    from avgdist_rs_spark.session import get_spark

    # the heap is committed and touched at JVM start, so its resident size is
    # a constant that TreeMemory subtracts; left to grow, it follows the
    # garbage collector's policy and swung the tree's RSS by a third between
    # identical runs at these input sizes
    java = f"{conf['spark.driver.extraJavaOptions']} -Xms{driver_mb}m -XX:+AlwaysPreTouch"
    spark = get_spark(
        app_name="perfbench",
        cpus=cores,
        shuffle_partitions=cores,
        extra_conf={**conf, "spark.driver.memory": f"{driver_mb}m",
                    "spark.driver.extraJavaOptions": java},
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "avgdist_rs_spark")):
        return fail(f"no avgdist_rs_spark package next to {HERE}: run from a full checkout")
    if args.seconds <= 0:
        return fail("--seconds must be positive")
    if args.workload == "all":
        return run_all(args)

    import host
    import layers

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)
    conf = prepare_environment(run_dir)
    cores = host.cores()
    driver_mb = host.driver_memory_mb()
    labels = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "master": f"local[{cores}]",
        "shuffle_partitions": cores, "driver_memory_mb": driver_mb,
        "mem_total_mb": host.mem_total_mb(), "load1_before": host.load1(),
        "git_commit": host.git_commit(ROOT), "python": sys.version.split()[0],
    }
    capture = host.StderrCapture(os.path.join(run_dir, "spark.stderr"))
    record: dict = {"labels": labels}
    try:
        with capture, host.TreeMemory() as mem:
            record.update(measure(args, run_dir, conf, cores, driver_mb, labels, mem))
            record["peak_mem_mb"] = mem.peak_mb
            record["peak_mem_parts_mb"] = mem.peak_parts
            record["peak_rss_by_process_mb"] = mem.peak_by_process
            record["mem_samples"] = mem.samples
        record.update(capture.summary())
        leftover = host.reap_children()
        labels["load1_after"] = host.load1()
        labels["leftover_processes"] = leftover
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        print(capture.tail(), file=sys.stderr)
        host.reap_children()
        return 1
    finally:
        capture.remove()
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "local"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "eventlog"), ignore_errors=True)

    out = layers.report(args, record)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def measure(args, run_dir, conf, cores, driver_mb, labels, mem) -> dict:
    import pyspark
    import pyarrow
    import numpy

    import workloads
    from spans import Tracer, attribute

    labels.update(spark=pyspark.__version__, pyarrow=pyarrow.__version__,
                  numpy=numpy.__version__)
    wl = workloads.get(args.workload, args.seed)
    rec: dict = {}

    spark = start_spark(cores, driver_mb, conf)
    session_s = time.perf_counter() - T_PROCESS
    mem.watch(spark.sparkContext._jvm)
    plain = Phase(spark, wl, args.seed, Tracer(f"{args.workload}/untraced"), run_dir)
    plain.run(args.seconds)
    rec["untraced"] = plain
    rec["session_s"] = session_s
    if args.trace:
        spark.stop()
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        spark = start_spark(cores, driver_mb, {
            **conf,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        traced = Phase(spark, wl, args.seed,
                       Tracer(f"{args.workload}/traced", spark.sparkContext), run_dir)
        traced.run(args.seconds)
        mem.stop()
        stop_spark(spark)
        rec["traced"] = traced
        rec["spark_by_span"] = attribute(log_dir, traced.tracer)
    else:
        mem.stop()
        stop_spark(spark)
    return rec


if __name__ == "__main__":
    sys.exit(main())
