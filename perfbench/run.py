#!/usr/bin/env python3
"""Layered benchmark of the dedup engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload turns --seed 1 --seconds 8 --trace 0

One process starts a ``local[nproc]`` Spark session, builds the workload's
input from ``--seed``, warms up, then repeats the workload's iteration for
``--seconds`` and checks every output. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` also runs one traced pass, layer call by layer call,
and prints the per-layer metrics. The last line of stdout is one JSON
object; progress goes to stderr. The trace itself is written to
``.bench_work/traces/``. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from statistics import median

from harness import (
    ActivitySampler, JobStats, RssSampler, Tracer, partition_digest, process_tree,
    self_times,
)

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUP_ITERATIONS = 3
INPUT_BUILDS = 3


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["turns", "convs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def session_conf(work: str, trace: bool) -> dict:
    """Point every scratch location of Spark, the JVM and the Python workers
    into ``work``; returns the Spark conf of the benchmark's session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM and the driver JVM would otherwise each write a
    # perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap (-Xms = spark.driver.memory): with a growable heap
        # the JVM's share of peak_rss_mb followed G1's expansion timing and
        # spread 0.16-0.22 run to run; fixed, 0.03-0.09. 2 GiB ran the convs
        # iteration no slower than 4 GiB.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of one run in the status store, so the
        # job/task attribution never meets an evicted entry
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "50000",
    }
    if trace:
        # write running-task counts to the status store on every task
        # event instead of every 100 ms, so core_util sees short tasks
        conf["spark.ui.liveUpdate.period"] = "0"
    return conf


class Ops:
    """Counts operations attempted and failed. An operation is a callable
    returning ``(value, errors)``; it fails when it raises or when
    ``errors`` (its output checks) is not empty."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn):
        self.attempted += 1
        try:
            value, errors = fn()
        except Exception:
            self.failed += 1
            log(f"{what} raised:\n{traceback.format_exc()}")
            return None
        if errors:
            self.failed += 1
            for e in errors:
                log(f"{what} failed: {e}")
        return value

    def ok_frac(self) -> float:
        return 1 - self.failed / self.attempted


def shutdown(spark, tree: list[int]) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to exit;
    whatever is still alive after that is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:
        # a JVM that already died cannot be stopped cleanly; the process
        # checks below still reap it and its workers
        log(f"spark stop failed:\n{traceback.format_exc()}")
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    live = [p for p in tree if p != os.getpid()]
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Bench:
    """One run: session, input, warm-up, timed iterations and checks."""

    def __init__(self, spark, wl, trace: bool):
        self.spark = spark
        self.wl = wl
        self.ops = Ops()
        self.jobs = JobStats(spark.sparkContext) if trace else None
        self.activity = ActivitySampler(spark.sparkContext) if trace else None
        self.rss = RssSampler()
        self.digests: list[str] = []
        self.recalls: list[float] = []
        self.iters: list[dict] = []
        self.iter_jobs: list[dict] = []

    def iteration(self, label: str, timed: bool) -> None:
        """One workload iteration, then its output checks (one operation).
        Job counts and core activity cover the iteration only."""

        def body():
            wm0 = self.jobs.watermark() if self.jobs else None
            if self.activity and timed:
                with self.activity.poller:
                    it = self.wl.iteration()
            else:
                it = self.wl.iteration()
            if self.jobs and timed:
                self.iter_jobs.append(self.jobs.between(wm0, self.jobs.watermark()))
            out = self.wl.outcome(it)
            log(f"{label}: {it['wall']:.3f}s recall={out['recall']:.4f}")
            return (it, out), out["errors"]

        res = self.ops.run(label, body)
        if res is None:
            return
        it, out = res
        self.digests.append(out["digest"])
        self.recalls.append(out["recall"])
        if timed:
            self.iters.append(it)

    def timed(self, seconds: float) -> None:
        t0 = time.perf_counter()
        with self.rss.poller:
            while True:
                self.iteration(f"iteration {len(self.iters)}", timed=True)
                if time.perf_counter() - t0 >= seconds:
                    break
        distinct = len(set(self.digests))
        self.ops.run("partition digest across iterations", lambda: (
            None, [] if distinct == 1 else [f"{distinct} distinct partitions"]
        ))


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    from rust_gd_spark.session import get_spark
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    conf = session_conf(work, bool(args.trace))

    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=nproc, extra_conf=conf)
    start_s = time.perf_counter() - t0
    log(f"session local[{nproc}] up in {start_s:.2f}s")
    result = None
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        builds = []
        for _ in range(INPUT_BUILDS):
            t0 = time.perf_counter()
            wl.build_input()
            builds.append(time.perf_counter() - t0)
        log(f"input: {wl.n_turns} turns, {wl.text_bytes / 1e6:.2f} MB text; "
            f"builds {[round(b, 2) for b in builds]}")
        bench = Bench(spark, wl, bool(args.trace))
        t0 = time.perf_counter()
        for i in range(WARMUP_ITERATIONS):
            bench.iteration(f"warm-up {i}", timed=False)
        setup_s = start_s + median(builds) + (time.perf_counter() - t0)
        bench.timed(args.seconds)
        if bench.iters:
            untraced = median([it["wall"] for it in bench.iters])
            if args.trace:
                metrics = traced_metrics(bench, untraced, start_s, args)
            else:
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "turns_per_s": (wl.n_turns / untraced, "1/s"),
                    "pair_recall": (median(bench.recalls), "frac"),
                    "peak_rss_mb": (bench.rss.peak / 2**20, "MB"),
                    "ok_frac": (bench.ops.ok_frac(), "frac"),
                }
            result = {
                "correct": bench.ops.failed == 0,
                "attempted": bench.ops.attempted,
                "failed": bench.ops.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
    finally:
        log("stopping")
        try:
            shutdown(spark, process_tree(os.getpid()))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if result is None:
        log("no timed iteration succeeded")
        return 1
    log("done")
    print(json.dumps(result), flush=True)
    return 0


def traced_metrics(bench: Bench, untraced: float, start_s: float, args) -> dict:
    """One traced pass on the same input, then every per-layer metric."""
    wl, ops, jobs = bench.wl, bench.ops, bench.jobs
    tr = Tracer(watermark=jobs.watermark)
    counts: dict = {}
    rows = ops.run("traced run", lambda: wl.traced(tr, counts))
    if rows is not None:
        ops.run("traced partition", lambda: (None, [] if bench.digests and (
            partition_digest(rows) == bench.digests[0]
        ) else ["traced partition differs from the timed runs"]))
    if args.workload == "turns":
        ops.run("stream ingest", lambda: (None, wl.traced_stream(tr, counts)))
    kernel = None
    if args.workload == "convs":
        kernel = ops.run("rs kernel", lambda: (wl.rs_kernel_mb_s(), []))

    for s, own in zip(tr.spans, self_times(tr.spans)):
        s.update(jobs.between(s["wm0"], s["wm1"]), self_s=own)
    root = tr.spans[0] if rows is not None else None
    traced_wall = root["end"] - root["start"] if root else 0.0
    dur = tr.durations()

    def total(name, key):
        vals = [s[key] for s in tr.by_name(name)]
        return None if None in vals else sum(vals)

    def ratio(num, den):
        return counts[num] / counts[den] if counts.get(den) else 0.0

    m: dict = {"session.start_s": (start_s, "s")}
    m["pipeline.jobs"] = (median([j["jobs"] for j in bench.iter_jobs]), "count")
    tasks = [j["tasks"] for j in bench.iter_jobs]
    m["pipeline.tasks"] = (None if None in tasks else median(tasks), "count")
    m["pipeline.idle_frac"] = (bench.activity.idle_frac(), "frac")
    m["pipeline.core_util"] = (bench.activity.core_util(), "frac")
    for name in ("pipeline.base", "pipeline.clusters", "exactdup",
                 "minhash.shingle", "minhash.bands", "minhash.candidates", "minhash.verify",
                 "simhash.fingerprint", "simhash.pairs",
                 "substring.winnow", "substring.candidates", "substring.verify",
                 "convdedup", "gd.decompose", "gd.dict", "gd.reconstruct",
                 "streaming.compact"):
        m[name + ("_s" if "." in name else ".s")] = (dur.get(name, 0.0), "s")
    m["components.cc_s"] = (dur.get("components", 0.0), "s")
    for layer in ("exactdup", "minhash", "simhash", "substring", "components",
                  "convdedup", "gd"):
        m[f"{layer}.jobs"] = (total(layer, "jobs"), "count")
    m["exactdup.reps_frac"] = (ratio("reps", "rows"), "frac")
    m["minhash.candidate_pairs"] = (counts.get("minhash_cands", 0), "count")
    m["minhash.verified_frac"] = (ratio("minhash_pairs", "minhash_cands"), "frac")
    m["simhash.verified_pairs"] = (counts.get("simhash_pairs", 0), "count")
    m["substring.candidate_pairs"] = (counts.get("substring_cands", 0), "count")
    m["substring.verified_frac"] = (ratio("substring_pairs", "substring_cands"), "frac")
    m["components.edges"] = (counts.get("cc_edges", 0), "count")
    m["convdedup.pairs"] = (counts.get("convdedup_pairs", 0), "count")

    gd_iters = [it for it in bench.iters if "phases" in it]
    m["gd.rs_kernel_mb_s"] = (kernel or 0.0, "MB/s")
    m["gd.bases_frac"] = (ratio("n_bases", "n_chunks"), "frac")
    m["gd.mb_per_s"] = (wl.text_bytes / 1e6 / median(
        [it["phases"]["decompose"] + it["phases"]["reconstruct"] for it in gd_iters]
    ) if gd_iters else 0.0, "MB/s")
    m["gd.bytes_ratio"] = (
        median([wl.gd_bytes_ratio(it) for it in gd_iters]) if gd_iters else 0.0, "frac")

    epochs = [s["end"] - s["start"] for s in tr.by_name("streaming.epoch")]
    m["streaming.epoch_first_s"] = (epochs[0] if epochs else 0.0, "s")
    m["streaming.epoch_last_s"] = (epochs[-1] if epochs else 0.0, "s")
    m["streaming.epoch_p50_s"] = (median(epochs) if epochs else 0.0, "s")
    m["streaming.jobs_per_epoch"] = (median(
        [s["jobs"] for s in tr.by_name("streaming.epoch")]) if epochs else 0, "count")
    m["streaming.compact_jobs"] = (total("streaming.compact", "jobs"), "count")
    m["streaming.state_mb"] = (counts.get("state_bytes", 0) / 2**20, "MB")
    m["streaming.pair_recall"] = (counts.get("stream_recall", 0.0), "frac")

    m["trace.wall_s"] = (traced_wall, "s")
    m["trace.overhead_s"] = (traced_wall - untraced if root else 0.0, "s")
    m["trace.unexplained_frac"] = (
        root["self_s"] / (root["end"] - root["start"]) if root else 0.0, "frac")
    m["trace.jobs"] = (root["jobs"] if root else 0, "count")
    m["trace.tasks"] = (root["tasks"] if root else 0, "count")
    m["trace.failed_tasks"] = (sum(
        s["failed_tasks"] or 0 for s in tr.spans if s["parent"] is None), "count")

    out_dir = os.path.join(ROOT, ".bench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "untraced_median_s": untraced, "spans": tr.spans,
                   "iteration_jobs": bench.iter_jobs, "counts": counts}, fh, indent=1)
    return m


if __name__ == "__main__":
    sys.exit(main())
