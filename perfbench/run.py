"""Benchmark entry point.

    python3 perfbench/run.py --workload clean_loop --seed 1 --seconds 1 --trace 0

Run from the repository root. A run sets up (input generation from the
seed, a Spark session on every core, an engine-independent warm-up), then
runs the workload in a closed loop from one client thread, starting runs
while fewer than ``--seconds`` have passed (at least one), and checks every
output against the oracles. Two more set-ups follow, each starting a new
session once the previous one is stopped and the heaps are collected
(untimed), and the median of the three is reported. Each benchmark run is a
fresh JVM, so the first workload run pays the JVM's code compilation for
this workload's plans, as a fresh batch application does.

--trace 0 prints the end-to-end metrics. --trace 1 runs the same loop with
the Spark event log enabled, attributes the logged jobs to the layer spans
and prints the per-layer metrics, then measures the tracing overhead from
three warm runs (untraced, traced, untraced).

The last line of standard output is one JSON object. Everything a run
writes stays under .perfbench_work/ in the working directory and is
removed when it ends.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "step_p50_s": "s",
    "step_p90_s": "s",
    "probe_p50_s": "s",
    "probe_p90_s": "s",
    "ok_share": "ratio",
    "peak_rss_mb": "MB",
    "write_amp": "B/B",
    "ann_recall_at_10": "ratio",
    "dedup_f1": "ratio",
}
SETUPS = 3
# fixed driver heap (-Xms = -Xmx), so peak RSS does not follow heap resizing
DRIVER_MEM = "2g"
MAX_FAILED_RUNS = 2


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (the 'inclusive' method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    h = (len(xs) - 1) * q
    lo = int(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (h - lo)


def rss_reset(pid: int) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def rss_peak_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def collect_garbage() -> None:
    """Collect the Python and JVM heaps, so a collection left over from
    earlier work does not land inside a timed set-up."""
    from pyspark import SparkContext

    gc.collect()
    if SparkContext._jvm is not None:
        SparkContext._jvm.java.lang.System.gc()


def warm_up(spark, path: str) -> None:
    """Engine-independent Spark warm-up: scan, aggregate, join, window and
    a parquet round trip over a small generated table, so the JVM's class
    loading and JIT of the common execution paths happen in set-up."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(50_000).select(
        (F.col("id") % 97).alias("k"),
        (F.col("id") * 7 % 1000).cast("double").alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 31).cast("string")).alias("s"),
    )
    agg = df.groupBy("k").agg(F.sum("v").alias("sv"), F.countDistinct("s").alias("ns"))
    w = Window.partitionBy("k").orderBy(F.desc("v"))
    top = df.withColumn("r", F.row_number().over(w)).filter("r <= 3")
    top.join(agg, "k").write.mode("overwrite").parquet(path)
    spark.read.parquet(path).agg(F.sum("sv"), F.count("*")).collect()


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, work: str) -> None:
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.spark = None

    # -- session -----------------------------------------------------------

    def start_session(self, event_log: str | None = None):
        from etl_hero_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    # -- phases ------------------------------------------------------------

    def setup(self, tracer, i: int, event_log: str | None = None):
        """Inputs, session and warm-up; returns the workload object ready
        for measured runs."""
        from perfbench import gen
        from perfbench.workloads import WORKLOADS

        d = os.path.join(self.work, f"setup{i}")
        inputs = gen.generate(self.workload, self.seed, os.path.join(d, "inputs"))
        spark = self.start_session(event_log)
        wl = WORKLOADS[self.workload](spark, inputs["files"], inputs["truth"], tracer)
        warm_up(spark, os.path.join(d, "warm"))
        return wl

    def loop(self, wl, seconds: float, tag: str) -> tuple[list, list]:
        """Closed loop: start a new workload run while time remains.
        Returns (completed runs, runs that raised)."""
        from perfbench.workloads import RunOut

        outs, failed = [], []
        t_end = time.perf_counter() + seconds
        k = 0
        while time.perf_counter() < t_end or not outs:
            d = os.path.join(self.work, f"{tag}{k}")
            k += 1
            try:
                outs.append(wl.run(d))
            except Exception as e:
                # a run that raises counts as one failed operation
                traceback.print_exc(file=sys.stderr)
                failed.append(RunOut(attempted=1, failed=1, errors=[repr(e)]))
                if len(failed) >= MAX_FAILED_RUNS:
                    raise
            shutil.rmtree(d, ignore_errors=True)
        return outs, failed

    # -- modes -------------------------------------------------------------

    def end_to_end(self) -> tuple[dict, list]:
        from perfbench.spans import Tracer

        tracer = Tracer()
        setups = []

        def timed_setup(i: int):
            if self.spark is not None:
                # the previous session's teardown is not set-up time
                self.spark.stop()
                self.spark = None
                collect_garbage()
            t0 = time.perf_counter()
            wl = self.setup(tracer, i)
            setups.append(time.perf_counter() - t0)
            return wl

        # measure in the first session: a restarted SparkContext in the same
        # JVM runs the next pass much slower (measured 22 s against 14 s on
        # corpus_curate), so the further set-ups come after the loop
        wl = timed_setup(0)
        pids = [os.getpid(), self.jvm_pid()]
        for pid in pids:
            rss_reset(pid)
        outs, crashed = self.loop(wl, self.seconds, "run")
        peak_mb = sum(rss_peak_kb(pid) for pid in pids) / 1024
        for i in range(1, SETUPS):
            timed_setup(i)
        steps = [s for o in outs for s in o.steps]
        probes = [p for o in outs for p in o.probes]
        hits = sum(h for o in outs for h, _ in o.recall)
        wanted = sum(w for o in outs for _, w in o.recall)
        f1 = [f for o in outs for f in o.f1]
        attempted = sum(o.attempted for o in outs + crashed)
        failed = sum(o.failed for o in outs + crashed)
        values = {
            "setup_s": statistics.median(setups),
            "run_s": statistics.median(o.run_s for o in outs),
            "step_p50_s": quantile(steps, 0.5),
            "step_p90_s": quantile(steps, 0.9),
            "probe_p50_s": quantile(probes, 0.5),
            "probe_p90_s": quantile(probes, 0.9),
            "ok_share": 1.0 - failed / attempted if attempted else float("nan"),
            "peak_rss_mb": peak_mb,
            "write_amp": statistics.median(o.bytes_out / o.bytes_in for o in outs),
            # workloads without ANN requests / clustering have nothing to miss
            "ann_recall_at_10": hits / wanted if wanted else 1.0,
            "dedup_f1": statistics.mean(f1) if f1 else 1.0,
        }
        print(
            f"# {self.workload} seed={self.seed}: setups={len(setups)} runs={len(outs)}"
            f" steps={len(steps)} probes={len(probes)} attempted={attempted}"
            f" failed={failed} step_s={[round(s, 2) for s in steps]}"
            f" probe_s={[round(p, 2) for p in probes]}",
            flush=True,
        )
        for o in outs + crashed:
            for e in o.errors:
                print(f"# failed: {e}", file=sys.stderr)
        return values, outs + crashed

    def traced(self) -> tuple[dict, list]:
        """Per-layer metrics of a traced closed loop (first run cold, as in
        the end-to-end mode), then the tracing overhead: a warm traced run
        minus the mean of the warm untraced runs before and after it."""
        from perfbench import spans
        from perfbench.spans import Tracer
        from perfbench.workloads import dir_bytes

        tracer = Tracer()
        log_dir = os.path.join(self.work, "eventlog")
        wl = self.setup(tracer, 0, event_log=log_dir)
        tracer.clear()
        ckpt = os.environ["ETL_HERO_CHECKPOINT_DIR"]
        ckpt0 = dir_bytes(ckpt)
        outs, crashed = self.loop(wl, self.seconds, "traced")
        ckpt_bytes = dir_bytes(ckpt) - ckpt0
        measured = list(tracer.spans)
        self.spark.stop()  # flushes the event log
        self.spark = None
        jobs, stage_submit, tasks = spans.parse_event_log(spans.find_event_log(log_dir))

        # untraced / traced / untraced warm runs, each in a fresh session:
        # the symmetric order cancels the runs' steady JIT warming
        overhead_runs = []
        for i, log in enumerate((None, os.path.join(self.work, "eventlog2"), None)):
            wl_i = self.setup(Tracer(), i + 1, log)
            overhead_runs.append(wl_i.run(os.path.join(self.work, f"overhead{i}")))
        untraced_s = (overhead_runs[0].run_s + overhead_runs[2].run_s) / 2

        n = len(outs)
        values, summary = spans.layer_metrics(measured, jobs, stage_submit, tasks, per=n)
        probe_rows = spans.span_rows_read(
            measured, jobs, stage_submit, tasks,
            lambda s: s.layer == "simsearch" and s.name.startswith("topk"),
        )
        results = sum(s.counts.get("results", 0) for s in measured)
        cands = sum(o.counts.get("candidate_pairs", 0) for o in outs)
        true_pairs = sum(o.counts.get("true_pairs", 0) for o in outs)
        values["checkpoint.bytes_written"] = ckpt_bytes / n
        values["simsearch.rows_scanned_per_result"] = probe_rows / results if results else 0.0
        values["dedup.candidates_per_true_pair"] = cands / true_pairs if true_pairs else 0.0
        values["trace.overhead_s"] = overhead_runs[1].run_s - untraced_s
        print(
            f"# {self.workload} seed={self.seed}: traced runs={n}"
            f" run_s={statistics.median(o.run_s for o in outs):.3f}"
            f" jobs={summary['jobs']} attributed={summary['attributed']}"
            f" orphans={summary['orphans']} spans={len(measured)}"
            f" overhead: untraced={untraced_s:.3f} traced={overhead_runs[1].run_s:.3f}",
            flush=True,
        )
        return values, outs + crashed + overhead_runs


def report(values: dict, units: dict, outs: list) -> dict:
    """The result object printed as the last line of standard output."""
    attempted = sum(o.attempted for o in outs)
    failed = sum(o.failed for o in outs)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import etl_hero_spark.session  # noqa: F401  (the program under test)
        from perfbench import spans
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("ckpt", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["ETL_HERO_CHECKPOINT_DIR"] = os.path.join(work, "ckpt")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the spark-submit launcher too): temp files in the work dir,
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.environ["TMPDIR"]
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    bench = Bench(args.workload, args.seed, args.seconds, work)
    try:
        if args.trace:
            values, outs = bench.traced()
            units = spans.per_layer_names()
        else:
            values, outs = bench.end_to_end()
            units = END_TO_END
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run still uses it

    if not any(o.attempted for o in outs):
        print("perfbench: no operation was checked; fail share undefined", file=sys.stderr)
        return 1
    result = report(values, units, outs)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
