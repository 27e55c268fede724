#!/usr/bin/env python3
"""Benchmark of spark_data_test_spark: one command per workload and seed.

    python3 perfbench/run.py --workload compare_job --seed 1 --seconds 12 --trace 0

Run from the repository root. One run starts one Spark session at
``local[nproc]``, generates and stages the workload's inputs from the
seed, then repeats the workload as a closed loop with a single caller
until ``--seconds`` have passed; the metrics are medians over the
repetitions. Every repetition's outputs are checked against the
generator's ground truth.

There is no warm-up repetition. The first repetition in a fresh
session is what a batch job pays on every run, and it is the steadier
number here: in one session, repetitions of ``corpus_curation`` took
25.0, 13.5, 11.3, 10.1 and 9.6 s, so a run would need five or more
warm-up repetitions to reach steady state. With ``run_seconds`` of 1,
each run measures exactly that first repetition.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
BENCHMARK.json; with ``--trace 1`` Spark's event log is on, every call
runs under its own job group, and the metrics are the ``per_layer``
list. The full record (context, spans, every metric) is written to
``.perfbench_runs/<workload>-s<seed>-t<trace>/result.json``.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

T_START = time.time()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PACKAGE = "spark_data_test_spark"
N_STAGINGS = 3

# Which spans make up each workload's headline phase ("main"), its
# incremental-write phase ("ingest") and its index build ("build").
PHASES = {
    "compare_job": {"main": None},  # None: every call of the round
    "corpus_curation": {
        "main": ("text.language_id", "text.quality_score", "dedup.dedup_corpus"),
        "ingest": ("dedup.minhash_index_probe",),
    },
    "vector_index": {
        "main": ("similarity.ivf_index_probe",),
        "ingest": ("similarity.ivf_index_ingest",),
        "build": ("similarity.ivf_index_build",),
    },
}
DETAIL = {  # per-layer names of the workloads' phase rates
    "compare_job": {"main": "compare.rows_per_s"},
    "corpus_curation": {"main": "curation.docs_per_s", "ingest": "curation.ingest_docs_per_s"},
    "vector_index": {"main": "vector.probe_qps", "ingest": "vector.ingest_rows_per_s"},
}


# ------------------------------------------------------------ processes

def _children_map():
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid):
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid):
    """Proportional set size: resident pages, shared ones divided among
    the processes sharing them. Summing plain RSS would count a forked
    child's pages twice (a JVM child between fork and exec read as a
    second 1.3 GB JVM)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory (PSS) of this process plus every descendant
    (the driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, period=0.2):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in [me, *descendants(me)]))
            self._halt.wait(self.period)

    def stop(self):
        self._halt.set()
        self.join()


def _alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    # a zombie child still answers kill(0); treat it as ended
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ", 1)[1][0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout=60.0):
    """Stop the session, end the gateway JVM, and wait until every
    process the session started has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + timeout
        while any(_alive(p) for p in started) and time.time() < deadline:
            time.sleep(0.1)
        for p in started:
            if _alive(p):
                os.kill(p, signal.SIGKILL)


# ------------------------------------------------------------ session

def nproc():
    return len(os.sched_getaffinity(0))


def start_spark(run_dir, trace):
    from pyspark.sql import SparkSession

    n = nproc()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.driver.memory", "2g")
        # the throughput collector keeps the heap's footprint, and so
        # peak_rss_mb, steady from run to run (G1 varied by +-17%)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # staged inputs are single small files: split them so scans
        # use every core (as bench.py does for the sf0.1 tables)
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "256k")
    )
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{log_dir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def context(spark, seed):
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from cpu_calib import measure

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    import pyspark

    return {
        "seed": seed,
        "git_commit": commit,
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        # scripts/cpu_calib.py's loop at 1/10 of its length, scaled up
        "cpu_calib_20m_mix_sec": round(10 * measure(n_iter=2_000_000, passes=1), 3),
    }


# ------------------------------------------------------------ metrics

def _span_sum(spans, names):
    return sum(s["end"] - s["start"] for s in spans if names is None or s["name"] in names)


def summarize(workload, rounds):
    """Per-round medians over the measured rounds. ``rounds`` is a list
    of (call spans, items) per round."""
    phases = PHASES[workload]
    out = {"round_s": statistics.median(_span_sum(sp, None) for sp, _ in rounds)}
    for phase, names in phases.items():
        t = [_span_sum(sp, names) for sp, _ in rounds]
        out[f"{phase}_s"] = statistics.median(t)
        if phase in ("main", "ingest"):
            out[f"{phase}_per_s"] = statistics.median(items[phase] / x for (sp, items), x in zip(rounds, t))
    calls = {}
    for sp, _ in rounds:
        for name in {s["name"] for s in sp}:
            calls.setdefault(name, []).append(_span_sum(sp, (name,)))
    out["calls"] = {f"{k}_s": statistics.median(v) for k, v in calls.items()}
    return out


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ main

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="input size; tiny is for tests")
    p.add_argument("--corrupt", action="store_true", help="corrupt one output before checking (tests the checks)")
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = load_spec()
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import the package by name, so they need the root
    # on their path whatever directory the run starts from
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    # keep every scratch file of the run inside its directory
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    tempfile.tempdir = None

    from spans import Tracer, layer_metrics, parse_event_log, self_times

    sampler = RssSampler()
    sampler.start()
    spark = start_spark(run_dir, args.trace)
    failures = {"attempted": 0, "failed": 0}
    try:
        session_s = time.time() - T_START
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, args.size)
        stage_s = []
        for _ in range(N_STAGINGS):
            shutil.rmtree(wl.data_dir, ignore_errors=True)
            t0 = time.time()
            wl.stage()
            stage_s.append(time.time() - t0)
        tracer = Tracer(spark.sparkContext if args.trace else None)

        def one_round(n):
            first = len(tracer.spans)
            failed = set()
            try:
                with tracer.span("round", index=n):
                    items = wl.round(tracer, n)
                if args.corrupt:
                    wl.corrupt(n)
                failed = wl.check(n)
            except Exception as exc:  # a raising call fails the op it was in
                traceback.print_exc(file=sys.stderr)
                failed = {"<exception>"}
                items = None
                print(f"perfbench: round {n} raised {exc!r}", file=sys.stderr)
            calls = [s for s in tracer.spans[first:] if s["name"] != "round"]
            failures["attempted"] += len(calls)
            failures["failed"] += len(failed)
            return calls, items

        setup_s = session_s + statistics.median(stage_s)
        rounds, t_loop = [], time.time()
        n = 0
        while n == 0 or time.time() - t_loop < args.seconds:
            calls, items = one_round(n)
            if items is not None:
                rounds.append((calls, items))
            n += 1
        loop_s = time.time() - t_loop
        ctx = context(spark, args.seed)
    finally:
        stop_spark(spark)
        sampler.stop()

    record = {
        "workload": args.workload,
        "trace": args.trace,
        "context": ctx,
        "rounds": len(rounds),
        "loop_s": loop_s,
        "session_s": session_s,
        "stage_s": stage_s,
        **failures,
        "failed_frac": failures["failed"] / max(1, failures["attempted"]),
    }
    metrics = {"setup_s": setup_s, "peak_rss_mb": sampler.peak / 1e6}
    if rounds:
        summ = summarize(args.workload, rounds)
        metrics.update(round_s=summ["round_s"], throughput=summ["main_per_s"], recall=wl.recall)
        detail = {DETAIL[args.workload][k]: summ[f"{k}_per_s"] for k in DETAIL[args.workload]}
        if args.workload == "vector_index":
            detail["vector.build_s"] = summ["build_s"]
            detail["vector.recall_at_10"] = wl.recall
        layer = {**detail, **summ["calls"], **wl.counts}
        if args.trace:
            layer["trace.round_s"] = summ["round_s"]
            log_dir = os.path.join(run_dir, "eventlog")
            logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
            jobs, stages = parse_event_log(max(logs, key=os.path.getmtime))
            measured = [s for calls, _ in rounds for s in calls]
            for mod, vals in layer_metrics(measured, jobs, stages).items():
                for k, v in vals.items():
                    layer[f"{mod}.{k}"] = v / len(rounds)
            untraced = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-t0", "result.json")
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    base = json.load(fh)["metrics"]
                record["trace_overhead_frac"] = {
                    k: metrics[k] / base[k] - 1 for k in metrics if base.get(k)
                }
            record["span_self_s"] = self_times(tracer.spans)
        record["per_layer"] = layer
        tracer.dump(os.path.join(run_dir, "spans.json"))
    record["metrics"] = metrics

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = record.get("per_layer", {}) if args.trace else metrics
    printed = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in want}
    correct = bool(rounds) and failures["failed"] == 0
    result = {"correct": correct, "attempted": max(1, failures["attempted"]), "failed": failures["failed"], "metrics": printed}
    record["result"] = result
    for sub in ("data", "out", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"context": ctx, "rounds": len(rounds), "trace_overhead_frac": record.get("trace_overhead_frac")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
