"""The repository benchmark: one command, one closed-loop client per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Each run starts a ``local[<cores>]`` session, loads the benchmark index (a
fixed Zipfian corpus, indexed once per checkout), reads it back in full,
draws a query pool from the seed, then drives one workload for
``--seconds`` from a single client that sends its next call only after the
last one returned. Every call is checked against an exact oracle computed
untimed. The last line of stdout is the result; the line before it carries
the details (sample counts, set-up phases, host health probes).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` builds the
index afresh, enables the Spark status REST API, traces every other call and
reports the per-layer metrics; spans are written to ``.perfbench/spans/`` at
exit. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# as a script, sys.path[0] is this directory; import everything from the
# repository root instead (the engine, bench.py and this package)
sys.path[0] = ROOT

WORKLOADS = ("serve", "search")
# full read-backs of the index: one (a check) in every run; the traced run
# adds warm ones for the decode rate, reported as their median
TRACED_SCANS = 4
SETUPS = 3       # repetitions of the load (and pin) step (median reported)
# calls before timing starts: they fill the workers' decode caches and let
# the JVM compile the query path (search calls settle after about six)
WARM_CALLS = 8

END_TO_END = {
    "setup_s": "s", "qps": "1/s", "p50_ms": "ms",
    "success_rate": "fraction", "peak_rss_mb": "MB",
    "docs_bpi": "bits", "freqs_bpi": "bits",
}
PER_LAYER = {
    "driver.plan_ms": "ms", "driver.collect_ms": "ms",
    "spark.job_ms": "ms", "spark.jobs": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.scheduler_delay_ms": "ms",
    "spark.task_deser_ms": "ms", "spark.result_ser_ms": "ms",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.input_bytes": "B",
    "queries.cursor_ms_per_query": "ms",
    "queries.kernel_ms_per_query": "ms", "queries.postings_per_query": "count",
    "queries.exhaustive_ms_per_query": "ms", "queries.bmw_speedup": "x",
    "codec.decode_ints_per_s": "1/s", "codec.encode_ints_per_s": "1/s",
    "codec.scan_postings_per_s": "1/s",
    "index.corpus_s": "s", "index.dicts_s": "s", "index.encode_s": "s",
    "index.encode_bucket_max_s": "s",
    "trace.layer_coverage": "fraction", "trace.overhead_ms": "ms",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A sixteenth of the host's memory, within [1, 4] GiB: the engine's
    default driver heap is sized for a far larger machine."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(4096, total_kb // 1024 // 16))


def start_session(cores: int, trace: bool, tmp: str):
    from dint_spark.session import get_spark

    # keep every scratch file of the JVM, Spark and Python inside the run
    # directory, which is removed at exit
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.ui.retainedTasks": "1000000"})
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=max(32, cores), extra_conf=conf)


def stop_session(spark, pids) -> None:
    """Stop Spark, end the gateway JVM and wait for every process the
    session started (the JVM and its Python workers)."""
    from pyspark import SparkContext

    from perfbench.measure import wait_gone

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    gateway.close()
    SparkContext._gateway = SparkContext._jvm = None
    killed = wait_gone(pids)
    if killed:
        print(f"perfbench: killed lingering processes {killed}",
              file=sys.stderr)


def codec_rates(index) -> tuple[float, float, bool]:
    """Single-core decode and encode ints/s over every segment row, and
    whether re-encoding reproduced every stored payload byte for byte."""
    from dint_spark.dint.codec import decode_list_bulk, encode_lists_batch

    pdf = index.segments.select("n", "block_maxs", "endpoints",
                                "freq_offsets", "payload").toPandas()
    rows = [(bytes(r.payload), int(r.n), np.asarray(r.block_maxs, np.int64),
             np.asarray(r.endpoints, np.int64),
             np.asarray(r.freq_offsets, np.int64)) for r in pdf.itertuples()]
    ints = 2 * sum(r[1] for r in rows)
    t0 = time.perf_counter()
    decoded = [decode_list_bulk(*r, index.docs_dict, index.freqs_dict)
               for r in rows]
    dec_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    encoded = encode_lists_batch([d for d, _ in decoded],
                                 [f for _, f in decoded],
                                 index.docs_dict, index.freqs_dict)
    enc_s = time.perf_counter() - t0
    same = all(e[0] == r[0] for e, r in zip(encoded, rows))
    return ints / dec_s, ints / enc_s, same


def index_walls(index) -> dict:
    """Phase walls that build_index records in manifest.json."""
    m = index.manifest
    corpus = m["steps"]["corpus"]["wall_s"]
    dicts = m["steps"]["dicts"]["wall_s"]
    return {
        "index.corpus_s": corpus,
        "index.dicts_s": dicts,
        "index.encode_s": m["steps"]["meta"]["total_wall_s"] - corpus - dicts,
        "index.encode_bucket_max_s": max(
            b["wall_s"] for b in m["buckets"].values()),
    }


class Run:
    """One benchmark run: set-up, the closed loop, and its accounting."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = host_cores()
        self.calls: list[dict] = []      # every call: wall_s, ok, queries
        self.checks: dict[str, bool] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "cores": self.cores}
        self.traced: list[dict] = []     # per-layer records of traced calls

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from dint_spark.index import load_index
        from dint_spark.queries import BroadcastQueryServer
        from perfbench import workload as wl

        args, phases = self.args, {}
        t = time.perf_counter()
        self.spark = start_session(self.cores, bool(args.trace),
                                   os.path.join(self.work, "tmp"))
        phases["session_s"] = time.perf_counter() - t
        if args.trace:
            # the traced run times a fresh build for the index-layer metrics
            index_dir = os.path.join(self.work, "index")
            t = time.perf_counter()
            self.tally = wl.build_corpus_index(self.spark, index_dir)
            self.detail["build_s"] = time.perf_counter() - t
        else:
            index_dir, self.tally, built_s = wl.fixture_index(
                self.spark, os.path.join(ROOT, ".perfbench"), self.work)
            self.detail["fixture_build_s"] = built_s

        # the repeatable part of set-up, several times: load (and pin)
        loads = []
        self.server = None
        for _ in range(SETUPS):
            if self.server is not None:
                self.server.close()
            t = time.perf_counter()
            self.index = load_index(self.spark, index_dir)
            if args.workload == "serve":
                self.server = BroadcastQueryServer(self.spark, self.index)
            loads.append(time.perf_counter() - t)
        self.detail["load_s"] = loads
        phases["load_s"] = statistics.median(loads)
        self.phases = phases

        # untimed: the query pool and its oracle
        vocab = self.index.vocab().select("term_id", "df").toPandas()
        self.pool = wl.query_pool(vocab, args.seed)
        self.segs = wl.segment_rows(
            self.index, {t for q in self.pool for t in q})
        self.oracle = wl.ExactOracle(self.index, self.segs, self.pool)

    def scan(self, times: int) -> list[float]:
        """Full read-backs of the index, each checked against the tally."""
        from pyspark.sql import functions as F

        from dint_spark.queries import decoded_postings
        from perfbench import workload as wl

        walls = []
        for i in range(times):
            t = time.perf_counter()
            r = decoded_postings(self.index).agg(
                F.count(F.lit(1)).alias("p"), F.sum("freq").alias("f")
            ).collect()[0]
            walls.append(time.perf_counter() - t)
            self.postings = int(r["p"])
            self.checks[f"readback_{i}"] = wl.check_readback(
                self.tally, self.index.num_docs, self.postings, int(r["f"]))
        return walls

    # -- the closed loop ---------------------------------------------------
    def plan(self, queries):
        from dint_spark.queries import run_queries
        from perfbench.workload import TOPK

        if self.server is not None:
            return self.server.serve(queries, algo="block_max_wand_vec",
                                     k=TOPK)
        return run_queries(self.spark, self.index, queries,
                           algo="block_max_wand_vec", k=TOPK)

    def call(self, i: int, status=None, spans=None) -> dict:
        from perfbench import tracing
        from perfbench.workload import call_batch, check_topk

        batch = call_batch(self.args.workload, self.args.seed, i)
        queries = [self.pool[p] for p in batch]
        sc = self.spark.sparkContext
        group = f"call-{i}"
        if status is not None:
            sc.setJobGroup(group, group)
        rec = {"queries": len(queries), "ok": False, "wall_s": None}
        try:
            t0 = time.perf_counter()
            df = self.plan(queries)
            t1 = time.perf_counter()
            result = df.toPandas()
            t2 = time.perf_counter()
            rec["wall_s"] = t2 - t0
            rec["ok"] = check_topk(result, self.oracle, batch)
        except Exception:  # a failed call is counted, and the loop goes on
            traceback.print_exc()
            return rec
        finally:
            if status is not None:
                sc._jsc.clearJobGroup()
        if status is not None:
            wall, plan = (t2 - t0) * 1e3, (t1 - t0) * 1e3
            root = spans.add(group, "call", spans.epoch_ms(t0),
                             spans.epoch_ms(t2), queries=len(queries))
            spans.add(group, "driver.plan", spans.epoch_ms(t0),
                      spans.epoch_ms(t1), root)
            cspan = spans.add(group, "driver.collect", spans.epoch_ms(t1),
                              spans.epoch_ms(t2), root)
            m, jobs = status.call(group, spans, cspan)
            lo, mid, hi = (spans.epoch_ms(t) for t in (t0, t1, t2))
            m["spark.job_ms"] = tracing.union_ms(
                (max(s, lo), min(e, hi)) for s, e in jobs)
            in_collect = tracing.union_ms(
                (max(s, mid), min(e, hi)) for s, e in jobs)
            m["driver.plan_ms"] = plan
            m["driver.collect_ms"] = (t2 - t1) * 1e3 - in_collect
            m["trace.layer_coverage"] = tracing.layer_coverage(
                wall, plan, m["spark.job_ms"])
            self.traced.append(m)
            rec["traced"] = True
        return rec

    def loop(self, seconds: float, status=None, spans=None) -> None:
        warm = [self.call(i) for i in range(WARM_CALLS)]
        # the calls' own walls: their checks (and the lazy oracle) are not
        # set-up work
        self.phases["warm_calls_s"] = sum(c["wall_s"] or 0.0 for c in warm)
        self.calls.extend(warm)
        self.timed: list[dict] = []
        i = WARM_CALLS
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            # in the traced run every other call is traced, so the untraced
            # calls between them measure the tracing overhead in-process
            traced = status is not None and i % 2 == 0
            self.timed.append(self.call(i, status if traced else None, spans))
            i += 1
        self.calls.extend(self.timed)

    # -- results -------------------------------------------------------------
    def end_to_end(self, peak_rss: int) -> dict:
        from perfbench.measure import timing_summary

        walls = [c["wall_s"] for c in self.timed if c["wall_s"] is not None]
        tim = timing_summary(walls) if walls else {
            "samples": 0, "p50_ms": float("nan")}
        self.detail["timing"] = tim
        self.detail["walls_ms"] = [round(w * 1e3, 1) for w in walls]
        done = sum(c["queries"] for c in self.timed if c["ok"])
        m = self.index.metrics()
        return {
            "setup_s": sum(self.phases.values()),
            "qps": done / sum(walls) if walls else 0.0,
            "p50_ms": tim["p50_ms"],
            "success_rate": 1.0 - self.failed() / self.attempted(),
            "peak_rss_mb": peak_rss / 2**20,
            "docs_bpi": m["docs_bpi"],
            "freqs_bpi": m["freqs_bpi"],
        }

    def per_layer(self, scans: list[float]) -> dict:
        from perfbench import tracing
        from perfbench import workload as wl

        out = tracing.medians(self.traced)
        traced = [c["wall_s"] for c in self.timed
                  if c.get("traced") and c["wall_s"] is not None]
        plain = [c["wall_s"] for c in self.timed
                 if not c.get("traced") and c["wall_s"] is not None]
        out["trace.overhead_ms"] = (
            (statistics.median(traced) - statistics.median(plain)) * 1e3
            if traced and plain else float("nan"))
        self.detail["traced_calls"] = len(self.traced)
        self.detail["coverage_ok"] = all(
            tracing.coverage_ok(r["trace.layer_coverage"])
            for r in self.traced)

        out.update(wl.replay(self.index, self.segs, self.pool,
                             self.oracle.answered()[:wl.REPLAY]))

        dec, enc, same = codec_rates(self.index)
        self.checks["codec_roundtrip"] = same
        out["codec.decode_ints_per_s"] = dec
        out["codec.encode_ints_per_s"] = enc
        # the first read-back is cold (plan compile, worker imports)
        out["codec.scan_postings_per_s"] = (
            self.postings / statistics.median(scans[1:]))
        out.update(index_walls(self.index))
        return out

    def attempted(self) -> int:
        return len(self.calls) + len(self.checks)

    def failed(self) -> int:
        return (sum(not c["ok"] for c in self.calls)
                + sum(not ok for ok in self.checks.values()))


def execute(args, work: str) -> tuple[dict, dict]:
    from bench import host_health_probe
    from perfbench import tracing
    from perfbench.measure import peak_rss, process_tree

    run = Run(args, work)
    run.detail["health_start"] = host_health_probe()
    spans = tracing.SpanLog() if args.trace else None
    try:
        run.setup()
        scans = run.scan(TRACED_SCANS if args.trace else 1)
        status = (tracing.SparkStatus(run.spark.sparkContext)
                  if args.trace else None)
        run.loop(args.seconds, status, spans)
        if args.trace:  # the layer replays read the index through Spark
            values, units = run.per_layer(scans), PER_LAYER
    finally:
        if hasattr(run, "spark"):
            # the driver, the JVM and its Python workers, before they stop
            pids = process_tree(os.getpid())
            rss, run.detail["peak_rss_parts"] = peak_rss(pids)
            stop_session(run.spark, pids[1:])
    if not args.trace:
        values, units = run.end_to_end(rss), END_TO_END
    run.detail["health_end"] = host_health_probe()
    run.detail["setup_phases_s"] = run.phases
    run.detail["scan_s"] = scans
    run.detail["checks"] = run.checks
    run.detail["oracle_s"] = run.oracle.seconds
    if spans is not None:
        path = os.path.join(ROOT, ".perfbench", "spans",
                            f"{args.workload}-seed{args.seed}.json")
        spans.write(path)
        run.detail["spans"] = os.path.relpath(path, ROOT)
    result = {
        "correct": run.failed() == 0,
        "attempted": run.attempted(),
        "failed": run.failed(),
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }
    return result, run.detail


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import bench  # noqa: F401  (the repository's bench.py)
        import dint_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        result, detail = execute(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
