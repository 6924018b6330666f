"""SparkSession factory with scale-appropriate defaults.

Local tests run on local[N]; the same configs are what we would submit with
spark-submit --py-files on a real cluster (AQE, Arrow, sensible shuffle
parallelism).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Python workers talk to their JVM over Unix domain sockets on masters
# whose executors all share the driver's host (worker_transport_conf).
# A socket path is capped at 107 bytes, and Spark names its sockets
# "<dir>/.<uuid4>.sock" (43 bytes past the directory), so the directory
# sits under this short fixed base rather than under TMPDIR or
# java.io.tmpdir, whose length is the caller's.
SOCKET_BASE = "/tmp"


def make_socket_dir() -> str:
    """A new private (mode 0700) directory for worker sockets under
    SOCKET_BASE, removed at interpreter exit. A Unix socket carries no
    secret, unlike Spark's TCP worker transport, so the directory's
    permissions are what keep other users' processes off it."""
    path = tempfile.mkdtemp(prefix="dint-", dir=SOCKET_BASE)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@functools.cache
def _worker_socket_dir() -> str:
    """The process's one socket directory, made on first use."""
    return make_socket_dir()


def worker_transport_conf(master: str) -> dict:
    """Python workers on Unix domain sockets where every executor shares
    the driver's host: local and local-cluster masters. Over loopback TCP
    a task stalled ~33 ms (of 53 ms in pyspark's worker main, profiled in
    the daemon on a 4-core host) in pyarrow.ipc.open_stream, waiting for
    the input batch's schema: the Nagle/delayed-ACK pattern. Over a Unix
    socket that wait is 0.5 ms, and an empty 1-task mapInPandas job takes
    ~80 ms instead of ~110. Other masters keep Spark's authenticated TCP
    ({}): a directory made on the driver does not exist on another host."""
    if master == "local" or master.startswith(("local[", "local-cluster[")):
        return {"spark.python.unix.domain.socket.enabled": "true",
                "spark.python.unix.domain.socket.dir": _worker_socket_dir()}
    return {}


def get_spark(
    app_name: str = "dint_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to local[$SPARK_GRAFT_CPUS or *]. On a real cluster the
    master comes from spark-submit and this argument is left None.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
        except ValueError:
            n = 0
        shuffle_partitions = max(32, n)

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: the driver JVM IS the executor; the 1g default heap
        # thrashes GC at local[32] (measured: local[32] slower than local[8])
        .config("spark.driver.memory", driver_mem)
    )
    if master.startswith("local-cluster["):
        # local-cluster[N,cores,mem] sizes the WORKER, but executors still
        # launch with the spark.executor.memory DEFAULT of 1g (-Xmx1024M) —
        # a 1M-doc build crash-looped executors on heap OOM while each
        # 16 GiB worker sat mostly empty. Claim the worker's allocation,
        # minus headroom for the python UDF workers that live OUTSIDE the
        # JVM heap (they do the numpy encode/kernel work and need real
        # memory of their own).
        try:
            worker_mb = int(master.rstrip("]").split(",")[2])
            builder = builder.config(
                "spark.executor.memory", f"{max(1024, worker_mb * 3 // 4)}m")
        except (IndexError, ValueError):
            pass
    builder = (
        builder
        # AQE: runtime coalescing + skew-join splitting on top of our explicit
        # salting (defence in depth at 100 TB).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # The postings chunk-merge (postings.py merged step) and index merge
        # still use collect_list over pre-assembled array rows;
        # ObjectHashAggregate's default 128-key fallback-to-sort threshold
        # cripples those (measured 3x on the round-1 collect_list build).
        # Memory stays bounded by the partition's own data either way.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                str(1 << 17))
        # Preload numpy/pandas/pyarrow in the worker daemon so forked
        # python workers start warm (see dint_spark/daemon.py: the stock
        # daemon paid ~2s import per worker, a 30-80s storm at local[32])
        # and skip re-reading unchanged zip archives on every task, and
        # keep idle workers alive between JVM-heavy phases.
        .config("spark.python.daemon.module", "dint_spark.daemon")
        # the daemon module must be importable in the spawned worker python
        # regardless of the driver's cwd (on a cluster --py-files covers it)
        .config("spark.executorEnv.PYTHONPATH",
                os.pathsep.join(
                    p for p in [os.path.dirname(os.path.dirname(
                        os.path.abspath(__file__))),
                        os.environ.get("PYTHONPATH", "")] if p))
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.python.factory.idleWorkerMaxPoolSize", "64")
        # Arrow is the transport for every pandas UDF in this engine.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # rows carrying whole posting lists are WIDE: 4096 head-term rows
        # is hundreds of MB in flight per worker; cap batches by BYTES so
        # 32 concurrent pandas workers don't blow memory (measured: the
        # encode stage degraded 6x at local[32] on 100k docs without this)
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 << 20))
        # same row-count-vs-bytes hazard on the parquet scan side: 4096-row
        # columnar batches of head-term posting arrays OOMed a 16 GiB
        # executor; 32 rows bounds the worst-case batch to ~100 MB even
        # with multi-MB head rows, while slim-table scans lose only batch
        # bookkeeping (micro-seconds per 32 rows)
        .config("spark.sql.parquet.columnarReaderBatchSize", "32")
        # Posting-list arrays for head terms are wide; keep task results sane.
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**worker_transport_conf(master),
                 **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
