"""SparkSession factory tuned for the pipeline.

Local-mode testing stands in for a multi-executor cluster; every knob here is
chosen to survive a 1000-executor / 100 TB deployment:

- AQE on (runtime partition coalescing + skew-join splitting),
- Arrow on (the parse hot path is pandas-UDF-vectorized, never per-row),
- shuffle partitions sized to cores locally (on a real cluster this is
  overridden to ~2-3x total cores; AQE coalesces the tail),
- UTC session timezone (deterministic `@timestamp` derivation from warc_ts),
- dynamic partition overwrite (idempotent per-bucket sink rewrites — the
  exactly-once half of the ledger protocol, see plans/ledger.py),
- Python workers forked from `logport_spark.worker_daemon`
  (`spark.python.daemon.module`): `pyspark.daemon` with a guard that stops
  every task re-reading pyspark.zip and the spark-core jar on CPython 3.11.
  On a 4-core VM (Spark 4.1.2, CPython 3.11.7, 50 trivial 4-task jobs)
  that cut a Python task's worker CPU from 82-84 ms to 6-7 ms, and the
  daemon's and four workers' start from 0.88 to 0.56 CPU-s,
- the checkout root on the workers' PYTHONPATH (`spark.executorEnv`),
  merged before any value the caller passes, so the workers import the
  driver's own package (and the daemon) from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory `logport_spark` is imported from: the checkout, or the
# --py-files zip
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# a third of physical memory, at least 2g: a heap past the box's RAM lets
# the JVM grow until the kernel kills it; the rest is for Python workers
DEFAULT_DRIVER_MEM = "{}g".format(max(2, os.sysconf("SC_PHYS_PAGES")
                                      * os.sysconf("SC_PAGE_SIZE")
                                      // 3 // 2**30))


def get_spark(
    app_name: str = "logport_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM",
                                                     DEFAULT_DRIVER_MEM))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "logport_spark.worker_daemon")
    )
    extra_conf = dict(extra_conf or {})
    given = extra_conf.get("spark.executorEnv.PYTHONPATH")
    extra_conf["spark.executorEnv.PYTHONPATH"] = (
        ROOT + os.pathsep + given if given else ROOT)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_min_parallelism(df):
    """Small-file guard for CPU-heavy operators (dedup/minhash/fingerprint).

    A scan of one small parquet file yields ONE input partition, serializing
    every narrow map stage behind it onto a single core. Repartition up to
    the session's default parallelism only when the scan is under-partitioned
    — with production inputs (many files / 100 TB) the condition is false and
    no extra shuffle enters the plan.

    Deliberately NOT input-size-capped, unlike the streaming twin
    (streaming/dedup_stream.ensure_parallelism): this guard wraps one-shot
    scans whose per-byte compute is enormous (the 580 KB sf0.1 documents
    table feeds seconds of shingling/minhash on 32 cores), so bytes are
    the wrong proxy for work — widening to the cores is correct. The
    streaming widen runs once per micro-batch forever and over-widening
    there mints near-empty tasks on every trigger, hence its cap."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
