"""Routing: map-literal route resolution, dead-letter split, sink compaction.

- R1 route resolution (file→topic, src/LogPort.cc:639-643 +
  src/Database.cc:65-77): one probe of the routes map literal on route_key
  → sink + envelope constants (hostname/prd/log_type).
- R2 partitioning (src/KafkaProducer.cc:389-397 uses rdkafka's keyless
  round-robin): records land in per-sink table partitions; a hot domain
  would funnel one partition through one task, so the fan-out write
  (plans/ledger._write_sinks) repartitions by the crc32 url bucket, which
  spreads each sink across every bucket.
- R3 multi-target fan-out (src/HttpProducer.cc:196-224): one physical write
  partitioned BY (bucket, sink) — each sink table is a partition directory.
- K2 dead-letter (src/KafkaProducer.cc:83-126): parse failures are routed to
  the quarantine table alongside the sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .enrich import lookup_map


def resolve_route(df: DataFrame, routes: DataFrame) -> DataFrame:
    """R1: attach sink + envelope constants from the routes map literal."""
    r = lookup_map(routes, "route_key")
    return df.withColumns({"sink": r.sink, "route_hostname": r.hostname,
                           "route_prd": r.product_code,
                           "route_log_type": r.log_type})


ROUTED_COLS = [
    "url",
    "line_no",
    "record",
    "domain",
    "tld",
    "category",
    "locale",
    "lang",
    "warc_ts",
    "record_bytes",
    "is_obj",
    "parse_fail",
    "sink",
]


def quarantine(df: DataFrame) -> DataFrame:
    """Dead-letter channel: lines that hit the parse-failure branch.

    Keeps (url, warc_ts, lang) so the rows can re-enter the parse path on
    replay (ledger.replay_quarantine), mirroring the reference's undelivered
    file whose lines are re-produced through the same envelope path."""
    return df.filter(F.col("parse_fail")).select(
        "url", "warc_ts", "lang", "line_no",
        F.col("line").alias("raw"),
        F.lit("json_parse_failure").alias("reason"),
    )


def compact_sinks(spark, out_dir: str,
                  target_file_bytes: int = 128 << 20) -> dict[str, tuple[int, int]]:
    """OPTIMIZE-style small-file compaction for the routed sink table —
    the maintenance job a 10^12-row fan-out needs: bucketed writes
    deliberately spread each sink across many tasks (skew defense), so a
    long-running pipeline accretes small files per sink until scans go
    metadata-bound. Per sink partition: if the file count
    exceeds ceil(bytes / target_file_bytes), rewrite JUST that partition
    at the target count via dynamic partition overwrite (the same
    atomic, exactly-once-preserving primitive the ledger and streaming
    state rely on — readers see the old or the new file set, never a
    mix, and row content is untouched; pytest pins count + value-hash
    equality across compaction).

    Handles any key=val partition tree — a plain sink= tree, the
    streaming layout (batch_id=/sink=) and the ledger layout
    (bucket=/sink=) alike. The per-leaf loop is
    driver-side but bounded by the partition count (sinks are logport's
    topics — tens; ledger buckets are the resume granularity — tens),
    and the directory listing is the local-parquet stand-in for what
    Iceberg's rewrite_data_files metadata scan does (plans/iceberg.py
    gates the real thing). Returns {partition_path: (files_before,
    files_after)} for the leaves rewritten."""
    from ..plans.ledger import hadoop_fs

    fs, root = hadoop_fs(spark, out_dir)
    base = fs.makeQualified(root).toString()
    leaves: dict[str, list[int]] = {}  # leaf dir -> its parquet file sizes
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            leaves.setdefault(st.getPath().getParent().toString(),
                              []).append(st.getLen())
    done: dict[str, tuple[int, int]] = {}
    for d, sizes in sorted(leaves.items()):
        segs = d[len(base):].strip("/").split("/")
        if not all("=" in seg for seg in segs):
            continue
        spec = [seg.split("=", 1) for seg in segs]
        n_files, nbytes = len(sizes), sum(sizes)
        target = max(1, -(-nbytes // target_file_bytes))
        if n_files <= target:
            continue
        part = spark.read.parquet(d).repartition(target)
        for k, v in spec:
            part = part.withColumn(k, F.lit(v))
        (part.write.mode("overwrite")
         .partitionBy(*[k for k, _ in spec]).parquet(out_dir))
        done["/".join(f"{k}={v}" for k, v in spec)] = (n_files, target)
    return done
