"""Iceberg sink — the north_rule's table format, capability-gated.

BASELINE.json routes records to per-sink ICEBERG tables; this container has
no Iceberg runtime, so the shipped pipeline writes parquet directories with
dynamic partition overwrite + the ledger-last protocol (plans/ledger.py) —
semantically the same idempotent-replace contract. This module wires the
real thing behind the same probe pattern as the Kafka sink
(streaming/stream.kafka_sink_available) and the media decoders
(operators/multimodal._pil_available): on a cluster with
`org.apache.iceberg.spark.SparkCatalog` on the classpath and a catalog
configured, the functions below run with ZERO edits; here they raise with
the stand-in documented.

Mapping (parquet stand-in → Iceberg):
  - `_write_sinks` dynamic overwrite of (bucket, sink) dirs
        → `df.writeTo(tbl).overwritePartitions()` (REPLACE PARTITION —
          Iceberg's snapshot-isolated form of the same idempotent replay)
  - ledger-last commit ordering
        → still required: Iceberg commits are atomic per-table, and the
          ledger spans tables; write sinks, then commit the ledger row
  - per-sink directory partitioning
        → `PARTITIONED BY (bucket, sink)` in the table DDL below
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .ledger import SINK_SCHEMA, sink_rows

SINK_TABLE_DDL = ("CREATE TABLE IF NOT EXISTS {table} (" + SINK_SCHEMA
                  + ") USING iceberg PARTITIONED BY (bucket, sink)")


def iceberg_available(spark: SparkSession) -> bool:
    """Capability probe: the Iceberg Spark runtime on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_routed_iceberg(routed: DataFrame, table: str) -> None:
    """The fan-out write against a real Iceberg table: the same rows and
    bucket repartition as the parquet write (ledger.sink_rows), then
    overwritePartitions — a replayed run REPLACES its (bucket, sink)
    partitions snapshot-atomically instead of appending duplicates, the
    exact contract the parquet stand-in implements with dynamic overwrite."""
    spark = routed.sparkSession
    if not iceberg_available(spark):
        raise NotImplementedError(
            "Iceberg runtime not on the classpath — use "
            "plans.ledger.run_with_ledger (parquet stand-in)")
    sink_rows(routed).writeTo(table).overwritePartitions()  # pragma: no cover
