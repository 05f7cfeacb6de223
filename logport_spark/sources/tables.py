"""Relational/test-data table readers + the broadcast lookup tables.

The lookup tables (routes, domain_tld, lang_locale) are the engine's
watches/settings analog (reference src/Database.cc:65-84): tiny, built in
the driver from rows it already holds (no file read), broadcast to every
executor by the enrichment joins."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver-testdata table at a scale-factor dir."""
    if name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {name!r}; one of {TESTDATA_TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_lookups(spark: SparkSession) -> dict[str, DataFrame]:
    """name → DataFrame for the broadcast lookup/config tables."""
    from ..operators.enrich import load_lookups

    return load_lookups(spark)
