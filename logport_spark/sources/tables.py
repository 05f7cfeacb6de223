"""Relational/test-data table readers + the lookup tables.

The lookup tables (routes, domain_tld, lang_locale) are the engine's
watches/settings analog (reference src/Database.cc:65-84): tiny, built in
the driver from rows it already holds (no file read), and read by
enrichment and routing as map literals in the plan (no join)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# name → DataFrame for the lookup/config tables
from ..operators.enrich import load_lookups as read_lookups  # noqa: F401

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver-testdata table at a scale-factor dir."""
    if name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {name!r}; one of {TESTDATA_TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
