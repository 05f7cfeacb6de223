from __future__ import annotations

import os
import sys

import pytest

# The checkout this file lives in, so tests import its `logport_spark`,
# `__spark_entry__`, `bench` and `tools` whatever the working directory.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from logport_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("logport_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages_small(spark):
    """Deterministic 200-doc pages DataFrame (in-memory, no files)."""
    import pandas as pd

    from logport_spark.datagen import PAGES_DDL, gen_docs

    pdf = pd.DataFrame(gen_docs(range(200)))
    return spark.createDataFrame(pdf, schema=PAGES_DDL)


@pytest.fixture(scope="session")
def oracle_small():
    from logport_spark.datagen import gen_docs
    from logport_spark.oracle import run_oracle

    return run_oracle(gen_docs(range(200)))
