"""Simulate the driver's correctness gate locally.

Runs entry(spark) as a smoke check, then each queries()[name] at sf0.01 and
the matching oracle_sql()[name] via DuckDB, comparing row count, column
names, and an order-insensitive value hash.

Canonicalization deliberately mimics the driver: both sides are
materialized through *pandas* (Spark ``toPandas()``, DuckDB ``.df()``), so
dtype artifacts the driver sees are reproduced here — in particular DuckDB
HUGEINT (unrounded integer ``sum()``) materializing as float64 ("3.0")
while Spark returns int64 ("3"). Cells keep the int-vs-float distinction
("3" vs "3.0") so that class of mismatch FAILS locally, and list/array
columns are reported as driver-canon crashes (pandas ``sort_values`` cannot
factorize lists).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    import datetime
    import math

    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        s = f"{f:.6g}"
        # Keep float-ness visible: int64 3 -> "3", float64 3.0 -> "3.0".
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"
        return s
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        # DuckDB .df() materializes DATE as midnight datetime64; the real
        # driver equated those with Spark's datetime.date in round 1.
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0) \
                and getattr(v, "nanosecond", 0) == 0 and v.tzinfo is None:
            return str(v.date())
        return str(v)
    if isinstance(v, datetime.date):
        return str(v)
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v)).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    # pandas Timestamp, Decimal, str, ...
    return str(v)


def canon_pandas(pdf):
    """(cols, rows, list_cols) from a pandas frame, driver-style.

    Columns lowercased and sorted by name; cells normalized via norm_cell
    (pandas NaT/NaN -> NULL for object columns is handled by norm_cell's
    float path). list_cols reports columns whose cells are unhashable —
    the driver's canon (sort_values) would CRASH on those.
    """
    import pandas as pd

    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    cols = sorted(pdf.columns)
    import numpy as np

    # List-cell detection must cover EVERY row (not a head sample): an array
    # column whose first rows are all NULL would otherwise slip past the
    # "driver canon would crash" check. Flag during the full itertuples pass.
    list_hit = [False] * len(cols)
    rows = []
    for tup in pdf[cols].itertuples(index=False, name=None):
        for i, x in enumerate(tup):
            if isinstance(x, (list, tuple, np.ndarray)):
                list_hit[i] = True
        rows.append(tuple(None if x is None or (isinstance(x, float) and x != x) or x is pd.NaT else x
                          for x in tup))
    list_cols = [c for c, hit in zip(cols, list_hit) if hit]
    return cols, rows, list_cols


def table_hash(rows):
    lines = sorted("\x1f".join(norm_cell(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(only: list[str] | None = None):
    import duckdb

    import __spark_entry__ as entrymod
    from logport_spark.session import get_spark

    spark = get_spark("driver_sim", cpus=8, shuffle_partitions=8)

    t0 = time.time()
    edf = entrymod.entry(spark)
    erows = edf.collect()
    print(f"entry(): {len(erows)} rows, schema={edf.columns}, {time.time()-t0:.1f}s")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    # The real driver grades queries()/oracle_sql() (capped at 50 entries);
    # baseline_queries() are the off-contract correctness baselines — the
    # simulator enforces both so nothing registered goes unchecked locally.
    qs = {**entrymod.queries(), **getattr(entrymod, "baseline_queries", dict)()}
    oracles = {**entrymod.oracle_sql(),
               **getattr(entrymod, "baseline_oracle_sql", dict)()}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        scols, srows, slists = canon_pandas(spdf)
        if slists:
            print(f"FAIL {name}: driver canon would crash on list column(s) {slists}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        ocols, orows, olists = canon_pandas(opdf)
        if olists:
            print(f"FAIL {name}: driver canon would crash on ORACLE list column(s) {olists}")
            failures += 1
            continue
        ok_count = len(srows) == len(orows)
        ok_schema = scols == ocols
        sh = table_hash(srows)
        oh = table_hash(orows)
        ok_hash = sh == oh
        status = "PASS" if (ok_count and ok_schema and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(srows)}/{len(orows)} "
            f"schema={'ok' if ok_schema else f'{scols} vs {ocols}'} "
            f"hash={'ok' if ok_hash else f'{sh} vs {oh}'} ({time.time()-t0:.1f}s)"
        )
    print(f"\n{failures} failures")
    return failures


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1:] or None) else 0)
