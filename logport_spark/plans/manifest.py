"""File-level min/max manifest + scan pruning — the READ half of Iceberg.

plans/iceberg.py wires the write side of the north_rule's table format
behind a classpath probe; this module supplies the other half of what an
Iceberg deployment buys at 10^12 rows: **planning-time file pruning from
per-file column statistics**, portable to the parquet stand-in this
container actually runs. Iceberg keeps (lower_bound, upper_bound,
null_count, row_count) per data file in its manifest files and the planner
skips files whose range excludes the predicate before a single task
launches; here the same statistics live in a small parquet table next to
the data (`<table>/_manifest`), and `pruned_read` turns a range/equality
predicate into an explicit file list for `spark.read.parquet(*files)`.

Why this matters at 100 TB even though parquet already has row-group
stats: row-group skipping happens INSIDE a scheduled task — at 10^12 rows
Spark still plans and launches one task per split of every file, and the
scheduler+open+footer cost of a million no-op tasks dominates a selective
query. File pruning removes the tasks themselves; it is the difference
between "query cost ∝ table size" and "query cost ∝ matching data".

Pruning is only as good as the layout, so the module also ships the
write-side ordering that makes manifests selective:

- ``cluster_write(df, path, col)`` — range-repartition + sort on one
  column: per-file ranges are disjoint, equality/range predicates on that
  column touch O(matching) files. (Iceberg's ``WRITE ORDERED BY``.)
- ``zorder_write(df, path, c1, c2)`` — Morton-interleave two 32-bit ranks
  into one 64-bit key and range-sort on THAT: locality on BOTH columns at
  once, so a predicate on either column alone still excludes most files
  (each file's z-range covers a small rectangle of the (c1, c2) plane).
  The interleave is pure codegen — five shift/mask spread rounds per
  column, no UDF. (Iceberg/Delta ``ZORDER BY``; Morton 1966.)

Conservative by construction: ``pruned_files`` keeps any file whose
[min, max] OVERLAPS the predicate (and any file with nulls for null-asking
predicates is out of scope — callers re-apply the real filter after the
pruned scan, so a false keep costs time, never correctness). A missing or
stale-generation manifest degrades to the full file list, same contract as
Iceberg falling back to a full scan when metadata is unusable.

Reference parity: logport has no storage tier (files in, Kafka out,
/root/reference/src/LogPort.cc) — superset surface, the storage-layout leg
of SURVEY §2.6 alongside operators/bucketed.py (which co-locates JOIN
keys; this module localizes FILTER keys — a table wants both: bucket the
join key, z-order the filter keys within each bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import path_exists

MANIFEST_DIR = "_manifest"
MANIFEST_DDL = ("file string, col string, min_v string, max_v string, "
                "null_count long, row_count long")

# Morton spread: 0b...abcd -> 0b...0a0b0c0d (32 bits -> even bits of 64).
# Magic masks are the textbook "interleave by binary magic numbers" set
# (Knuth TAOCP 4A / Bit Twiddling Hacks — public domain folklore).
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8,  0x00FF00FF00FF00FF),
    (4,  0x0F0F0F0F0F0F0F0F),
    (2,  0x3333333333333333),
    (1,  0x5555555555555555),
)


def _spread32(c: Column) -> Column:
    """Spread the low 32 bits of a long across the even bit positions of a
    64-bit long — pure shift/mask codegen, 5 rounds."""
    out = c.bitwiseAND(F.lit(0xFFFFFFFF))
    for sh, mask in _SPREAD:
        out = (out.bitwiseOR(F.shiftleft(out, sh))).bitwiseAND(F.lit(mask))
    return out


def zorder_key(rank_a: Column, rank_b: Column) -> Column:
    """64-bit Morton key from two 32-bit ranks: bit i of ``rank_a`` lands
    at position 2i, bit i of ``rank_b`` at 2i+1. Monotone in both inputs
    along the z-curve, so range-sorting on the key clusters rows that are
    close in EITHER dimension.

    More than two filter keys: compose hierarchically — directory-
    partition (or bucket) the coarsest key, z-order the next two inside
    each partition. Per-dimension selectivity of a k-way interleave decays
    as 2^(64/k) distinct prefixes anyway, so beyond 2-3 dims the curve
    stops buying locality; partition + 2-D z-order is what Delta/Iceberg
    deployments converge on too.

    The raw interleave is an UNSIGNED 64-bit value, but Spark longs sort
    signed: bit 31 of ``rank_b`` lands at bit 63, so rows with
    rank_b >= 2^31 would get negative keys and range-sort BEFORE all
    others, splitting the curve at that boundary (selectivity loss, not
    correctness — row filters re-apply). XOR-ing the sign bit maps
    unsigned order onto signed order, so the key sorts as the curve
    intends across the full rank domain."""
    raw = _spread32(rank_a.cast("long")).bitwiseOR(
        F.shiftleft(_spread32(rank_b.cast("long")), 1))
    return raw.bitwiseXOR(F.lit(-(2 ** 63))).alias("zkey")


def monotone_rank32(c: Column, lo, hi) -> Column:
    """Order-preserving map of a numeric/timestamp column onto [0, 2^32):
    what a RANGE predicate needs from its z-dimension. ``lo``/``hi`` are
    the expected domain bounds (clamped, so outliers saturate rather than
    wrap); timestamps should be passed as epoch seconds."""
    span = float(hi) - float(lo)
    if span <= 0:
        raise ValueError("monotone_rank32 needs hi > lo")
    scaled = (c.cast("double") - F.lit(float(lo))) / F.lit(span)
    clamped = F.least(F.greatest(scaled, F.lit(0.0)), F.lit(1.0))
    return F.floor(clamped * F.lit(float(2**32 - 1))).cast("long")


def hash_rank32(c: Column) -> Column:
    """32-bit hash rank: equal values co-locate, but the rank is NOT
    order-preserving — per-file min/max of the RAW string stays wide, so
    manifest pruning on the string column cannot bite. Use only when the
    manifest tracks the rank itself (store the rank as a column and prune
    on it); for pruning on raw string stats use ``prefix_rank32``."""
    return F.pmod(F.xxhash64(c), F.lit(2**32)).cast("long")


def prefix_rank32(c: Column) -> Column:
    """Lexically order-preserving 32-bit rank for STRING z-dimensions: the
    first 4 bytes of the UTF-8 encoding, big-endian (NUL-padded, so shorter
    strings sort before their extensions — matching string order). Files
    clustered on this rank have tight string min/max, so equality/range
    predicates on the raw column prune well — this is how Delta's ZORDER
    ranks string columns (range-partition on the leading bytes). Caveat:
    values sharing a 4-byte prefix tie; for web hosts, rank the SURT form
    (see operators/linkgraph cdx_index) to spread the shared-TLD mass."""
    padded = F.rpad(c, 4, chr(0))
    return F.conv(F.hex(F.substring(F.encode(padded, "utf-8"), 1, 4)),
                  16, 10).cast("long")


def fitted_rank32(df: DataFrame, rank: Column) -> Column:
    """Rescale a monotone rank expression onto the FULL [0, 2^32) span
    using the data's measured min/max — one tiny agg job at write time.

    Interleaving requires both dimensions to occupy the same bit range:
    web hosts share leading bytes ("d…", "www…"), so a raw prefix rank
    varies only in its LOW bits while a timestamp rank spans all 32 — the
    Morton key then sorts by timestamp alone and the string dimension gets
    no locality (measured: 32/32 files kept on a domain predicate before
    this fix, ≤9/32 after). Min/max rescaling strips the shared high bits;
    for heavily SKEWED distributions the further upgrade is a quantile
    rank (range-partition index, what Delta's ZORDER computes) — same
    interleave, boundaries from approxQuantile instead of bounds."""
    lo, hi = df.agg(F.min(rank), F.max(rank)).first()
    if lo is None or hi is None or hi <= lo:
        return F.lit(0).cast("long")
    return monotone_rank32(rank, lo, hi)


def cluster_write(df: DataFrame, path: str, order_col: str,
                  n_files: int = 32, mode: str = "overwrite") -> None:
    """Write ``df`` range-partitioned + sorted on ``order_col``: per-file
    [min, max] ranges are disjoint, so a later manifest prunes equality and
    range predicates on that column to O(matching) files. One shuffle
    (the range exchange) paid at write time — Iceberg's WRITE ORDERED BY."""
    (df.repartitionByRange(n_files, F.col(order_col))
       .sortWithinPartitions(order_col)
       .write.mode(mode).parquet(path))


def zorder_write(df: DataFrame, path: str, rank_a: Column, rank_b: Column,
                 n_files: int = 32, mode: str = "overwrite") -> None:
    """Write ``df`` ordered along the Morton curve of two rank expressions
    (build them with monotone_rank32 / hash_rank32). Each output file then
    covers a small rectangle of the (a, b) plane, so single-column
    predicates on EITHER dimension exclude most files — the layout for
    tables filtered by more than one key (domain AND crawl time)."""
    zk = zorder_key(rank_a, rank_b)
    (df.withColumn("_zk", zk)
       .repartitionByRange(n_files, F.col("_zk"))
       .sortWithinPartitions("_zk")
       .drop("_zk")
       .write.mode(mode).parquet(path))


def _file_stats(src: DataFrame, cols: list[str]) -> DataFrame:
    """Per-(file, column) stats rows from a source carrying a `file`
    column plus the stat columns — the ONE definition both the full build
    and the incremental update aggregate with (diverging copies were how
    the partition-column bug slipped in)."""
    parts = []
    for c in cols:
        parts.append(src.groupBy("file").agg(
            F.lit(c).alias("col"),
            F.min(c).cast("string").alias("min_v"),
            F.max(c).cast("string").alias("max_v"),
            F.sum(F.col(c).isNull().cast("long")).alias("null_count"),
            F.count(F.lit(1)).alias("row_count"),
        ).select("file", "col", "min_v", "max_v", "null_count",
                 "row_count"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_manifest(spark: SparkSession, path: str, cols: list[str]) -> None:
    """Build the per-file statistics table: one row per (file, column) with
    min/max/null_count/row_count, written to ``<path>/_manifest``. One
    distributed scan projecting only ``cols`` (column-pruned, no shuffle
    until the tiny per-file aggregate). An Iceberg deployment gets these
    rows for free at commit time from the data-file writers; on the parquet
    stand-in the scan is paid once per written generation — the same
    amortization as the bucketed layout's write-time shuffle.

    Values are stringified for a uniform schema; ``pruned_files`` compares
    numerics numerically and strings lexically, matching parquet's
    per-type ordering."""
    if not cols:
        raise ValueError("write_manifest needs at least one stat column")
    src = spark.read.parquet(path).select(
        F.input_file_name().alias("file"), *cols)
    _file_stats(src, cols).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/{MANIFEST_DIR}")


def update_manifest(spark: SparkSession, path: str,
                    cols: list[str] | None = None) -> dict:
    """Incremental manifest maintenance: stat ONLY files missing from the
    existing manifest (new generations appended since the last build) and
    drop rows for files that no longer exist (compaction rewrote them).
    The full rebuild (`write_manifest`) scans the whole table; an
    append-mostly crawl sink should pay per-generation cost instead —
    this is Iceberg's incremental metadata commit, expressed over the
    stand-in. Falls back to a full build when no manifest exists.
    `cols` defaults to the column set of the existing manifest. Returns
    {"added": n, "removed": n, "kept": n} file counts."""
    cols = list(cols) if cols else None
    man = _read_manifest(spark, path)
    current = set(spark.read.parquet(path).inputFiles())
    if man is None:
        if not cols:
            raise ValueError("no existing manifest — pass cols for the "
                             "initial build")
        write_manifest(spark, path, cols)
        return {"added": len(current), "removed": 0, "kept": 0}
    existing = sorted(r.col for r in man.select("col").distinct().collect())
    if cols is None:
        cols = existing
    elif sorted(cols) != existing:
        # a partial update would leave new files without stat rows for the
        # other columns, and pruned_files silently prunes statless files —
        # non-conservative. Stat the same set or rebuild.
        raise ValueError(
            f"cols {sorted(cols)} != manifest columns {existing}; "
            "update must stat the same set (or write_manifest to rebuild)")
    known = {r.file for r in man.select("file").distinct().collect()}
    stale = known - current
    new = sorted(current - known)
    kept = man.filter(F.col("file").isin(list(current))) if stale else man
    if new:
        # basePath keeps PARTITION columns resolvable from the leaf paths
        # (without it their values read as NULL and pruning would silently
        # drop the new files — the non-conservative failure mode)
        src = (spark.read.schema(spark.read.parquet(path).schema)
               .option("basePath", path).parquet(*new)
               .select(F.input_file_name().alias("file"), *cols))
        kept = kept.unionByName(_file_stats(src, cols))
    if new or stale:
        # the old generation is an input to this write — materialize first
        out = kept.localCheckpoint(eager=True)
        (out.coalesce(1).write.mode("overwrite")
            .parquet(f"{path}/{MANIFEST_DIR}"))
    return {"added": len(new), "removed": len(stale),
            "kept": len(known - stale)}


def _read_manifest(spark: SparkSession, path: str) -> DataFrame | None:
    """The manifest table, or None when none was built or an overwrite that
    died left `_manifest/` empty. A manifest that does not read raises."""
    man = f"{path}/{MANIFEST_DIR}"
    if not path_exists(spark, man):
        return None
    df = spark.read.schema(MANIFEST_DDL).parquet(man)
    return df if df.inputFiles() else None


def pruned_files(spark: SparkSession, path: str, col: str,
                 lo=None, hi=None, numeric: bool = True) -> list[str]:
    """Files whose [min, max] for ``col`` overlaps [lo, hi] (None = open
    end; equality is lo == hi). Conservative: overlap keeps the file.
    Returns the FULL file list when no manifest exists — pruning degrades
    to a normal scan, never to a wrong answer.

    Conservative against STALENESS too: the table's current listing is
    consulted every call (planning-time only, no scan) — files appended
    after the manifest build carry no stats and are always kept, and
    manifest rows for files compaction deleted are never returned. A stale
    manifest therefore degrades toward the full listing, never to a wrong
    answer (the r4 advice found post-manifest appends silently excluded)."""
    man = _read_manifest(spark, path)
    listing = set(spark.read.parquet(path).inputFiles())
    if man is None:
        # planning-time listing only — no scan on the degraded path
        return sorted(listing)
    m = man.filter(F.col("col") == col)
    lo_c = F.col("min_v").cast("double") if numeric else F.col("min_v")
    hi_c = F.col("max_v").cast("double") if numeric else F.col("max_v")
    keep = F.lit(True)
    if lo is not None:
        keep = keep & (hi_c >= F.lit(lo))
    if hi is not None:
        keep = keep & (lo_c <= F.lit(hi))
    # null stats rows (all-null file for this col) stay out only if the
    # predicate excludes nulls — range predicates do, so drop them.
    keep = keep & F.col("min_v").isNotNull()
    kept = {r.file for r in m.filter(keep).select("file").collect()}
    known = {r.file for r in man.select("file").distinct().collect()}
    # (kept ∩ listing): drop manifest rows whose files compaction deleted;
    # (listing − known): keep files the manifest has never statted.
    return sorted((kept & listing) | (listing - known))


def pruned_read(spark: SparkSession, path: str, col: str,
                lo=None, hi=None, numeric: bool = True) -> DataFrame:
    """Manifest-pruned scan: plan over only the files whose stats overlap
    the predicate. The caller MUST still apply the real row filter (this
    returns whole surviving files) — same contract as Iceberg planning,
    where file pruning and row filtering are separate stages. An empty
    prune returns an empty frame with the table's schema."""
    files = pruned_files(spark, path, col, lo, hi, numeric=numeric)
    if not files:
        return spark.read.parquet(path).limit(0)
    # pin the schema from the table root: an N-path read otherwise infers
    # from every file's footer (measured 7 s of listing overhead at 250
    # files where the pinned read plans in milliseconds)
    schema = spark.read.parquet(path).schema
    # basePath: partition-column values must resolve from the leaf paths —
    # without it a pinned schema fills them with NULLs (silently wrong)
    return (spark.read.schema(schema).option("basePath", path)
            .parquet(*files))
