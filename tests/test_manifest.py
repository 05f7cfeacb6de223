"""Min/max file manifest + z-order layout (plans/manifest.py): pruning is
conservative-correct, the ordered layouts make it SELECTIVE (and the
unordered contrast proves the selectivity claim bites), and the Morton
kernel matches a pure-Python bit-interleave reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logport_spark.plans.manifest import (cluster_write, fitted_rank32,
                                          monotone_rank32, prefix_rank32,
                                          pruned_files, pruned_read,
                                          write_manifest, zorder_key,
                                          zorder_write)

N_ROWS = 20_000
N_FILES = 32
TS_LO, TS_HI = 1_600_000_000, 1_600_000_000 + N_ROWS


def _rows(spark):
    """Deterministic (url, domain, ts, v) with 64 domains and a dense
    timestamp range — the two filter keys a crawl table actually has."""
    return spark.range(N_ROWS).select(
        F.concat(F.lit("https://d"), (F.xxhash64("id") % 64).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string"))
        .alias("url"),
        F.concat(F.lit("d"), F.pmod(F.xxhash64("id"), F.lit(64))
                 .cast("string"), F.lit(".example")).alias("domain"),
        (F.lit(TS_LO) + F.col("id")).alias("ts"),
        (F.col("id") * 7 % 1013).alias("v"))


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("manifest")
    df = _rows(spark)
    paths = {k: str(root / k) for k in ("unordered", "clustered", "zordered")}
    # unordered: shuffle by an unrelated key so every file spans every range
    df.repartition(N_FILES, "v").write.parquet(paths["unordered"])
    cluster_write(df, paths["clustered"], "ts", n_files=N_FILES)
    zorder_write(df, paths["zordered"],
                 monotone_rank32(F.col("ts"), TS_LO, TS_HI),
                 fitted_rank32(df, prefix_rank32(F.col("domain"))),
                 n_files=N_FILES)
    for p in paths.values():
        write_manifest(spark, p, ["ts", "domain"])
    return paths


def _morton_ref(a: int, b: int) -> int:
    out = 0
    for i in range(32):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_zorder_key_matches_python_reference(spark):
    cases = [(0, 0), (1, 0), (0, 1), (2**32 - 1, 2**32 - 1),
             (0x12345678, 0x9ABCDEF0), (7, 2**31), (2**31 + 3, 5)]
    df = spark.createDataFrame(cases, "a long, b long").select(
        "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z"))
    rows = df.collect()
    for r in rows:
        want = _morton_ref(r.a, r.b)
        # key = morton XOR sign bit (unsigned order mapped to signed order);
        # compare as two's-complement 64-bit after undoing the flip
        assert (r.z ^ (1 << 63)) & (2**64 - 1) == want, (r.a, r.b)
    # the point of the sign-bit flip: signed (Spark long) order == unsigned
    # Morton order, so rank_b >= 2^31 rows no longer sort before all others
    got_order = [(r.a, r.b) for r in sorted(rows, key=lambda r: r.z)]
    want_order = [(a, b) for a, b in
                  sorted(cases, key=lambda ab: _morton_ref(*ab))]
    assert got_order == want_order


def test_pruned_read_is_exact_on_every_layout(spark, layouts):
    want = sorted(r.url for r in _rows(spark)
                  .filter((F.col("ts") >= TS_LO + 1000)
                          & (F.col("ts") < TS_LO + 1500)).collect())
    for path in layouts.values():
        got = (pruned_read(spark, path, "ts",
                           lo=TS_LO + 1000, hi=TS_LO + 1499)
               .filter((F.col("ts") >= TS_LO + 1000)
                       & (F.col("ts") < TS_LO + 1500)))
        assert sorted(r.url for r in got.collect()) == want


def test_cluster_layout_prunes_range_unordered_does_not(spark, layouts):
    lo, hi = TS_LO + 1000, TS_LO + 1499  # 2.5% of the ts range
    n_clustered = len(pruned_files(spark, layouts["clustered"], "ts", lo, hi))
    n_unordered = len(pruned_files(spark, layouts["unordered"], "ts", lo, hi))
    assert n_clustered <= 3          # disjoint ranges: ceil(2.5% of 32) + edge
    assert n_unordered == N_FILES    # every file spans the full range


def test_zorder_prunes_both_dimensions(spark, layouts):
    # ts range alone: z-layout keeps locality on the monotone dimension
    lo, hi = TS_LO + 1000, TS_LO + 1499
    n_ts = len(pruned_files(spark, layouts["zordered"], "ts", lo, hi))
    assert n_ts <= N_FILES // 2
    # domain equality alone: string min/max pruning on the hash-clustered
    # dimension still excludes most files
    n_dom = len(pruned_files(spark, layouts["zordered"], "domain",
                             "d7.example", "d7.example", numeric=False))
    assert n_dom <= N_FILES // 2
    # the single-column clustered layout can NOT prune the other key
    n_dom_clustered = len(pruned_files(
        spark, layouts["clustered"], "domain",
        "d7.example", "d7.example", numeric=False))
    assert n_dom_clustered >= n_dom  # z-order is the multi-key layout


def test_missing_manifest_degrades_to_full_scan(spark, tmp_path):
    p = str(tmp_path / "noman")
    _rows(spark).limit(100).write.parquet(p)
    files = pruned_files(spark, p, "ts", TS_LO, TS_LO + 10)
    got = pruned_read(spark, p, "ts", TS_LO, TS_LO + 10)
    assert len(files) >= 1
    assert got.count() == 100  # full surviving-file contents, filter is caller's


def test_empty_prune_returns_empty_with_schema(spark, layouts):
    df = pruned_read(spark, layouts["clustered"], "ts",
                     lo=TS_HI + 10_000, hi=TS_HI + 20_000)
    assert df.columns == ["url", "domain", "ts", "v"]
    assert df.count() == 0


def test_update_manifest_incremental_append_and_compaction(spark, tmp_path):
    """update_manifest stats only NEW files (append) and drops rows for
    vanished ones (compaction), leaving pruning exactly as a full rebuild
    would — compared table-for-table against write_manifest's output."""
    from logport_spark.plans.manifest import update_manifest

    p = str(tmp_path / "tbl")
    df1 = _rows(spark).filter(F.col("ts") < TS_LO + 5000)
    df1.repartition(4).write.parquet(p)
    write_manifest(spark, p, ["ts"])

    # append a generation
    df2 = _rows(spark).filter((F.col("ts") >= TS_LO + 5000)
                              & (F.col("ts") < TS_LO + 8000))
    df2.repartition(2).write.mode("append").parquet(p)
    res = update_manifest(spark, p)
    assert res["added"] == 2 and res["removed"] == 0 and res["kept"] == 4

    def canon(man_df):
        return {tuple(r) for r in man_df
                .select("file", "col", "min_v", "max_v", "null_count",
                        "row_count").collect()}

    incr = canon(spark.read.parquet(p + "/_manifest"))
    write_manifest(spark, p, ["ts"])
    full = canon(spark.read.parquet(p + "/_manifest"))
    assert incr == full

    # simulate compaction: replace the DATA files with 3 merged ones (the
    # manifest survives, as it does under compact_sinks' partition rewrite)
    import glob
    import os
    allrows = spark.read.parquet(p).localCheckpoint(eager=True)
    for f in glob.glob(p + "/part-*.parquet"):
        os.remove(f)
    allrows.repartition(3).write.mode("append").parquet(p)
    res2 = update_manifest(spark, p)
    assert res2["added"] == 3 and res2["removed"] == 6
    files = pruned_files(spark, p, "ts", TS_LO, TS_LO + 100)
    assert 1 <= len(files) <= 3
    got = (pruned_read(spark, p, "ts", TS_LO, TS_LO + 100)
           .filter(F.col("ts") <= TS_LO + 100).count())
    assert got == 101


def test_empty_manifest_dir_rebuilds_in_full(spark, tmp_path):
    """An overwrite of _manifest/ that died after Spark cleared the dir
    leaves it empty: update_manifest treats that as no manifest and
    rebuilds, instead of comparing cols against an empty column set."""
    import os

    from logport_spark.plans.manifest import update_manifest

    p = str(tmp_path / "tbl")
    _rows(spark).repartition(4).write.parquet(p)
    os.makedirs(p + "/_manifest")
    res = update_manifest(spark, p, ["ts"])
    assert res == {"added": 4, "removed": 0, "kept": 0}
    got = (pruned_read(spark, p, "ts", TS_LO, TS_LO + 100)
           .filter(F.col("ts") <= TS_LO + 100).count())
    assert got == 101


def test_stale_manifest_is_conservative(spark, tmp_path):
    """r4 ADVICE (medium): files appended AFTER the manifest build carry no
    stats and must still be read (kept unconditionally), and manifest rows
    for files compaction deleted must never be returned — a stale manifest
    degrades toward the full listing, never to a wrong answer."""
    p = str(tmp_path / "stale")
    df1 = _rows(spark).filter(F.col("ts") < TS_LO + 5000)
    df1.repartition(2).write.parquet(p)
    write_manifest(spark, p, ["ts"])

    # append a generation WITHOUT updating the manifest
    df2 = _rows(spark).filter((F.col("ts") >= TS_LO + 5000)
                              & (F.col("ts") < TS_LO + 6000))
    df2.repartition(1).write.mode("append").parquet(p)
    total = spark.read.parquet(p).count()
    assert pruned_read(spark, p, "ts", lo=TS_LO, hi=TS_HI).count() == total
    # a range covering ONLY the unstatted generation still returns its rows
    got = (pruned_read(spark, p, "ts", lo=TS_LO + 5000, hi=TS_LO + 5999)
           .filter((F.col("ts") >= TS_LO + 5000)
                   & (F.col("ts") < TS_LO + 6000)).count())
    assert got == df2.count()

    # delete a statted file (compaction without manifest maintenance):
    # its manifest row must not surface in the pruned file list
    import glob
    import os
    victim = sorted(glob.glob(p + "/part-*.parquet"))[0]
    os.remove(victim)
    after = pruned_files(spark, p, "ts")
    assert not any(f.endswith(os.path.basename(victim)) for f in after)
    # and the pruned read still plans cleanly over what remains
    remaining = spark.read.parquet(p).count()
    assert pruned_read(spark, p, "ts",
                       lo=TS_LO, hi=TS_HI).count() == remaining


def test_partition_columns_survive_pruned_and_incremental_reads(
        spark, tmp_path):
    """Regression (s13 review): on a PARTITIONED table (the clean/ layout
    streaming curation writes), pruned_read must resolve partition-column
    values from the leaf paths (not NULL them via the pinned schema), and
    update_manifest must stat partition columns for appended files (not
    emit NULL min/max that pruned_files then silently prunes)."""
    from logport_spark.plans.manifest import update_manifest

    p = str(tmp_path / "ptbl")
    (_rows(spark).limit(4000)
     .withColumn("batch_id", (F.col("ts") % 2).cast("long"))
     .write.partitionBy("batch_id").parquet(p))
    write_manifest(spark, p, ["batch_id"])

    got = pruned_read(spark, p, "batch_id", 1, 1)
    assert got.filter(F.col("batch_id").isNull()).count() == 0
    assert got.filter(F.col("batch_id") == 1).count() == 2000

    # append a new generation under a new partition; update incrementally
    (_rows(spark).limit(100).withColumn("batch_id", F.lit(7).cast("long"))
     .write.mode("append").partitionBy("batch_id").parquet(p))
    res = update_manifest(spark, p)
    assert res["added"] >= 1
    files7 = pruned_files(spark, p, "batch_id", 7, 7)
    assert files7, "appended partition silently pruned (NULL stats)"
    assert (pruned_read(spark, p, "batch_id", 7, 7)
            .filter(F.col("batch_id") == 7).count()) == 100

    # cols-mismatch guard: a partial update would leave statless files
    import pytest as _pytest
    with _pytest.raises(ValueError, match="manifest columns"):
        update_manifest(spark, p, ["ts"])
