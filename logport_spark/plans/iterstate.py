"""Resumable iteration state — the ledger contract extended to iterative ops.

A PageRank / label-propagation run over a 10^12-page host graph is hours of
wall clock at 1000 executors; preemption, an executor-storm OOM, or a spot
reclaim mid-iteration must not restart from round 0. The batch ledger
(plans/ledger.py) makes the ROUTE pipeline resumable per bucket; this module
makes ITERATIVE operators resumable per round with the same two guarantees:

- **durability unit = one completed round**: each round's state frame is
  written to ``{state_dir}/round=<k>/`` as parquet; the write's ``_SUCCESS``
  marker is the commit record (a crash mid-write leaves no marker, so the
  partial round is invisible to resume — the ledger-last idiom).
- **drift refusal**: round 0 records the INPUT FINGERPRINT (the ledger's
  commutative sum-of-xxhash64 + count, collapsed through xxhash64 — any
  partitioning of the same edge multiset agrees) and the algorithm
  parameters in ``{state_dir}/meta``. Resume verifies both and RAISES on
  mismatch: silently continuing someone else's rounds, or the same graph
  with a different damping factor, would produce wrong ranks with no signal
  (ledger.py:166-200's input-drift contract, applied to iteration).

Because every round is a deterministic function of (previous state, input),
a resumed run is bit-for-bit equal to an uninterrupted one — pytest-pinned
in tests/test_linkgraph.py. The parquet round-trip doubles as the lineage
cut each round needs anyway (the localCheckpoint lesson from
connected_components: an uncut 300-round plan hangs Catalyst), so durable
mode costs one parquet write per round instead of one localCheckpoint —
the same I/O class, now restartable.

All filesystem access goes through plans/ledger.py's Hadoop FS helpers
(any scheme — HDFS, S3A, local), never Python ``os``: state_dir lives on
the shared cluster filesystem in a real deployment.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import hadoop_fs, list_names, path_exists


def input_fp(df: DataFrame, *cols: str) -> int:
    """Commutative 64-bit fingerprint of a frame's column multiset —
    ledger.input_fingerprints' arithmetic (decimal(38,0) sum of per-row
    xxhash64, duplicates never cancel, order/partitioning-independent),
    un-bucketed because iteration state is global, not per-bucket."""
    row = (df.agg(
        F.coalesce(F.sum(F.xxhash64(*[F.col(c) for c in cols])
                         .cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("_s"),
        F.count(F.lit(1)).alias("_c"))
        .select(F.xxhash64(F.col("_s").cast("string"), F.col("_c"))
                .alias("fp"))
        .head())
    return int(row["fp"])


class IterState:
    """Per-round durable state for a deterministic iterative operator.

    Usage::

        st = IterState(spark, state_dir, fp, {"algo": "pagerank_v1",
                                              "damping": "0.85"})
        k0 = st.latest_round()          # -1 on a fresh dir
        state = st.load(k0) if k0 >= 0 else initial_state
        for k in range(k0 + 1, iters + 1):
            state = st.save(k, one_round(state))
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 fp: int, params: dict[str, str]):
        self.spark = spark
        self.dir = state_dir.rstrip("/")
        self.fp = fp
        self.params = {k: str(v) for k, v in sorted(params.items())}
        self._check_or_write_meta()

    # ------------------------------------------------------------- meta --
    def _meta_path(self) -> str:
        return f"{self.dir}/meta"

    def _check_or_write_meta(self) -> None:
        if path_exists(self.spark, self._meta_path()):
            got = self.spark.read.parquet(self._meta_path()).head()
            want_params = json.dumps(self.params)
            if int(got["input_fp"]) != self.fp or got["params"] != want_params:
                raise ValueError(
                    f"iteration state at {self.dir} belongs to a different "
                    f"run: input_fp {int(got['input_fp'])} vs {self.fp}, "
                    f"params {got['params']} vs {want_params}. Refusing to "
                    "resume — delete the state dir to start over.")
        else:
            (self.spark.createDataFrame(
                [(self.fp, json.dumps(self.params))],
                "input_fp long, params string")
             .coalesce(1).write.mode("overwrite")
             .parquet(self._meta_path()))

    # ----------------------------------------------------------- rounds --
    def _round_path(self, k: int) -> str:
        return f"{self.dir}/round={k}"

    def latest_round(self) -> int:
        """Highest k with a committed (_SUCCESS-marked) round, else -1."""
        rounds = [int(n.split("=", 1)[1])
                  for n in list_names(self.spark, self.dir)
                  if n.startswith("round=")]
        return max((k for k in rounds if path_exists(
            self.spark, f"{self._round_path(k)}/_SUCCESS")), default=-1)

    def load(self, k: int) -> DataFrame:
        return self.spark.read.parquet(self._round_path(k))

    def save(self, k: int, df: DataFrame) -> DataFrame:
        """Commit round k and hand back the materialized frame — the
        parquet read-back IS the round's lineage cut."""
        df.write.mode("overwrite").parquet(self._round_path(k))
        return self.load(k)

    # ------------------------------------------------------ convergence --
    # Fixpoint operators (components, label propagation) terminate on a
    # data-dependent round, not a fixed count: the _DONE marker records
    # "the latest round IS the fixpoint", so a re-invocation returns it
    # without running (and without one redundant verification round).
    def _done_path(self) -> str:
        return f"{self.dir}/_DONE"

    def mark_done(self) -> None:
        fs, hpath = hadoop_fs(self.spark, self._done_path())
        fs.create(hpath, True).close()

    def is_done(self) -> bool:
        return path_exists(self.spark, self._done_path())
