"""Custom stateful streaming operator: gap-based sessionization.

`applyInPandasWithState` over user_id groups — the Spark-native form of a
custom stateful dataflow operator (the class of thing logport's supervision
loop hand-rolls with process state, src/LogPort.cc:2172-2554, re-expressed
as managed per-key state). State = the one open session per user (start,
last, n) in epoch-micros; a batch closes a session when the event-time gap
exceeds `gap_sec`, emits it, and re-opens. Open sessions survive micro-batch
boundaries via the state store and close when later batches (or a final
empty trigger) advance the user's stream.

Scale notes: state is O(active users) × 24 bytes; the shuffle key is
user_id (the same key the batch sessionizer windows on); Arrow-batched
pandas on both sides of the state boundary.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .stream import drain, pages_stream

OUT_DDL = (
    "user_id long, session_start timestamp, session_end timestamp, n_events int"
)
STATE_DDL = "start long, last long, n int"  # epoch micros + event count

_US = 1_000_000


def _to_micros(t) -> int:
    return int(pd.Timestamp(t).value // 1000)


def sessionize_stream(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Streaming gap-sessionizer; emits CLOSED sessions (append mode)."""
    gap_us = gap_sec * _US

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        ts: list[int] = []
        for pdf in pdfs:
            ts.extend(_to_micros(t) for t in pdf["ts"])
        closed: list[tuple] = []
        for tu in sorted(ts):
            if start is None:
                start, last, n = tu, tu, 1
            elif tu - last > gap_us:
                closed.append((uid, start, last, n))
                start, last, n = tu, tu, 1
            else:
                last, n = tu, n + 1
        if start is not None:
            state.update((int(start), int(last), int(n)))
        out = pd.DataFrame(
            closed, columns=["user_id", "session_start", "session_end", "n_events"]
        )
        if len(out):
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
        yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fn, OUT_DDL, STATE_DDL, "append", GroupStateTimeout.NoTimeout
    )


def run_sessionize(
    spark,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "sessions",
    gap_sec: int = 1800,
    max_files: int = 1,
) -> DataFrame:
    """Drive the sessionizer over a (time-ordered) parquet directory with
    availableNow; returns the emitted closed sessions."""
    src = pages_stream(spark, events_dir, max_files)
    drain(sessionize_stream(src.select("user_id", "ts"), gap_sec)
          .writeStream.outputMode("append").format("memory")
          .queryName(query_name), checkpoint_dir)
    return spark.table(query_name)
