"""The in-process plan profiler (logport_spark/profile.py) reads the executed
plan, its operator metrics and the stage byte counters from Spark's status
stores with the Spark UI disabled (the session fixture's default)."""

from __future__ import annotations

from logport_spark.profile import profile


def _nodes(rec: dict, prefix: str) -> list[dict]:
    return [n for n in rec["nodes"] if n["name"].startswith(prefix)]


def test_groupby_final_plan_exchange_and_bytes(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    df = spark.range(20_000).selectExpr("id % 13 AS k").groupBy("k").count()
    rec = profile(spark, "range-groupby", lambda: df)
    assert rec["label"] == "range-groupby"
    assert "isFinalPlan=true" in rec["plan"]
    assert "Initial Plan" not in rec["plan"]
    ex = [n for n in _nodes(rec, "Exchange")
          if "shuffle records written" in n["metrics"]]
    assert ex, [n["name"] for n in rec["nodes"]]
    # one partial-aggregate row per (map task, key) crosses the exchange
    assert ex[0]["metrics"]["shuffle records written"] >= 13
    assert rec["shuffle_write_bytes"] > 0
    assert rec["shuffle_read_bytes"] > 0
    assert rec["n_stages"] >= 2
    assert rec["wall_s"] > 0 and rec["cores"] >= 1


def test_second_call_holds_only_its_own_executions(spark):
    a = profile(spark, "first", lambda: spark.range(1000)
                .selectExpr("id % 3 AS k").groupBy("k").count())
    b = profile(spark, "second", lambda: spark.range(10))
    assert a["executions"] and b["executions"]
    assert not set(a["executions"]) & set(b["executions"])
    assert min(b["executions"]) > max(a["executions"])
    assert {n["execution"] for n in b["nodes"]} == set(b["executions"])
    # range(10) to noop shuffles nothing: a's exchange is not counted again
    assert b["shuffle_write_bytes"] == 0 and not _nodes(b, "Exchange")
    assert b["n_stages"] == 1


def test_build_jobs_count_but_plan_is_the_write(spark):
    """Jobs run while the frame is built (here an eager checkpoint of a
    groupBy) count toward the stage totals; plan and nodes are the noop
    write's alone."""
    rec = profile(spark, "eager", lambda: spark.range(1000)
                  .selectExpr("id % 7 AS k").groupBy("k").count()
                  .localCheckpoint(eager=True))
    assert rec["shuffle_write_bytes"] > 0
    assert rec["n_stages"] >= 3  # map + result of the checkpoint, the write
    assert not _nodes(rec, "Exchange") and "Exchange" not in rec["plan"]


def test_udf_sees_every_line(spark, pages_small):
    """ArrowEvalPython (json_mid_udf) gets one row per line, NULL for the
    non-candidates: the base parse.udf_useful_frac divides by."""
    from logport_spark.operators.parse import explode_lines
    from logport_spark.plans.pipeline import parsed_routed

    rec = profile(spark, "x", lambda: parsed_routed(spark, pages_small))
    udf = _nodes(rec, "ArrowEvalPython")
    assert len(udf) == 1
    assert (udf[0]["metrics"]["number of output rows"]
            == explode_lines(pages_small).count())
