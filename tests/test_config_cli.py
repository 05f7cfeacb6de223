"""Config model + CLI surface tests (no Spark needed for most)."""

from __future__ import annotations

import pytest

from logport_spark.config import Settings, validate_scheme_consistency
from logport_spark import cli


def test_scheme_consistency():
    """Mirrors src/UrlList.cc:35-63 + src/Watch.cc:122-134 semantics."""
    assert validate_scheme_consistency("kafka://k1:9092,kafka://k2:9092") == "KAFKA"
    assert validate_scheme_consistency("https://a/logs,https://b/logs") == "HTTP"
    assert validate_scheme_consistency("localhost:9092") == "KAFKA"  # schemeless
    with pytest.raises(ValueError):
        validate_scheme_consistency("kafka://k1:9092,https://b/logs")


def test_settings_precedence(monkeypatch):
    """env > setting > default (src/LogPort.cc:961-1048)."""
    s = Settings()
    assert s.get("ledger.buckets", env={}) == "64"        # default
    s.values["ledger.buckets"] = "32"
    assert s.get("ledger.buckets", env={}) == "32"        # setting beats default
    env = {"LOGPORT_SPARK_LEDGER_BUCKETS": "128"}
    assert s.get("ledger.buckets", env=env) == "128"      # env beats setting
    assert s.get("nonexistent.key", env={}) is None


def test_cli_routes(capsys):
    assert cli.main(["routes"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 7
    assert any("sink_default" in l for l in out)


def test_cli_settings(capsys):
    assert cli.main(["settings", "--set", "ledger.buckets=99"]) == 0
    out = capsys.readouterr().out
    assert "ledger.buckets=99" in out
    assert "default.sink=sink_default" in out


def test_cli_watch_unwatch_set_unset_roundtrip(tmp_path, capsys):
    """r4 verdict #6: watch/unwatch/set/unset PERSIST across separate CLI
    invocations (src/LogPort.cc:848-883,1221-1273 persist to SQLite; here
    <out>/config/*.parquet), and env > stored > default precedence holds."""
    import json
    import os

    out = str(tmp_path / "out")

    # add → list: the new route appears alongside the seed
    assert cli.main(["watch", "--out", out, "--key", "video",
                     "--sink", "sink_video",
                     "--brokers", "https://collector:9/logs",
                     "--prd", "prd9000"]) == 0
    w = json.loads(capsys.readouterr().out)
    assert w["producer_type"] == "HTTP" and w["id"] == 8
    assert cli.main(["routes", "--out", out]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 8 and any("sink_video" in ln for ln in lines)
    # a fresh invocation WITHOUT --out still shows the untouched seed
    assert cli.main(["routes"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 7

    # upsert: same key, new sink — id stable, no duplicate row
    assert cli.main(["watch", "--out", out, "--key", "video",
                     "--sink", "sink_video2"]) == 0
    assert json.loads(capsys.readouterr().out)["id"] == 8
    assert cli.main(["routes", "--out", out]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 8 and any("sink_video2" in ln for ln in lines)

    # remove → list: gone; removing again reports missing (rc 1)
    assert cli.main(["unwatch", "--out", out, "--key", "video"]) == 0
    capsys.readouterr()
    assert cli.main(["routes", "--out", out]) == 0
    assert not any("sink_video" in ln
                   for ln in capsys.readouterr().out.splitlines())
    assert cli.main(["unwatch", "--out", out, "--key", "video"]) == 1
    capsys.readouterr()
    # the catch-all is protected
    with pytest.raises(ValueError, match="__default__"):
        from logport_spark.store import ConfigStore

        ConfigStore(out).unwatch("__default__")

    # settings: set persists, env still wins, unset falls back to default
    assert cli.main(["set", "--out", out, "ledger.buckets", "42"]) == 0
    capsys.readouterr()
    assert cli.main(["settings", "--out", out]) == 0
    assert "ledger.buckets=42" in capsys.readouterr().out
    os.environ["LOGPORT_SPARK_LEDGER_BUCKETS"] = "77"
    try:
        assert cli.main(["settings", "--out", out]) == 0
        assert "ledger.buckets=77" in capsys.readouterr().out
    finally:
        del os.environ["LOGPORT_SPARK_LEDGER_BUCKETS"]
    assert cli.main(["unset", "--out", out, "ledger.buckets"]) == 0
    capsys.readouterr()
    assert cli.main(["settings", "--out", out]) == 0
    assert "ledger.buckets=64" in capsys.readouterr().out
    assert cli.main(["unset", "--out", out, "ledger.buckets"]) == 1


def test_persisted_routes_bind_to_runs(spark, pages_small, tmp_path,
                                       capsys, monkeypatch):
    """A watch mutation persisted under an out_dir changes where THAT
    out_dir's runs route records — load_lookups builds the routes table
    from the store's list_routes, so the CLI and the pipeline consume the
    same bytes."""
    from pyspark.sql import functions as F

    from logport_spark.store import ConfigStore

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    pages_small.write.parquet(pages_dir)
    # redirect the 'news' category to a brand-new sink before the run
    ConfigStore(out_dir).watch("news", "sink_news_v2",
                               brokers="kafka://k9:9092",
                               product_code="prd5000")
    monkeypatch.setattr(cli, "_spark", lambda cpus=None: spark)
    assert cli.main(["run", "--pages", pages_dir, "--out", out_dir,
                     "--run-id", "cfg1", "--buckets", "8"]) == 0
    capsys.readouterr()
    sinks = {r.sink for r in spark.read.parquet(out_dir + "/sinks")
             .select("sink").distinct().collect()}
    assert "sink_news_v2" in sinks and "sink_news" not in sinks
    # the rerouted records carry the mutated envelope constant too
    rec = (spark.read.parquet(out_dir + "/sinks")
           .filter(F.col("sink") == "sink_news_v2")
           .select("record").first().record)
    assert '"prd":"prd5000"' in rec


def test_unwatched_category_falls_through_to_default_route(
        spark, pages_small, tmp_path, monkeypatch):
    """After `unwatch news`, news lines take the catch-all route, envelope
    constants included — byte-equal to the reference run with the same
    routes table (oracle.route_for falls back to the default route)."""
    from logport_spark import oracle
    from logport_spark.config import routes_by_key
    from logport_spark.datagen import gen_docs
    from logport_spark.plans.pipeline import parsed_routed
    from logport_spark.store import ConfigStore

    out_dir = str(tmp_path / "out")
    assert ConfigStore(out_dir).unwatch("news")
    kept = {k: v for k, v in routes_by_key().items() if k != "news"}
    monkeypatch.setattr(oracle, "routes_by_key", lambda: kept)
    want = {(r["url"], r["line_no"]): (r["sink"], r["record"])
            for r in oracle.run_oracle(gen_docs(range(200)))["records"]
            if r["category"] == "news"}
    assert want and {s for s, _ in want.values()} == {"sink_default"}
    got = {(r.url, r.line_no): (r.sink, r.record)
           for r in parsed_routed(spark, pages_small, config_dir=out_dir)
           .filter("category = 'news'").collect()}
    assert got == want


def test_route_strings_and_lookup_misses_reach_the_records(
        spark, tmp_path, monkeypatch):
    """Watched route strings holding quotes, a backslash, non-ASCII text or
    nothing at all reach the sink column and the envelope's host/prd keys
    byte-equal to the reference serializer's records; a url with no host
    and an unknown lang miss their lookups (null tld, category, locale)
    and take the catch-all route."""
    import json

    import pandas as pd

    from logport_spark import oracle
    from logport_spark.config import RouteSpec, UNMATCHED_LANG
    from logport_spark.datagen import PAGES_DDL, gen_docs
    from logport_spark.plans.pipeline import parsed_routed
    from logport_spark.store import ConfigStore

    odd = "q\"u'o\\te \u00e9\u4e16"
    out_dir = str(tmp_path / "out")
    store = ConfigStore(out_dir)
    store.watch("news", odd, hostname=odd, product_code=odd)
    store.watch("shop", "", hostname="", product_code="")
    routes = {r["route_key"]: RouteSpec(**r) for r in store.list_routes()}
    monkeypatch.setattr(oracle, "routes_by_key", lambda: routes)
    docs = gen_docs(range(200))
    docs.append(dict(docs[0], url="no-host-page", lang=UNMATCHED_LANG))
    want = {(r["url"], r["line_no"]): (r["sink"], r["record"], r["tld"],
                                       r["category"], r["locale"])
            for r in oracle.run_oracle(docs)["records"]}
    pages = spark.createDataFrame(pd.DataFrame(docs), schema=PAGES_DDL)
    got = {(r.url, r.line_no): (r.sink, r.record, r.tld, r.category, r.locale)
           for r in parsed_routed(spark, pages, config_dir=out_dir)
           .collect()}
    assert got == want
    sinks = {v[0] for v in got.values()}
    assert {odd, "", "sink_default"} <= sinks
    hostless = {v for (url, _), v in got.items() if url == "no-host-page"}
    assert hostless and {v[0] for v in hostless} == {"sink_default"}
    assert {v[2:] for v in hostless} == {(None, None, None)}
    odd_json = json.dumps(odd, ensure_ascii=False)
    news = next(v[1] for v in got.values() if v[0] == odd)
    assert f'"host":{odd_json}' in news and f'"prd":{odd_json}' in news


def test_lookups_are_built_in_the_driver(spark, tmp_path, monkeypatch):
    """The lookup tables are built in the driver from rows it already holds
    (the built-in seed, or a ConfigStore's stored routes): each plans as a
    LocalRelation with the lookup schema, and nothing is written under the
    data dir."""
    from pyspark.sql.types import DataType

    from logport_spark import datagen
    from logport_spark.operators.enrich import load_lookups
    from logport_spark.store import ConfigStore

    data = tmp_path / "data"
    data.mkdir()
    monkeypatch.setattr(datagen, "DATA_DIR", str(data))
    out_dir = str(tmp_path / "out")
    ConfigStore(out_dir).watch("news", "sink_news_v2")
    want = {
        "domain_tld": "domain string, tld string, category string",
        "lang_locale": "lang string, locale string",
        "routes": "id bigint, route_key string, sink string, "
                  "producer_type string, brokers string, product_code string, "
                  "log_type string, hostname string",
    }
    stored = load_lookups(spark, config_dir=out_dir)
    for lookups in (load_lookups(spark), stored):
        for name, ddl in want.items():
            assert lookups[name].schema == DataType.fromDDL(ddl), name
            plan = lookups[name]._jdf.queryExecution().optimizedPlan()
            assert plan.getClass().getSimpleName() == "LocalRelation", name
    sinks = {r.route_key: r.sink for r in stored["routes"].collect()}
    assert sinks["news"] == "sink_news_v2"
    assert list(data.iterdir()) == []


def test_cli_run_and_status(spark, pages_small, tmp_path, capsys, monkeypatch):
    """End-to-end CLI: run over a parquet pages dir, then status."""
    import json

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    pages_small.write.parquet(pages_dir)
    # reuse the session fixture instead of building a new JVM
    monkeypatch.setattr(cli, "_spark", lambda cpus=None: spark)
    assert cli.main(["run", "--pages", pages_dir, "--out", out_dir,
                     "--run-id", "cli1", "--buckets", "16"]) == 0
    run_out = json.loads(capsys.readouterr().out)
    assert run_out["rows_routed"] > 0
    assert run_out["buckets_committed"] == 16
    assert cli.main(["status", "--out", out_dir]) == 0
    st = json.loads(capsys.readouterr().out)
    assert st["rows_routed"] == run_out["rows_routed"]
    assert st["runs"][0]["run_id"] == "cli1"
    # resume over a complete ledger: nothing to do
    assert cli.main(["resume", "--pages", pages_dir, "--out", out_dir,
                     "--run-id", "cli2", "--buckets", "16"]) == 0
    res = json.loads(capsys.readouterr().out)
    assert res["rows_routed"] == 0 and res["buckets_committed"] == 0
    # deliver the committed rows to the mock broker; all batches must ack
    broker = str(tmp_path / "broker")
    assert cli.main(["deliver", "--out", out_dir, "--broker", broker]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert "nack" not in rep
    assert rep["ack"]["msgs"] == run_out["rows_routed"]
    # compact: the ledger layout writes ONE file per (bucket, sink) leaf
    # by construction, so a fresh run is already compact — the verb must
    # be a safe no-op here (a fragmented over-split layout is exercised
    # in test_streaming::test_compact_sinks_preserves_rows_and_bounds_files)
    assert cli.main(["compact", "--out", out_dir, "--target-mb", "1024"]) == 0
    comp = json.loads(capsys.readouterr().out)
    assert comp["partitions_rewritten"] == 0
    assert cli.main(["status", "--out", out_dir]) == 0
    st2 = json.loads(capsys.readouterr().out)
    assert st2["rows_routed"] == run_out["rows_routed"]


def test_cli_run_takes_buckets_from_the_stored_setting(
        spark, pages_small, tmp_path, capsys, monkeypatch):
    """`run` without --buckets commits as many buckets as the out_dir's
    persisted ledger.buckets setting says (env > stored > default), not
    the built-in 64."""
    import json

    from logport_spark.plans import ledger as L

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    pages_small.write.parquet(pages_dir)
    monkeypatch.delenv("LOGPORT_SPARK_LEDGER_BUCKETS", raising=False)
    monkeypatch.setattr(cli, "_spark", lambda cpus=None: spark)
    assert cli.main(["set", "--out", out_dir, "ledger.buckets", "8"]) == 0
    capsys.readouterr()
    assert cli.main(["run", "--pages", pages_dir, "--out", out_dir,
                     "--run-id", "stored8"]) == 0
    assert json.loads(capsys.readouterr().out)["buckets_committed"] == 8
    assert L.read_ledger(spark, out_dir).count() == 8


def test_cli_adopt_end_to_end(spark, tmp_path, capsys):
    """`adopt` forks a real command and ships stdout AND stderr as distinct
    substreams plus the exit event — one invocation, like the reference's
    select loop over both pipe fds (src/LogPort.cc:1585-1786)."""
    import json

    from logport_spark.cli import main

    out = str(tmp_path / "adopt_out")
    rc = main(["adopt", "--command",
               "printf 'one line\\n{\"k\":1}\\n';"
               " printf 'err: boom\\n' >&2; exit 5",
               "--out", out, "--name", "fixture"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["exit_code"] == 5
    assert summary["records_shipped"] == 4  # 2 stdout + 1 stderr + exit event

    sinks = spark.read.parquet(out + "/sinks")
    recs = [json.loads(r["record"]) for r in sinks.select("record").collect()]
    logs = {r.get("log") or json.dumps(r.get("log_obj")) for r in recs}
    assert "one line" in logs
    assert "err: boom" in logs
    assert any("exited with status 5" in (r.get("log") or "") for r in recs)
    srcs = {r["source"] for r in recs}
    assert srcs == {"adopt://fixture/stdout", "adopt://fixture/stderr",
                    "adopt://fixture/process_exit"}
    by_src = {(r["source"], r.get("log") or json.dumps(r.get("log_obj")))
              for r in recs}
    assert ("adopt://fixture/stderr", "err: boom") in by_src
    assert ("adopt://fixture/stdout", "one line") in by_src


def test_cli_manifest_builds_stats_and_enables_pruning(
        spark, pages_small, tmp_path, capsys, monkeypatch):
    """`manifest` verb: builds the per-file stats table over a parquet dir
    and reports per-column file counts; the resulting manifest actually
    drives pruned_read (fewer files than the listing on a selective
    predicate over an ordered layout)."""
    import json

    from logport_spark.plans.manifest import cluster_write, pruned_files

    tbl = str(tmp_path / "pages_tbl")
    cluster_write(pages_small.select("url", "warc_ts", "lang"), tbl,
                  "warc_ts", n_files=8)
    monkeypatch.setattr(cli, "_spark", lambda cpus=None: spark)
    assert cli.main(["manifest", "--path", tbl,
                     "--columns", "warc_ts,lang"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["files_per_column"] == {"warc_ts": 8, "lang": 8}
    lo = str(pages_small.agg({"warc_ts": "min"}).first()[0])
    kept = pruned_files(spark, tbl, "warc_ts", lo, lo, numeric=False)
    assert 1 <= len(kept) <= 2   # ordered layout: the min lives in file 1
    # incremental maintenance: append a generation, --update stats it only
    pages_small.limit(20).select("url", "warc_ts", "lang").write.mode(
        "append").parquet(tbl)
    assert cli.main(["manifest", "--path", tbl, "--update"]) == 0
    upd = json.loads(capsys.readouterr().out)
    assert upd["delta"]["kept"] == 8 and upd["delta"]["added"] >= 1
    assert upd["files_per_column"]["warc_ts"] == 8 + upd["delta"]["added"]
