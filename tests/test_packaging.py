"""spark-submit --py-files packaging evidence (north_rule).

Builds out/logport_spark.zip and runs the full parse→enrich→route pipeline
in a CLEAN subprocess whose only source of the package is the zip — the
same zipimport mechanism spark-submit uses to ship --py-files to executors.
The repo root is deliberately absent from the child's sys.path.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pipeline_runs_from_pyfiles_zip(tmp_path):
    from tools.package_pyfiles import build

    zip_path = build(str(tmp_path / "logport_spark.zip"))

    child = textwrap.dedent("""
        import sys
        # The package must resolve from the zip (zipimport), not the repo.
        import logport_spark
        assert ".zip" in logport_spark.__file__, logport_spark.__file__

        from logport_spark.session import get_spark
        from logport_spark import datagen
        from logport_spark.plans.pipeline import parsed_routed, sink_metrics

        spark = get_spark("pyfiles_smoke", cpus=4)
        import pandas as pd
        pages = spark.createDataFrame(
            pd.DataFrame(datagen.gen_docs(range(50))), schema=datagen.PAGES_DDL)
        m = sink_metrics(parsed_routed(spark, pages)).collect()
        assert sum(r["rows_routed"] for r in m) > 0
        print("ZIPRUN_OK", sum(r["rows_routed"] for r in m))
    """)
    script = tmp_path / "child.py"
    script.write_text(child)

    env = dict(os.environ)
    env["PYTHONPATH"] = zip_path  # the zip is the ONLY package source
    env["LOGPORT_SPARK_DATA_DIR"] = str(tmp_path / "data")
    r = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ZIPRUN_OK" in r.stdout


def test_copied_tree_runs_its_own_code(tmp_path):
    """A copy of the tree, loaded by file path from an unrelated working
    directory with no PYTHONPATH or data-dir override, imports ITS OWN
    package and keeps its data beside it — never the checkout it was
    copied from."""
    import shutil

    copy = tmp_path / "copy"
    shutil.copytree(os.path.join(REPO, "logport_spark"), copy / "logport_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "__spark_entry__.py"), copy)
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    child = textwrap.dedent(f"""
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", {str(copy / "__spark_entry__.py")!r})
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        import logport_spark
        from logport_spark import datagen
        print(logport_spark.__file__)
        print(datagen.DATA_DIR)
    """)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "LOGPORT_SPARK_DATA_DIR")}
    r = subprocess.run([sys.executable, "-c", child], cwd=str(elsewhere),
                       env=env, capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-3000:]
    pkg_file, data_dir = r.stdout.split()[-2:]
    assert pkg_file == str(copy / "logport_spark" / "__init__.py"), pkg_file
    assert data_dir == str(copy / "data"), data_dir


def test_workers_import_the_package_from_any_directory(tmp_path):
    """A session started outside the checkout, with PYTHONPATH unset, runs
    json_mid_udf: its Python workers (and their daemon,
    logport_spark.worker_daemon) find the package through the checkout root
    get_spark puts on spark.executorEnv.PYTHONPATH."""
    child = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from logport_spark.operators.parse import json_mid_udf
        from logport_spark.session import get_spark

        spark = get_spark("udf_elsewhere", cpus=2)
        df = spark.createDataFrame([('{{"b":1,"a":[2.5]}}',), ("[",)], "line string")
        print("MIDS", [r.m for r in df.select(json_mid_udf("line").mid.alias("m")).collect()])
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, "-c", child], cwd=str(tmp_path),
                       env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    assert """MIDS [',"log_obj":{"a":[2.5],"b":1}', ',"log":"["']""" in r.stdout


def _code_sites(words: set[str], subdir: str = "logport_spark") -> dict:
    """{word: {"<module path>::<enclosing function>"}} for every code token
    in `words` under `subdir`: a name, an attribute ('.x') or a string
    literal ('"x"'). Docstrings and comments are not code tokens, so prose
    never counts."""
    import ast
    import io
    import tokenize

    sites: dict[str, set[str]] = {w: set() for w in words}
    root = os.path.join(REPO, subdir)
    for d, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(d, fn)
            with open(path, encoding="utf-8") as f:
                src = f.read()
            funcs = [(n.lineno, n.end_lineno, n.name)
                     for n in ast.walk(ast.parse(src))
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
            rel = os.path.relpath(path, REPO)
            prev = ""
            for tok in tokenize.generate_tokens(io.StringIO(src).readline):
                word = "." + tok.string if prev == "." else tok.string
                prev = tok.string
                if tok.type not in (tokenize.NAME, tokenize.STRING) or word not in words:
                    continue
                line = tok.start[0]
                inner = max((f for f in funcs if f[0] <= line <= f[1]),
                            key=lambda f: f[0], default=(0, 0, "<module>"))
                sites[word].add(f"{rel}::{inner[2]}")
    return sites


def test_one_micro_batch_protocol():
    """Every streaming runner goes through streaming/stream.py: one file
    source (pages_stream; adopt's socket source is the only other
    readStream), one availableNow drain, one batch_id dynamic-overwrite
    write. Only the two runners that hand back a running query start one
    themselves."""
    stream = "logport_spark/streaming/stream.py"
    sites = _code_sites({".awaitTermination", "availableNow", ".readStream",
                         '"partitionOverwriteMode"'})
    assert sites[".awaitTermination"] == {f"{stream}::drain"}
    assert sites["availableNow"] == {f"{stream}::drain"}
    assert sites['"partitionOverwriteMode"'] == {
        f"{stream}::write_batch_partition"}
    assert sites[".readStream"] == {
        f"{stream}::pages_stream",
        "logport_spark/streaming/adopt.py::adopt_stream"}
    starts = _code_sites({".start"}, "logport_spark/streaming")[".start"]
    assert starts == {f"{stream}::drain", f"{stream}::run_stream_kafka",
                      "logport_spark/streaming/adopt.py::run_adopt"}


def test_one_line_grain_core():
    """The line-dedup family, batch and stream, runs on one core in
    operators/dedup.py: the per-doc line-number keep-list is aggregated in
    _rebuild_docs only, the streaming line dedup explodes no line of its
    own, and no line operator forces a broadcast."""
    dedup = "logport_spark/operators/dedup.py"
    stream = "logport_spark/streaming/dedup_stream.py"
    sites = _code_sites({".collect_list", '"line_no"', ".posexplode",
                         ".split", ".broadcast"})
    assert sites[".collect_list"] & sites['"line_no"'] == {
        f"{dedup}::_rebuild_docs"}
    assert not {s for s in sites[".posexplode"] | sites[".split"]
                if s.startswith(f"{stream}::")}
    line_family = {f"{dedup}::{f}" for f in (
        "_doc_line_arrays", "_line_meta", "_rebuild_docs", "_first_winners",
        "_strip_boilerplate", "dedup_lines_corpus", "strip_boilerplate_lines",
        "domain_boilerplate_lines", "curate_lines_corpus")}
    line_family |= {f"{stream}::{f}" for f in (
        "line_dedup_core", "process_batch_line_dedup")}
    assert not sites[".broadcast"] & line_family


def test_one_pair_core():
    """The near-duplicate pair miners run on one core: dedup.shared_key_pairs
    is the one id-ordered self-join (the brute theta join
    similarity.embedding_near_pairs aside), dedup.cap_buckets the one
    hot-key anti-join, and similarity._dot the one dot-product fold. No
    pair miner forces a broadcast: the relations they join grow with the
    corpus, so AQE picks each join's strategy."""
    import ast

    ops = "logport_spark/operators"
    dedup, sim = f"{ops}/dedup.py", f"{ops}/similarity.py"
    miners = {f"{dedup}::{f}" for f in (
        "jaccard_pairs", "containment_pairs", "lsh_candidates",
        "_simhash_banded")}
    miners |= {f"{sim}::{f}" for f in (
        "embedding_lsh_pairs", "semantic_dedup_pairs", "sparse_near_pairs",
        "hybrid_near_pairs")}
    miners.add(f"{ops}/linkgraph.py::cocitation_pairs")
    caps = {"max_bucket", "max_df", "max_cell", "max_dim_df", "max_fanout"}
    sites = _code_sites({".alias", '"a"', '"b"', "shared_key_pairs",
                         "_dim_dots", '"left_anti"', ".broadcast", *caps},
                        ops)
    assert sites[".alias"] & sites['"a"'] & sites['"b"'] == {
        f"{dedup}::shared_key_pairs", f"{sim}::embedding_near_pairs"}
    # the sparse dot miners reach the self-join through their one dim-join
    assert f"{sim}::_dim_dots" in sites["shared_key_pairs"]
    assert miners <= sites["shared_key_pairs"] | sites["_dim_dots"]
    capped = set().union(*(sites[c] for c in caps))
    assert sites['"left_anti"'] & capped == {f"{dedup}::cap_buckets"}
    assert not sites[".broadcast"] & miners

    folds = set()
    root = os.path.join(REPO, ops)
    for fn in sorted(os.listdir(root)):
        if not fn.endswith(".py"):
            continue
        with open(os.path.join(root, fn), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        docs = {id(n.body[0].value) for n in ast.walk(tree)
                if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
                and ast.get_docstring(n) is not None}
        funcs = [(n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
                 if isinstance(n, ast.FunctionDef)]
        for n in ast.walk(tree):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and "aggregate(zip_with(" in n.value
                    and id(n) not in docs):
                inner = max((f for f in funcs if f[0] <= n.lineno <= f[1]),
                            key=lambda f: f[0], default=(0, 0, "<module>"))
                folds.add(f"{ops}/{fn}::{inner[2]}")
    assert folds == {f"{sim}::_dot"}

def test_one_filesystem_layer():
    """The pipeline touches the filesystem of its own tables through one
    layer: plans/ledger.py's Hadoop-FS helpers (hadoop_fs is the only
    getFileSystem call) and one fold (stream.fold_batches owns the
    `.compact` generation dir). The modules that keep those tables call
    no Python os.path / os.listdir / os.walk, which see local disk only."""
    import io
    import tokenize

    sites = _code_sites({".getFileSystem", '".compact"'})
    assert sites[".getFileSystem"] == {
        "logport_spark/plans/ledger.py::hadoop_fs"}
    assert sites['".compact"'] == {
        "logport_spark/streaming/stream.py::fold_batches"}
    pkg = os.path.join(REPO, "logport_spark")
    paths = [os.path.join(pkg, "plans", m)
             for m in ("ledger.py", "iterstate.py", "manifest.py")]
    paths.append(os.path.join(pkg, "operators", "route.py"))
    stream_dir = os.path.join(pkg, "streaming")
    paths += [os.path.join(stream_dir, fn)
              for fn in sorted(os.listdir(stream_dir)) if fn.endswith(".py")]
    for path in paths:
        with open(path, encoding="utf-8") as f:
            toks = [t.string for t in
                    tokenize.generate_tokens(io.StringIO(f.read()).readline)
                    if t.type in (tokenize.NAME, tokenize.OP)]
        calls = {".".join(toks[i:i + 3:2]) for i in range(len(toks) - 2)
                 if toks[i] == "os" and toks[i + 1] == "."}
        assert not calls & {"os.path", "os.listdir", "os.walk"}, (path, calls)


def test_small_tables_build_no_rdd_and_infer_no_schema():
    """Small tables stay in the driver: no list-built frame anywhere in the
    package (a parallelized RDD whose first action starts a Python worker
    to return rows the driver already holds), and the ledger reads its own
    tables with their declared schemas — only read_routed, which may point
    at another layout, infers one."""
    import ast

    for d, _, files in os.walk(os.path.join(REPO, "logport_spark")):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), encoding="utf-8") as f:
                    assert "createDataFrame([]" not in f.read(), fn
    with open(os.path.join(REPO, "logport_spark", "plans", "ledger.py"),
              encoding="utf-8") as f:
        src = f.read()
    funcs = {n.name: ast.get_source_segment(src, n)
             for n in ast.parse(src).body if isinstance(n, ast.FunctionDef)}
    infer = "spark.read.parquet("
    assert src.count(infer) == funcs["read_routed"].count(infer) == 1
