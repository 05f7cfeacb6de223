"""Deterministic synthetic `pages` table (the BASELINE.json input_hint shape).

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

No external data: every row is a pure function of (seed=42, doc_id), so the
table is identical regardless of how many partitions generate it, which
machine runs it, or whether the local (pandas) or distributed (mapInPandas)
generator is used. The embedded line corpus exercises every branch of the
reference's parse path (Watch::filterLogLine, src/Watch.cc:377-426):
unstructured lines, escape-heavy lines, canonical JSON objects/arrays,
malformed JSON (parse-failure branch), empty lines (dropped), and a
hot-domain skew knob (~30% of rows on one domain) to exercise the
bucketed fan-out write's skew defense.

JSON lines are generated ALREADY in canonical sorted-compact form so that
`json.loads → json.dumps(sort_keys, compact)` is the identity — this is what
makes the envelope byte-level oracle expressible in ANSI SQL (the oracle can
embed the raw line where the engine re-serializes).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np

from .config import (
    HOT_DOMAIN,
    LANGS,
    N_DOMAINS,
    UNMATCHED_DOMAIN,
    UNMATCHED_LANG,
    domain_name,
    domain_tld_rows,
    lang_locale_rows,
    routes_rows,
)

SEED = 42
BASE_TS = datetime(2024, 8, 1, 0, 0, 0)  # naive UTC; session TZ is UTC

# <checkout>/data, next to the package, so any copy of the tree reads and
# writes its own data; LOGPORT_SPARK_DATA_DIR overrides it.
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.environ.get("LOGPORT_SPARK_DATA_DIR", os.path.join(_CHECKOUT, "data"))

# docs per scale factor (sf0.1 ≈ 2M routed records at ~20 lines/doc)
SF_DOCS = {"0.001": 1_000, "0.01": 10_000, "0.1": 100_000, "1": 1_000_000,
           "10": 10_000_000}

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu request response cache miss hit worker queue retry flush "
    "commit rollback shard replica leader follower region zone bucket object"
).split()

METHODS = ["GET", "POST", "PUT", "DELETE", "HEAD"]
LEVELS = ["info", "warn", "error", "debug", "trace"]

# distinct per-language marker tokens → language-ID heuristic is testable
LANG_MARKERS = {
    "en": ["the", "and"],
    "de": ["der", "und"],
    "fr": ["les", "dans"],
    "es": ["los", "pero"],
    "zh": ["shi", "bu"],
    "ja": ["desu", "wa"],
    "pt": ["nao", "uma"],
    "ru": ["eto", "kak"],
}

ESCAPE_LINES = [
    'path "C:\\tmp\\x" end',
    "tab\there and\ttab",
    'quote "q" back\\slash mix',
    "trailing space and \"quoted\" \\ done",
]

BAD_JSON_LINES = ['{"level":"info",', "[1,2", '{"a":}', "{broken", "[}"]

_canon = lambda obj: json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def _gen_doc(doc_id: int) -> dict:
    """One deterministic page row. Pure function of doc_id."""
    rng = np.random.default_rng([SEED, int(doc_id)])
    r = rng.random()
    if r < 0.30:
        domain = HOT_DOMAIN  # hot-domain skew knob
    elif r < 0.32:
        domain = UNMATCHED_DOMAIN
    else:
        domain = domain_name(int(rng.integers(0, N_DOMAINS)))
    lang = UNMATCHED_LANG if rng.random() < 0.02 else LANGS[int(rng.integers(0, len(LANGS)))]
    url = f"https://{domain}/p/{doc_id}"
    warc_ts = BASE_TS + timedelta(
        seconds=int(rng.integers(0, 30 * 86400)), microseconds=int(rng.integers(0, 1_000_000))
    )
    markers = LANG_MARKERS.get(lang, [])
    n_lines = int(rng.integers(1, 41))
    lines: list[str] = []
    for _ in range(n_lines):
        p = rng.random()
        if p < 0.10:
            lines.append("")  # empty → dropped by the pipeline (P2)
        elif p < 0.15:
            lines.append(ESCAPE_LINES[int(rng.integers(0, len(ESCAPE_LINES)))])
        elif p < 0.35:
            obj = {
                "level": LEVELS[int(rng.integers(0, len(LEVELS)))],
                "msg": WORDS[int(rng.integers(0, len(WORDS)))],
                "code": int(rng.integers(0, 100)),
            }
            if rng.random() < 0.3:
                obj["ctx"] = {"attempt": int(rng.integers(0, 5)), "src": WORDS[int(rng.integers(0, len(WORDS)))]}
            lines.append(_canon(obj))
        elif p < 0.40:
            lines.append(_canon([int(rng.integers(0, 1000)), WORDS[int(rng.integers(0, len(WORDS)))], {"k": int(rng.integers(0, 50))}]))
        elif p < 0.45:
            lines.append(BAD_JSON_LINES[int(rng.integers(0, len(BAD_JSON_LINES)))])
        elif p < 0.455:
            # scrub-hook trigger (reference src/Watch.cc:381-396, commented hook)
            lines.append(_canon({"card_number": "4111111111111111", "msg": "payment"}))
        else:
            toks = [
                METHODS[int(rng.integers(0, len(METHODS)))],
                f"/{WORDS[int(rng.integers(0, len(WORDS)))]}/{int(rng.integers(0, 10000))}",
                str(int(rng.integers(100, 600))),
                str(int(rng.integers(0, 1 << 20))),
            ]
            for _ in range(int(rng.integers(0, 6))):
                toks.append(WORDS[int(rng.integers(0, len(WORDS)))])
            if markers:
                for _ in range(int(rng.integers(1, 4))):
                    toks.append(markers[int(rng.integers(0, len(markers)))])
            lines.append(" ".join(toks))
    text = "\n".join(lines)
    # Head policy markers (robots / canonical / license), pure functions of
    # doc_id — the signals `operators.parse.html_policy` extracts. They live
    # inside <head>, which html_to_text strips wholesale, so body text and
    # the lp_* byte-exact envelope contract are untouched.
    head = b""
    if doc_id % 13 == 0:
        head += b'<meta name="robots" content="noindex,nofollow">'
    elif doc_id % 13 == 5:
        head += b'<meta name="robots" content="index,follow">'
    if doc_id % 7 == 0:
        canon = (f"https://{domain}/canon/{doc_id // 3}"
                 if doc_id % 21 == 0 else url)
        head += f'<link rel="canonical" href="{canon}">'.encode()
    if doc_id % 11 == 0:
        lic = ("https://creativecommons.org/publicdomain/zero/1.0/"
               if doc_id % 33 == 0
               else "https://creativecommons.org/licenses/by/4.0/")
        head += f'<link rel="license" href="{lic}">'.encode()
    # Outbound links after the main content (0-3 per page, arithmetic in
    # doc_id so the link graph is pure-function-deterministic): targets are
    # /p/<id> urls in [0, 10000) — mostly real pages at sf0.01, mostly
    # dangling at smaller sf, like a real crawl's frontier edge. Anchor
    # text leaks into html_to_text's body (tags strip, text stays) exactly
    # as on real pages; the `text` column is untouched.
    links = b""
    for j in range(doc_id % 4):
        tdom = domain_name((doc_id * 7 + j * 13) % N_DOMAINS)
        tid = (doc_id * 31 + j * 101) % 10_000
        anchor = (f"{WORDS[(doc_id + j) % len(WORDS)]} "
                  f"{WORDS[(doc_id * 3 + j + 1) % len(WORDS)]}")
        links += (f'<p><a href="https://{tdom}/p/{tid}">{anchor}</a></p>'
                  .encode())
    html = (
        b"<!DOCTYPE html><html><head><title>" + url.encode() + b"</title>"
        + head + b"</head><body><pre>"
        + text.encode("utf-8")
        + (b"\xff\xfe" if doc_id % 97 == 0 else b"")  # occasional invalid-utf8 html
        + b"</pre>" + links + b"</body></html>"
    )
    return {"url": url, "warc_ts": warc_ts, "html": html, "text": text, "lang": lang}


def gen_docs(doc_ids) -> list[dict]:
    return [_gen_doc(i) for i in doc_ids]


PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def gen_pages_spark(spark, n_docs: int, partitions: int | None = None):
    """Distributed deterministic generator (scales to any n_docs)."""
    import pandas as pd

    # round up to a multiple of 32 so a 32-wide executor wave has no
    # straggler tail (40 partitions on 32 cores = 1.25 waves, 37% idle)
    partitions = partitions or max(8, ((n_docs // 25_000 + 31) // 32) * 32 or 8)

    def batches(it):
        for pdf in it:
            rows = gen_docs(pdf["id"].tolist())
            yield pd.DataFrame(rows)

    return spark.range(0, n_docs, numPartitions=partitions).mapInPandas(batches, PAGES_DDL)


def pages_path(sf: str) -> str:
    return os.path.join(DATA_DIR, f"pages_sf{sf}")


def sf_of_dir(sf_dir: str) -> str:
    """Map a driver testdata dir like /root/testdata/sf0.01 → '0.01'."""
    base = os.path.basename(sf_dir.rstrip("/"))
    return base[2:] if base.startswith("sf") else "0.01"


PAGES_GEN = "_GEN_V3"  # bump when _gen_doc changes → stale caches regenerate


def ensure_pages(sf: str, spark=None) -> str:
    """Generate (once) and return the parquet path for scale factor `sf`."""
    path = pages_path(sf)
    if os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
            os.path.join(path, PAGES_GEN)):
        return path
    n = SF_DOCS.get(sf, 10_000)
    os.makedirs(DATA_DIR, exist_ok=True)
    if os.path.exists(path):  # stale generation — clear so no old part
        import shutil         # files survive alongside the rewrite
        shutil.rmtree(path)
    if spark is not None:
        gen_pages_spark(spark, n).write.mode("overwrite").parquet(path)
    else:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        pdf = pd.DataFrame(gen_docs(range(n)))
        schema = pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), os.path.join(path, "part-0.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    open(os.path.join(path, PAGES_GEN), "w").close()
    return path


# ---------------------------------------------------------------- documents
# Deterministic `documents`/`embeddings` tables in the driver-testdata shape
# (documents: doc_id,text,lang,source,n_chars; embeddings: vec_id,
# embedding ARRAY<FLOAT> unit-norm, label). Used ONLY for the dedup-family
# scale bench (bench.py --dedup-scale): the driver's read-only
# /root/testdata tables stop at sf0.1 (5k docs), and the banded dedup paths
# need an order-of-magnitude ladder (5k → 50k → 500k) to show throughput
# holds. Same purity rule as `_gen_doc`: every row is a function of
# (DOC_SEED, id), so any partitioning yields the identical table.

DOC_SEED = 43  # distinct stream from the pages generator
DOC_LANGS = ["en", "de", "fr", "es", "zh"]
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 16


def _doc_text(rng, markers: list[str]) -> str:
    n_words = int(rng.integers(8, 81))
    toks = [WORDS[int(rng.integers(0, len(WORDS)))] for _ in range(n_words)]
    for _ in range(int(rng.integers(1, 4))):
        toks[int(rng.integers(0, n_words))] = markers[int(rng.integers(0, len(markers)))]
    return " ".join(toks)


def _gen_document(doc_id: int) -> dict:
    """One deterministic documents row. ~7% of docs are near-duplicates of an
    earlier doc (token-level mutation of doc_id-7's text) and ~2% exact
    duplicates — so exact/MinHash/SimHash dedup all find real pairs at any
    scale, at a rate that keeps candidate sets O(n)."""
    rng = np.random.default_rng([DOC_SEED, int(doc_id)])
    lang = DOC_LANGS[int(rng.integers(0, len(DOC_LANGS)))]
    source = f"src{int(rng.integers(0, N_SOURCES))}"
    if doc_id >= 7 and doc_id % 50 == 3:           # exact duplicate
        base = _gen_document(doc_id - 7)
        text, lang = base["text"], base["lang"]
    elif doc_id >= 7 and doc_id % 15 == 2:         # near duplicate (~1 token in 20 mutated)
        base = _gen_document(doc_id - 7)
        toks = base["text"].split()
        for _ in range(max(1, len(toks) // 20)):
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        text, lang = " ".join(toks), base["lang"]
    else:
        text = _doc_text(rng, LANG_MARKERS.get(lang, ["the", "and"]))
    return {"doc_id": doc_id, "text": text, "lang": lang,
            "source": source, "n_chars": len(text)}


def _emb_centers() -> np.ndarray:
    rng = np.random.default_rng([DOC_SEED, 999_983])
    c = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


_EMB_CENTERS = None


def _gen_embedding(vec_id: int) -> dict:
    """One deterministic unit-norm embedding row; clustered (for IVF) with
    ~4% planted near-dups (cosine ≳ 0.99 of vec_id-11) for the LSH pair path."""
    global _EMB_CENTERS
    if _EMB_CENTERS is None:
        _EMB_CENTERS = _emb_centers()
    rng = np.random.default_rng([DOC_SEED, 7, int(vec_id)])
    if vec_id >= 11 and vec_id % 25 == 11:
        base = np.asarray(_gen_embedding(vec_id - 11)["embedding"])
        v = base + 0.02 * rng.standard_normal(EMB_DIM)
        label = _gen_embedding(vec_id - 11)["label"]
    else:
        label = int(rng.integers(0, EMB_CLUSTERS))
        v = _EMB_CENTERS[label] + 0.35 * rng.standard_normal(EMB_DIM)
    v = v / np.linalg.norm(v)
    return {"vec_id": vec_id, "embedding": v.astype(np.float32).tolist(),
            "label": label}


DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"
EMB_DDL = "vec_id long, embedding array<float>, label int"


def ensure_documents(n_docs: int, spark, embeddings: bool = True) -> str:
    """Generate (once) an sf-dir-shaped directory holding documents.parquet
    (and embeddings.parquet unless embeddings=False — the 5M+ text-op
    ladder points skip the 64-float vectors) at `n_docs` rows each; return
    its path. The __spark_entry__ query functions accept it directly as
    `sf_dir`."""
    import pandas as pd

    root = os.path.join(DATA_DIR, f"docs_{n_docs}")
    if os.path.exists(os.path.join(root, "_SUCCESS")):
        return root
    parts = max(8, ((n_docs // 25_000 + 31) // 32) * 32 or 8)

    def doc_batches(it):
        for pdf in it:
            yield pd.DataFrame([_gen_document(i) for i in pdf["id"].tolist()])

    def emb_batches(it):
        for pdf in it:
            yield pd.DataFrame([_gen_embedding(i) for i in pdf["id"].tolist()])

    (spark.range(0, n_docs, numPartitions=parts).mapInPandas(doc_batches, DOCS_DDL)
        .write.mode("overwrite").parquet(os.path.join(root, "documents.parquet")))
    if embeddings:
        (spark.range(0, n_docs, numPartitions=parts).mapInPandas(emb_batches, EMB_DDL)
            .write.mode("overwrite").parquet(os.path.join(root, "embeddings.parquet")))
    open(os.path.join(root, "_SUCCESS"), "w").close()
    return root


N_LEDGER_BUCKETS = 64
FIXTURE_COMMITTED = list(range(32))  # ledger fixture: buckets 0..31 committed

DEADLETTER_LINES = [
    '{"level":"error",',          # parse-fail again on replay
    "[1,2",                        # parse-fail again
    "plain retry line one",        # succeeds on replay
    '{"a":1,"b":"ok"}',           # succeeds (canonical json)
    "{broken",
]


def deadletter_rows() -> list[dict]:
    """Synthetic dead-letter fixture: prior-run undelivered lines (S3 analog).

    Deterministic; urls use a /dl/ path so (url, line_no) never collides with
    live pages. Domains cover matched (hot), lookup-matched, and unmatched
    (default-route) cases."""
    doms = [HOT_DOMAIN, domain_name(0), domain_name(7), UNMATCHED_DOMAIN]
    rows = []
    for i in range(40):
        rows.append(
            {
                "url": f"https://{doms[i % len(doms)]}/dl/{i}",
                "warc_ts": BASE_TS + timedelta(seconds=i, microseconds=i * 137),
                "lang": LANGS[i % len(LANGS)],
                "line_no": 1 + (i % 3),
                "raw": DEADLETTER_LINES[i % len(DEADLETTER_LINES)],
                "reason": "json_parse_failure",
            }
        )
    return rows


def _write_fixture(path: str, pdf, schema=None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def ensure_fixtures(sf: str) -> dict[str, str]:
    """Ledger/resume fixtures for the driver contract, all pure-Python:

    - url_buckets_sf{sf}: (url, bucket) with bucket = crc32(url) % 64 —
      bit-identical to the engine's JVM crc32 bucket (plans/ledger.py), so
      the DuckDB oracle can join instead of hashing.
    - ledger_fixture: a half-committed ledger (buckets 0..31).
    - deadletter: prior-run undelivered lines for replay-union.
    """
    import zlib

    import pandas as pd
    import pyarrow as pa

    out = {}
    ub = os.path.join(DATA_DIR, f"url_buckets_sf{sf}")
    out["url_buckets"] = ub
    if not os.path.exists(os.path.join(ub, "_SUCCESS")):
        pages = pages_path(sf)
        if os.path.exists(os.path.join(pages, "_SUCCESS")):
            # Fast path: urls already materialized — column-pruned parquet read
            # instead of re-running the full doc generator in pure Python.
            import pyarrow.dataset as ds

            urls = ds.dataset(pages, format="parquet").to_table(
                columns=["url"]).column("url").to_pylist()
        else:
            n = SF_DOCS.get(sf, 10_000)
            urls = [d["url"] for d in gen_docs(range(n))]
        _write_fixture(ub, pd.DataFrame({
            "url": urls,
            "bucket": [zlib.crc32(u.encode()) % N_LEDGER_BUCKETS for u in urls],
        }))
    lf = os.path.join(DATA_DIR, "ledger_fixture")
    out["ledger_fixture"] = lf
    if not os.path.exists(os.path.join(lf, "_SUCCESS")):
        _write_fixture(lf, pd.DataFrame({
            "run_id": ["fixture"] * len(FIXTURE_COMMITTED),
            "bucket": FIXTURE_COMMITTED,
            "status": ["committed"] * len(FIXTURE_COMMITTED),
        }))
    dl = os.path.join(DATA_DIR, "deadletter")
    out["deadletter"] = dl
    if not os.path.exists(os.path.join(dl, "_SUCCESS")):
        pdf = pd.DataFrame(deadletter_rows())
        schema = pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
            ("lang", pa.string()), ("line_no", pa.int32()),
            ("raw", pa.string()), ("reason", pa.string()),
        ])
        _write_fixture(dl, pdf, schema)
    return out


def ensure_hyperplanes(dim: int = 64, n_planes: int = 64) -> str:
    """Persist the seed-42 random-hyperplane matrix (operators/similarity.py)
    as a parquet fixture so the DuckDB oracle can recompute LSH signatures
    independently: one row per plane, (plane_id INT, w ARRAY<DOUBLE>)."""
    import pandas as pd

    from logport_spark.operators.similarity import hyperplanes

    path = os.path.join(DATA_DIR, "hyperplanes")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        planes = hyperplanes(dim, n_planes)
        _write_fixture(path, pd.DataFrame({
            "plane_id": list(range(n_planes)),
            "w": [row.tolist() for row in planes],
        }))
    return path


def ensure_lookups() -> dict[str, str]:
    """Write the small lookup/config tables once, for the readers that need
    them as files (the DuckDB oracles, bench.py); return name→path. The
    pipeline builds the same rows in the driver (enrich.load_lookups)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DATA_DIR, exist_ok=True)
    out = {}
    for name, rows in (
        ("domain_tld", domain_tld_rows()),
        ("lang_locale", lang_locale_rows()),
        ("routes", routes_rows()),
    ):
        path = os.path.join(DATA_DIR, f"{name}")
        out[name] = path
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            os.makedirs(path, exist_ok=True)
            pq.write_table(
                pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False),
                os.path.join(path, "part-0.parquet"),
            )
            open(os.path.join(path, "_SUCCESS"), "w").close()
    return out
