"""Expected outputs, computed without Spark.

- Per-sink `rows_routed`, `bytes_shipped` and `parse_failures` come from
  the program's pure-Python reference oracle, `logport_spark.oracle`, run
  over the same generated pages in a few spawned processes.
- The curated corpus comes from DuckDB, which re-derives the web-curation
  chain (canonical-url snapshot dedup, boilerplate-line removal, corpus
  line dedup, the at-least-2-kept-lines gate) in SQL.
"""

from __future__ import annotations

import hashlib
import multiprocessing as mp
from collections import Counter
from multiprocessing import resource_tracker

SINK_FIELDS = ("rows_routed", "bytes_shipped", "parse_failures")


def _chunk_metrics(pages: list[dict]) -> dict[str, dict[str, int]]:
    from logport_spark.oracle import run_oracle

    return run_oracle(pages)["metrics"]


def sink_metrics(pages: list[dict], procs: int) -> dict[str, dict[str, int]]:
    """{sink: {rows_routed, bytes_shipped, parse_failures}} for `pages`,
    split over `procs` spawned workers (the oracle is pure Python)."""
    chunks = [pages[i::procs] for i in range(procs)]
    pool = mp.get_context("spawn").Pool(procs)
    try:
        parts = pool.map(_chunk_metrics, chunks)
    finally:
        pool.close()
        pool.join()
        # the spawn context started a resource-tracker process that would
        # otherwise outlive this one; stop it and wait for it to end
        resource_tracker._resource_tracker._stop()
    total: dict[str, Counter] = {}
    for part in parts:
        for sink, m in part.items():
            total.setdefault(sink, Counter()).update(m)
    return {s: {f: int(c[f]) for f in SINK_FIELDS} for s, c in sorted(total.items())}


def digest_rows(rows) -> str:
    """Order-insensitive digest of (url, n_kept, text) rows: the sorted
    list of per-row sha1s, hashed again."""
    hs = sorted(hashlib.sha1(f"{u}\x00{n}\x00{t}".encode()).hexdigest()
                for u, n, t in rows)
    return hashlib.sha1("".join(hs).encode()).hexdigest()


# The canonical_url chain, in DuckDB's regex dialect, then the curation
# semantics stated per stage.
CURATE_SQL = r"""
WITH p AS (SELECT url, warc_ts, text FROM read_parquet('{pages}/*.parquet'))
, s1 AS (SELECT *, regexp_replace(url, '#.*', '', 'g') AS c FROM p)
, s2 AS (SELECT * REPLACE (regexp_replace(c,
    '([?&])(?:utm_[a-z]+|fbclid|gclid|msclkid|ref)=[^&#]*', '\1', 'g') AS c)
  FROM s1)
, s3 AS (SELECT * REPLACE (regexp_replace(c, '[?&]+$', '', 'g') AS c) FROM s2)
, s4 AS (SELECT * REPLACE (regexp_replace(c, '([?&])&+', '\1', 'g') AS c) FROM s3)
, s5 AS (SELECT * REPLACE (
    lower(regexp_extract(c, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'))
    || regexp_replace(c, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS c) FROM s4)
, canon AS (SELECT * REPLACE (regexp_replace(c,
    '^(https?://[^/?#:]+):(?:80|443)([/?#]|$)', '\1\2', 'g') AS c) FROM s5)
-- newest snapshot per canonical url, url as the tiebreak
, surv AS (SELECT url FROM canon
           QUALIFY row_number() OVER (
               PARTITION BY c ORDER BY warc_ts DESC, url DESC) = 1)
, numbered AS (
    SELECT url, unnest(generate_series(1, len(parts))) AS line_no,
           unnest(parts) AS line
    FROM (SELECT url, string_split(text, chr(10)) AS parts FROM p
          WHERE url IN (SELECT url FROM surv)))
, lines AS (SELECT url, line_no, line FROM numbered WHERE length(line) > 0)
-- boilerplate: a line on at least {min_docs} distinct pages goes everywhere
, dfq AS (SELECT line, count(DISTINCT url) AS df FROM lines GROUP BY line)
, nb AS (SELECT url, line_no, line FROM lines
         WHERE line NOT IN (SELECT line FROM dfq WHERE df >= {min_docs}))
-- corpus line dedup: the first (url, line_no) occurrence survives
, kept AS (SELECT url, line_no, line FROM nb
           QUALIFY row_number() OVER (
               PARTITION BY line ORDER BY url, line_no) = 1)
SELECT url, count(*) AS n_kept,
       string_agg(line, chr(10) ORDER BY line_no) AS text
FROM kept GROUP BY url HAVING count(*) >= {min_kept}
"""


def curated(pages_dir: str, min_docs: int, min_kept: int,
            threads: int) -> dict:
    """{"rows": n, "digest": ...} of the curated corpus over pages_dir."""
    import duckdb

    con = duckdb.connect(config={"threads": threads})
    try:
        rows = con.execute(CURATE_SQL.format(
            pages=pages_dir, min_docs=min_docs, min_kept=min_kept)).fetchall()
    finally:
        con.close()
    return {"rows": len(rows), "digest": digest_rows(rows)}
