"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (seed, workload size): the same seed
gives byte-identical parquet. The program under test only ever sees the
written `pages(url, warc_ts, html, text, lang)` files.

The line mix follows the repository's synthetic corpus: about 18.5
non-empty lines per page, about 35% `{`/`[` candidate lines, 5% malformed
JSON and a 30% hot domain. JSON lines are written already canonical
(sorted keys, compact, integers only), so the pure-Python oracle
re-serializes them exactly. The domain names match the program's routing
table so every route, including the default one, receives records.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_DOMAIN = "hot.example.com"
UNMATCHED_DOMAIN = "unknown.example.xyz"
TLDS = ["com", "org", "net", "io", "de", "fr", "shop"]
DOMAINS = [f"d{i:02d}.site{i % 9}.{TLDS[i % len(TLDS)]}" for i in range(50)]
LANGS = ["en", "de", "fr", "es", "zh", "ja", "pt", "ru"]
UNMATCHED_LANG = "xx"
BASE_TS = datetime(2024, 8, 1, tzinfo=timezone.utc)

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu request response cache miss hit worker queue retry flush "
    "commit rollback shard replica leader follower region zone bucket object"
).split()
METHODS = ["GET", "POST", "PUT", "DELETE", "HEAD"]
LEVELS = ["info", "warn", "error", "debug", "trace"]
ESCAPE_LINES = [
    'path "C:\\tmp\\x" end',
    "tab\there and\ttab",
    'quote "q" back\\slash mix',
    'trailing space and "quoted" \\ done',
]
BAD_JSON_LINES = ['{"level":"info",', "[1,2", '{"a":}', "{broken", "[}"]
CARD_LINE = '{"card_number":"4111111111111111","msg":"payment"}'
# recrawl snapshots: the same page under a url that canonicalizes back to it
# (the page index keeps every raw url unique)
RECRAWL_SUFFIXES = ["?utm_source=f{}", "#s{}", "?ref=r{}"]

# cumulative line-kind thresholds: empty, escape, object, array, bad, card,
# plain (the rest)
_KIND_EDGES = np.array([0.10, 0.15, 0.35, 0.40, 0.45, 0.455])

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _page_attrs(rng: np.random.Generator, n: int):
    """Domain, lang and timestamp columns for n pages."""
    r = rng.random(n)
    dom_idx = rng.integers(0, len(DOMAINS), n)
    domains = np.where(r < 0.30, HOT_DOMAIN,
                       np.where(r < 0.32, UNMATCHED_DOMAIN,
                                np.array(DOMAINS, dtype=object)[dom_idx]))
    langs = np.where(rng.random(n) < 0.02, UNMATCHED_LANG,
                     np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)])
    secs = rng.integers(0, 30 * 86400, n)
    micros = rng.integers(0, 1_000_000, n)
    ts = [BASE_TS + timedelta(seconds=int(s), microseconds=int(u))
          for s, u in zip(secs, micros)]
    return domains, langs, ts


def _mixed_lines(rng: np.random.Generator, n_lines: int) -> list[str]:
    """n_lines lines drawn from the mixed line distribution."""
    kind = np.searchsorted(_KIND_EDGES, rng.random(n_lines), side="right")
    a = rng.integers(0, 1 << 20, (n_lines, 8))
    w = len(WORDS)
    out = []
    for k, x in zip(kind.tolist(), a.tolist()):
        if k == 0:
            out.append("")
        elif k == 1:
            out.append(ESCAPE_LINES[x[0] % 4])
        elif k == 2:
            ctx = (f'"ctx":{{"attempt":{x[4] % 5},"src":"{WORDS[x[5] % w]}"}},'
                   if x[3] % 10 < 3 else "")
            out.append(f'{{"code":{x[0] % 100},{ctx}"level":"{LEVELS[x[1] % 5]}",'
                       f'"msg":"{WORDS[x[2] % w]}"}}')
        elif k == 3:
            out.append(f'[{x[0] % 1000},"{WORDS[x[1] % w]}",{{"k":{x[2] % 50}}}]')
        elif k == 4:
            out.append(BAD_JSON_LINES[x[0] % 5])
        elif k == 5:
            out.append(CARD_LINE)
        else:
            out.append(_plain_line(x))
    return out


def _plain_line(x: list[int]) -> str:
    """An access-log style line: method, path, status, bytes, 0-5 words."""
    w = len(WORDS)
    toks = [METHODS[x[0] % 5], f"/{WORDS[x[1] % w]}/{x[2] % 10000}",
            str(100 + x[3] % 500), str(x[4])]
    toks += [WORDS[(x[6] >> (5 * j)) % w] for j in range(x[5] % 6)]
    return " ".join(toks)


def _table(urls, ts, texts, langs) -> pa.Table:
    html = [f"<!DOCTYPE html><html><head><title>{u}</title></head><body><pre>"
            f"{t}</pre></body></html>".encode() for u, t in zip(urls, texts)]
    return pa.Table.from_arrays(
        [pa.array(urls, pa.string()), pa.array(ts, pa.timestamp("us", tz="UTC")),
         pa.array(html, pa.binary()), pa.array(texts, pa.string()),
         pa.array(langs, pa.string())], schema=PAGES_SCHEMA)


def mixed_pages(seed: int, n: int) -> pa.Table:
    """n pages in the mixed line mix. About 8% of pages are recrawl
    snapshots: a distinct raw url that canonicalizes to an earlier page's
    url, with its own timestamp and text, so url dedup has work to do."""
    rng = np.random.default_rng([seed, 1])
    domains, langs, ts = _page_attrs(rng, n)
    n_lines = rng.integers(1, 41, n)
    flat = _mixed_lines(rng, int(n_lines.sum()))
    ends = np.cumsum(n_lines).tolist()
    starts = [0] + ends[:-1]
    texts = ["\n".join(flat[s:e]) for s, e in zip(starts, ends)]
    urls = [f"https://{d}/p/{seed}-{i}" for i, d in enumerate(domains.tolist())]
    recrawl = rng.random(n) < 0.08
    origin = rng.integers(0, np.maximum(np.arange(n), 1))
    suffix = rng.integers(0, len(RECRAWL_SUFFIXES), n)
    base = list(urls)
    for i in np.flatnonzero(recrawl & (np.arange(n) > 0)).tolist():
        urls[i] = base[int(origin[i])] + RECRAWL_SUFFIXES[int(suffix[i])].format(i)
    return _table(urls, ts, texts, langs.tolist())


def plain_pages(seed: int, n: int) -> pa.Table:
    """n pages holding one plain log line each: no `{`/`[` candidates."""
    rng = np.random.default_rng([seed, 2])
    domains, langs, ts = _page_attrs(rng, n)
    a = rng.integers(0, 1 << 20, (n, 8)).tolist()
    texts = [_plain_line(x) for x in a]
    urls = [f"https://{d}/p/{seed}-{i}" for i, d in enumerate(domains.tolist())]
    return _table(urls, ts, texts, langs.tolist())


def write_parts(table: pa.Table, path: str, n_files: int) -> list[str]:
    """Write `table` as n_files parquet files of contiguous rows under path;
    return the file paths in order."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    files = []
    for k in range(n_files):
        lo, hi = n * k // n_files, n * (k + 1) // n_files
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f, compression="zstd")
        files.append(f)
    return files


def to_rows(table: pa.Table) -> list[dict]:
    """The oracle's input shape: one dict per page."""
    return table.select(["url", "warc_ts", "text", "lang"]).to_pylist()
