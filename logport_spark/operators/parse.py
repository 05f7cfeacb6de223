"""Parse hot path: line framing → empty filter → JSON-detect → envelope.

Reference semantics (re-expressed, not ported):
- P1 chunk→line framing (src/InotifyWatcher.cc:346-415): here each page's
  `text` is self-contained, so framing is a vectorized
  `posexplode(split(text, '\n'))` — pure JVM, whole-stage codegen.
- P2 empty-line filter (src/InotifyWatcher.cc:377-400): `length(line) > 0`.
- P3+P4 JSON-detect + envelope (src/Watch.cc:377-426): byte-exact envelope
  assembled JVM-side by concatenation (keys are emitted in sorted order, and
  Jackson's string escaper — via a to_json(struct(x)) slice — is normalized
  to match json.dumps bit-for-bit). Python appears ONLY for '{'/'['-candidate
  lines, whose `log_obj` needs a sorted-compact re-serialization Spark's
  to_json cannot produce for dynamic JSON; that UDF is Arrow-batched and
  receives NULL for every non-candidate row (a validity bit, no bytes).
- P5 timestamping (src/Common.cc:253-270): "%lld.%.9ld" — derived
  deterministically from `warc_ts` (epoch seconds + 9-digit nanos), never
  wall clock, computed JVM-side.
- P6 scrub hook (src/Watch.cc:381-396, commented-out credit-card redaction):
  optional pre-parse tombstone stage, disabled by default.

Scale notes: the UDF is a narrow map — no shuffle; Arrow batch size is
session-tuned (10k rows). Column pruning matters: `html` (binary, the
widest column) is never read by this path — verify with .explain()
ReadSchema.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# StructType (not a DDL string): the UDF decorator must not need a live
# SparkContext at import time
MID_RESULT = T.StructType([
    T.StructField("mid", T.StringType()),
    T.StructField("is_obj", T.BooleanType()),
    T.StructField("parse_fail", T.BooleanType()),
])

# our tombstone for the (disabled-by-default) scrub hook
SCRUB_TOMBSTONE = json.dumps(
    {"filtered": "card_number_detected"}, sort_keys=True, separators=(",", ":")
)


def ts_string(warc_ts: Column) -> Column:
    """'%lld.%.9ld' epoch-sec.9-digit-ns string from a timestamp column (JVM)."""
    micros = F.unix_micros(warc_ts)
    sec = F.floor(micros / F.lit(1_000_000)).cast("long")
    nanos = (micros - sec * F.lit(1_000_000)) * F.lit(1000)
    return F.concat(sec.cast("string"), F.lit("."), F.lpad(nanos.cast("string"), 9, "0"))


def explode_lines(pages: DataFrame, keep_cols: tuple[str, ...] = ("url", "warc_ts", "lang")) -> DataFrame:
    """P1+P2: one row per non-empty line, with 1-based line_no."""
    exploded = pages.select(
        *keep_cols, F.posexplode(F.split(F.col("text"), "\n")).alias("line_idx", "line")
    )
    return exploded.withColumn("line_no", (F.col("line_idx") + 1).cast("int")).drop(
        "line_idx"
    ).filter(F.length("line") > 0)


_SPECIALS = set('"\\') | {chr(i) for i in range(32)}  # chars forcing real escaping


def json_quote(x: str) -> str:
    """JSON string-encode with a plain-string fast path. Byte-identical to
    json.dumps(x, ensure_ascii=False) for every input (property-tested)."""
    return json.dumps(x, ensure_ascii=False) if _SPECIALS.intersection(x) else '"' + x + '"'


def scrub(df: DataFrame, enabled: bool = False) -> DataFrame:
    """P6: replace unredacted card-number lines with a tombstone (off by default)."""
    if not enabled:
        return df
    trigger = F.col("line").contains('"card_number":"') & ~F.col("line").contains("XXX")
    return df.withColumn("line", F.when(trigger, F.lit(SCRUB_TOMBSTONE)).otherwise(F.col("line")))


# Jackson (to_json) emits uppercase hex in \uXXXX escapes; json.dumps emits
# lowercase. Only 9 control-char escape sequences contain hex letters.
_UPPER_ESCAPES = ["000B", "000E", "000F", "001A", "001B", "001C", "001D", "001E", "001F"]


def jvm_json_quote(col: Column) -> Column:
    """JSON string-encode a column entirely JVM-side, byte-identical to
    json.dumps(x, ensure_ascii=False) (property-tested vs the Python quoter).

    Fast path first (same shape as the Python json_quote): strings with no
    quote/backslash/control char — the overwhelming majority of log tokens,
    urls, and route constants — are wrapped in quotes with one concat after
    a single rlike scan. Only special-bearing strings pay for the slow path:
    to_json(struct(x)) produces '{"x":<escaped>}'; slicing out the escaped
    literal reuses Jackson's escaper inside whole-stage codegen, and the 9
    uppercase \\u00XX sequences Jackson emits are normalized to lowercase."""
    j = F.to_json(F.struct(col.alias("x")))
    q = F.substring(j, F.lit(6), F.length(j) - F.lit(6))
    # Lowercase only GENUINE escape sequences. A blind replace corrupts
    # literal backslash-u-hex text (Jackson escapes the literal backslash,
    # leaving an ODD backslash count before 'u001A' — NOT an escape).
    # Parity via sentinel swap, all literal replaces (a parity-aware
    # regexp_replace measured ~2x on the whole DAG): swap escaped
    # backslashes ('\\') out for \x01 — which cannot occur in q, every
    # control char is escaped there — so each remaining backslash heads a
    # real escape; blind-lowercase; swap back.
    q = F.replace(q, F.lit("\\\\"), F.lit("\x01"))
    for hexu in _UPPER_ESCAPES:
        q = F.replace(q, F.lit("\\u" + hexu), F.lit("\\u" + hexu.lower()))
    q = F.replace(q, F.lit("\x01"), F.lit("\\\\"))
    has_special = col.rlike(r'[\x00-\x1f"\\]')
    return F.when(has_special, q).otherwise(F.concat(F.lit('"'), col, F.lit('"')))


# --- HTML → text extraction (the web-corpus step upstream of every text
# operator). RE2-safe patterns (no backreferences/lookarounds) so the DuckDB
# oracle runs them verbatim; whitespace is an explicit class because Java's
# \s includes \x0B where RE2's does not.
HTML_SCRIPT_RE = "(?is)<script[^>]*>.*?</script>"
HTML_STYLE_RE = "(?is)<style[^>]*>.*?</style>"
HTML_COMMENT_RE = "(?s)<!--.*?-->"
HTML_HEAD_RE = "(?is)<head[^>]*>.*?</head>"
HTML_TITLE_RE = "(?is)<title[^>]*>(.*?)</title>"
HTML_TAG_RE = "<[^>]*>"
HTML_WS_RE = "[ \\t\\n\\f\\r]+"
# entity decode order is part of the contract: &amp; LAST, so entity-encoded
# entities ("&amp;lt;") decode one level per pass like a real parser
HTML_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"))


def html_to_text(pages: DataFrame, html_col: str = "html",
                 keep_cols: tuple[str, ...] = ("url",)) -> DataFrame:
    """Main-content extraction from the raw `html: binary` column — the
    trafilatura/jusText stage of a Common-Crawl pipeline, as a deterministic
    regex stand-in (title captured first, then the whole head block plus
    script/style/comments stripped, tags dropped, the six core entities
    decoded, whitespace collapsed). Pages whose bytes are not valid
    UTF-8 yield NULL title/body (real pipelines drop undecodable fetches);
    `utf8_valid` carries the verdict.

    Spark-first shape: `cast(binary AS string)` reinterprets the bytes
    without validation, `is_valid_utf8` (Spark 4) gates them, and the whole
    strip/decode chain is JVM regexp/replace inside one WholeStageCodegen
    span — a narrow map, zero Python, zero shuffle; at 100 TB this runs at
    scan speed and `html` is read exactly once. The model swap (a real
    boilerplate-aware extractor) would follow the lang_id_model gate
    pattern; the column contract is identical.

    Oracle note: DuckDB 1.0 cannot null-on-invalid decode, so the SQL twin
    detects non-ASCII bytes via the blob cast's \\xHH escaping (exact
    because every byte >= 0x80 escapes and literal backslashes escape to
    \\x5C) and CASE-guards `decode()` — equivalent to is_valid_utf8 on this
    corpus, where every valid page is pure ASCII by construction.

    Output: keep_cols + (utf8_valid, title, body, body_chars)."""
    s = F.col(html_col).cast("string")
    valid = F.is_valid_utf8(s)
    title = F.regexp_extract(s, HTML_TITLE_RE, 1)
    body = s
    for pat in (HTML_HEAD_RE, HTML_SCRIPT_RE, HTML_STYLE_RE,
                HTML_COMMENT_RE):
        body = F.regexp_replace(body, pat, " ")
    body = F.regexp_replace(body, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        body = F.replace(body, F.lit(ent), F.lit(ch))
    body = F.trim(F.regexp_replace(body, HTML_WS_RE, " "))
    return pages.select(
        *keep_cols,
        valid.alias("utf8_valid"),
        F.when(valid, title).alias("title"),
        F.when(valid, body).alias("body"),
        F.when(valid, F.length(body)).cast("int").alias("body_chars"),
    )


# RE2-safe (no backreferences/lookaround — the pii_scrub convention, so the
# DuckDB oracle runs the IDENTICAL patterns verbatim). Attribute order is
# fixed name-then-content / rel-then-href, matching how real crawl filters
# key on the common serialization; a production variant would add the
# swapped-order alternation.
HTML_ROBOTS_RE = '<meta[^>]*name="robots"[^>]*content="([^"]*)"'
HTML_CANONICAL_RE = '<link[^>]*rel="canonical"[^>]*href="([^"]*)"'
HTML_LICENSE_RE = '<link[^>]*rel="license"[^>]*href="([^"]*)"'
CC_LICENSE_RE = "creativecommons[.]org/(licenses|publicdomain)/"


def html_policy(pages: DataFrame, html_col: str = "html",
                url_col: str = "url",
                keep_cols: tuple = ()) -> DataFrame:
    """Page-policy scan over the raw `html: binary` column — the crawl-
    compliance stage every web corpus runs before curation: honor
    `<meta name="robots" content="noindex...">` (the page said "don't index
    me"; C4/CCNet-style pipelines drop these), surface
    `<link rel="canonical">` (the publisher's own dedup hint — a canonical
    pointing elsewhere marks this fetch as a known mirror/variant), and
    detect `<link rel="license">` Creative-Commons markers (license-aware
    corpora keep ONLY cc_licensed pages).

    Spark-first shape: same skeleton as :func:`html_to_text` — one
    `cast(binary AS string)` + `is_valid_utf8` gate, three
    `regexp_extract`s, all inside one WholeStageCodegen span; a narrow map
    with zero Python and zero shuffle, so at 100 TB it runs at scan speed
    and composes with any partitioning. Undecodable fetches yield NULL
    signals and keep=false (a page that can't be parsed can't prove it may
    be indexed).

    Output: (url, utf8_valid, robots, noindex, canonical_href,
    is_canonical_self, license_href, cc_licensed, keep) where keep =
    valid AND NOT noindex — the default-policy verdict downstream stages
    filter on.

    Reference parity note: logport has no HTML notion at all (it ships
    bytes); this extends the engine the way SURVEY.md §2.6 extends
    relational coverage — a curation operator the 10^12-page north-rule
    corpus needs."""
    s = F.col(html_col).cast("string")
    valid = F.is_valid_utf8(s)
    robots = F.regexp_extract(s, HTML_ROBOTS_RE, 1)
    canonical = F.regexp_extract(s, HTML_CANONICAL_RE, 1)
    license_href = F.regexp_extract(s, HTML_LICENSE_RE, 1)
    noindex = F.instr(robots, "noindex") > 0
    return pages.select(
        *[F.col(c) for c in keep_cols],
        F.col(url_col),
        valid.alias("utf8_valid"),
        F.when(valid, robots).alias("robots"),
        F.when(valid, noindex).alias("noindex"),
        F.when(valid, canonical).alias("canonical_href"),
        F.when(valid, (canonical == "") | (canonical == F.col(url_col)))
            .alias("is_canonical_self"),
        F.when(valid, license_href).alias("license_href"),
        F.when(valid, license_href.rlike(CC_LICENSE_RE)).alias("cc_licensed"),
        (valid & ~noindex).alias("keep"),
    )


def _nlohmann_dumps(o) -> str:
    """Sorted-key compact serialization with reference-exact float bytes —
    the float-bearing-doc slow path of json_mid_udf. Identical to
    json.dumps(sort_keys=True, separators=(',',':'), ensure_ascii=False)
    except floats render via dtoa.nlohmann_repr (Grisu2). Raises
    ValueError on non-finite floats, matching both allow_nan=False and
    nlohmann's parse-time out_of_range."""
    from logport_spark.operators.dtoa import nlohmann_repr

    if o is None:
        return "null"
    if o is True:
        return "true"
    if o is False:
        return "false"
    if isinstance(o, float):
        if o != o or o in (float("inf"), float("-inf")):
            raise ValueError("non-finite float")
        return nlohmann_repr(o)
    if isinstance(o, int):
        return str(o)
    if isinstance(o, str):
        return json_quote(o)
    if isinstance(o, list):
        return "[" + ",".join(_nlohmann_dumps(v) for v in o) + "]"
    # json.loads only yields the types above plus dict (str keys)
    return "{" + ",".join(
        json_quote(k) + ":" + _nlohmann_dumps(o[k]) for k in sorted(o)) + "}"


@F.pandas_udf(MID_RESULT)
def json_mid_udf(line: pd.Series) -> pd.DataFrame:
    """JSON-candidate fragment builder — the ONLY Python in the pipeline.

    Receives the line for rows starting with '{'/'[' and NULL for all other
    rows (nulls cost one validity bit over Arrow, no string bytes). Emits the
    ',"log_obj":<sorted-compact json>' fragment, or the escaped ',"log":'
    fallback when the candidate fails to parse (src/Watch.cc:413-414).

    Differential-fuzz findings vs the vendored nlohmann 3.10.5
    (tests/test_envelope_differential.py), both reproduced here:

    * the reference's json::parse REJECTS NaN/Infinity literals and raises
      out_of_range on overflow ('1e400'), falling back to the escaped
      ',"log":' path — Python's json.loads would accept the literals and
      silently overflow to inf, then emit 'Infinity' (not even valid
      JSON). parse_constant + allow_nan=False match it byte-for-byte.
    * floats re-serialize through Grisu2, not Python repr — the two differ
      on the fixed↔scientific cutover (10^15 vs 10^16) and on ~0.05% of
      digit strings (operators/dtoa.py). CPython's C encoder renders
      floats via PyFloat_Type.tp_repr directly (no subclass hook), so the
      parse_float hook flags float-BEARING docs and only those take the
      pure-Python sorted-compact re-serialization; float-free docs — the
      entire bench corpus — keep the C-speed encoder.

    The decoder and encoder are built once per Arrow batch: json.loads and
    json.dumps with keyword arguments build a new one for every line."""
    jq = json_quote

    def _reject(_tok):
        raise ValueError("non-finite JSON constant (nlohmann rejects)")

    has_float = [False]

    def _pf(tok):
        has_float[0] = True
        return float(tok)

    loads = json.JSONDecoder(parse_constant=_reject, parse_float=_pf).decode
    dumps = json.JSONEncoder(sort_keys=True, separators=(",", ":"),
                             ensure_ascii=False, allow_nan=False).encode
    mids, objs, fails = [], [], []
    for ln in line.to_numpy():
        if ln is None:
            mids.append(None), objs.append(None), fails.append(None)
            continue
        try:
            has_float[0] = False
            obj = loads(ln)
            body = _nlohmann_dumps(obj) if has_float[0] else dumps(obj)
            mids.append(',"log_obj":' + body)
            objs.append(True), fails.append(False)
        except ValueError:
            mids.append(',"log":' + jq(ln))
            objs.append(False), fails.append(True)
    return pd.DataFrame({"mid": mids, "is_obj": objs, "parse_fail": fails})


def with_envelope(
    lines: DataFrame,
    host_col: Column,
    source_col: Column,
    prd_col: Column,
    log_type_col: Column,
) -> DataFrame:
    """Attach record/is_obj/parse_fail + record_bytes to a lines DataFrame.

    Hybrid assembly: the envelope prefix ('{"@timestamp":"..."' + optional
    host), the plain-line ',"log":' fragment, and the suffix (optional
    log_type/prd/source) are all built JVM-side inside codegen; Python (the
    Arrow-batched json_mid_udf) sees only '{'/'['-candidate lines. Keys stay
    in sorted order (@timestamp < host < log/log_obj < log_type < prd <
    source), so concatenation IS the serialization."""
    opt = lambda key, c: F.when(
        c.isNotNull() & (c != ""), F.concat(F.lit(f',"{key}":'), jvm_json_quote(c))
    ).otherwise(F.lit(""))

    candidate = F.substring(F.col("line"), 1, 1).isin("{", "[")
    env = json_mid_udf(F.when(candidate, F.col("line")))
    df = (
        lines.withColumn("ts_str", ts_string(F.col("warc_ts")))
        .withColumn("env", env)
        .withColumn(
            "record",
            F.concat(
                F.lit('{"@timestamp":"'), F.col("ts_str"), F.lit('"'),
                opt("host", host_col),
                F.coalesce(
                    F.col("env.mid"),
                    F.concat(F.lit(',"log":'), jvm_json_quote(F.col("line"))),
                ),
                opt("log_type", log_type_col),
                opt("prd", prd_col),
                opt("source", source_col),
                F.lit("}"),
            ),
        )
        .withColumn("is_obj", F.coalesce(F.col("env.is_obj"), F.lit(False)))
        .withColumn("parse_fail", F.coalesce(F.col("env.parse_fail"), F.lit(False)))
        .drop("env")
    )
    return df.withColumn("record_bytes", F.octet_length("record").cast("long"))


def warc_export(pages: DataFrame, url_col: str = "url",
                ts_col: str = "warc_ts", html_col: str = "html",
                include_record: bool = False) -> DataFrame:
    """Emit WARC/1.0 response records for a pages table — the archival
    round-trip: a crawl engine must be able to WRITE the format it
    ingests (ISO 28500; Common Crawl's WARC layout). Output per page:
    (url, record_id, warc_date, content_length, record_len,
    record_digest) — the manifest a WARC writer publishes; with
    ``include_record=True`` the full record bytes ride along as a binary
    column for an actual archive sink.

    Record layout (named headers, CRLF separators, double-CRLF block
    gap, two-CRLF record trailer):

        WARC/1.0
        WARC-Type: response
        WARC-Record-ID: <urn:uuid:...>
        WARC-Date: <ISO8601 Z>
        WARC-Target-URI: <url>
        Content-Type: text/html
        Content-Length: <payload octets>

    WARC-Record-ID is DETERMINISTIC — a uuid-shaped rendering of
    md5(url|date) — so replays/retries emit byte-identical records
    (idempotent archive writes; a random uuid4 would break exactly-once
    sinks and every engine/oracle comparison). record_digest is md5 over
    the record's hex expansion (the cdx_index convention: SQL oracles
    hash strings only; sha1-of-payload is the deployment swap).

    Scale shape: pure codegen projection — string concat + octet_length
    + md5, zero shuffle, html read once; at 100 TB this runs at scan
    speed next to the archive writer."""
    date_str = F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    h = F.md5(F.concat_ws("|", F.col(url_col), date_str))
    rid = F.concat(
        F.lit("urn:uuid:"),
        F.substring(h, 1, 8), F.lit("-"), F.substring(h, 9, 4),
        F.lit("-"), F.substring(h, 13, 4), F.lit("-"),
        F.substring(h, 17, 4), F.lit("-"), F.substring(h, 21, 12))
    crlf = "\r\n"
    header = F.concat(
        F.lit("WARC/1.0" + crlf),
        F.lit("WARC-Type: response" + crlf),
        F.lit("WARC-Record-ID: <"), rid, F.lit(">" + crlf),
        F.lit("WARC-Date: "), date_str, F.lit(crlf),
        F.lit("WARC-Target-URI: "), F.col(url_col), F.lit(crlf),
        F.lit("Content-Type: text/html" + crlf),
        F.lit("Content-Length: "),
        F.octet_length(F.col(html_col)).cast("string"),
        F.lit(crlf + crlf))
    record = F.concat(F.encode(header, "UTF-8"), F.col(html_col),
                      F.encode(F.lit(crlf + crlf), "UTF-8"))
    out = pages.select(
        F.col(url_col).alias("url"),
        rid.alias("record_id"),
        date_str.alias("warc_date"),
        F.octet_length(F.col(html_col)).cast("long")
        .alias("content_length"),
        F.octet_length(record).cast("long").alias("record_len"),
        F.md5(F.hex(record)).alias("record_digest"),
        *([record.alias("record")] if include_record else []),
    )
    return out
