"""Adversarial byte-identity: the envelope UDF vs the pure-Python oracle on
a seeded corpus of hostile lines — unicode, control bytes, quote/backslash
storms, deep JSON, numeric-formatting traps. The north_rule's per-row
invariant, stress-tested beyond the standard datagen corpus."""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F


def _hostile_lines(n: int = 2000, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    pools = [
        # unicode: BMP letters, CJK, emoji-ish astral, combining marks
        lambda: "".join(chr(rng.choice([0x41, 0xE9, 0x4E2D, 0x1F600, 0x0301, 0x430]))
                        for _ in range(rng.randint(1, 20))),
        # quote/backslash storms
        lambda: "".join(rng.choice('"\\/bfnrt xyz') for _ in range(rng.randint(1, 30))),
        # literal pre-escaped-JSON text: backslash-u-hex runs that LOOK like
        # escape sequences (ADVICE r1 — blind escape normalization corrupted
        # these), with and without adjacent real control chars
        lambda: rng.choice([
            "\\u001A", "x\\u001A}", "\\\\u001B", "\\u001a\x1a",
            "pre\\u000Bpost", "\\u001C\\u001c", "tail\\", "\x1b\\u001B",
            "c:\\u001Adir", "\\\\\\u001E", json.dumps({"a": "\\u001A"}),
        ]),
        # control chars (escaped as \\uXXXX by json)
        lambda: "".join(chr(rng.randint(1, 31)) for _ in range(rng.randint(1, 8))),
        # canonical json objects incl. nested + unicode keys
        lambda: json.dumps(
            {"k" + str(rng.randint(0, 9)): rng.randint(-10**9, 10**9),
             "s": "v\\" + chr(rng.randint(0x20, 0x7E)),
             "nested": {"é": [1, "two", None, True, False]}},
            sort_keys=True, separators=(",", ":"), ensure_ascii=False),
        # json arrays
        lambda: json.dumps([rng.randint(0, 99), None, "x\ty"],
                           sort_keys=True, separators=(",", ":"), ensure_ascii=False),
        # malformed json starting { or [
        lambda: rng.choice(['{"a":', "[1,", "{]", '["unterminated', "{\x00}"]),
        # numeric-formatting traps (SURVEY §1.4: the nlohmann-vs-json.dumps
        # dialect risk) — floats, exponents, -0.0, ints beyond 2^53/2^63
        lambda: rng.choice([
            '{"f":0.1}', '{"f":1e30}', '{"f":-0.0}', '{"f":1E+5}',
            '{"f":1.0}', '{"f":1e-7}', '{"f":123456789.123456789}',
            '{"i":9007199254740993}', '{"i":' + str(10**40) + '}',
            '{"i":-9223372036854775809}', '[1e308,2.5E-10,-0.0,1.5]',
            '{"f":3.141592653589793,"g":2.718281828459045e-100}',
        ]),
        # plain ascii
        lambda: " ".join("tok%d" % rng.randint(0, 99) for _ in range(rng.randint(1, 10))),
        # whitespace-adjacent edge cases (never empty — empties are dropped upstream)
        lambda: rng.choice([" ", "  x  ", "\t", " ", "ÿþ"]),
    ]
    return [rng.choice(pools)() for _ in range(n)]


@pytest.fixture(scope="module")
def hostile_pages(spark):
    import pandas as pd

    from logport_spark.datagen import BASE_TS, PAGES_DDL

    lines = _hostile_lines()
    # pack 20 lines per page; lines joined with \n (none are empty)
    rows = []
    for i in range(0, len(lines), 20):
        rows.append({
            "url": f"https://hot.example.com/adv/{i}",
            "warc_ts": BASE_TS,
            "html": b"<x>",
            "text": "\n".join(lines[i:i + 20]),
            "lang": "en",
        })
    return spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_DDL)


def test_hostile_corpus_byte_identity(spark, hostile_pages, pages_small):
    from logport_spark.operators.parse import explode_lines
    from logport_spark.operators.route import ROUTED_COLS
    from logport_spark.oracle import run_oracle
    from logport_spark.plans.pipeline import parsed_routed, routed_from_lines

    pages_local = [r.asDict() for r in hostile_pages.collect()]
    want = {(r["url"], r["line_no"]): r["record"]
            for r in run_oracle(pages_local)["records"]}
    got = {(r["url"], r["line_no"]): r["record"]
           for r in parsed_routed(spark, hostile_pages)
           .select("url", "line_no", "record").collect()}
    assert len(got) == len(want)
    bad = [(k, got[k], want[k]) for k in want if got.get(k) != want[k]]
    assert not bad, f"{len(bad)} mismatches; first: {bad[0]}"

    # cross-grain identity: routing pages then splitting them ships the same
    # rows as splitting first and routing every line
    for pages in (hostile_pages, pages_small):
        by_page = parsed_routed(spark, pages).select(*ROUTED_COLS)
        by_line = routed_from_lines(spark, explode_lines(pages)).select(*ROUTED_COLS)
        assert by_page.exceptAll(by_line).count() == 0
        assert by_line.exceptAll(by_page).count() == 0


def test_jvm_json_quote_equals_dumps(spark):
    """jvm_json_quote (the JVM-side escaper) must be byte-identical to
    json.dumps(x, ensure_ascii=False) — including literal backslash-u-hex
    text, which the r1 blind-replace normalization corrupted."""
    import random

    from logport_spark.operators.parse import jvm_json_quote

    rng = random.Random(11)
    cases = _hostile_lines(1500, seed=13)
    # directed cases around every uppercase escape Jackson emits
    for hx in ("000B", "000E", "000F", "001A", "001B", "001C", "001D", "001E", "001F"):
        ctrl = chr(int(hx, 16))
        cases += [
            "\\u" + hx, "\\\\u" + hx, "\\\\\\u" + hx,
            ctrl, ctrl + "\\u" + hx, "\\u" + hx + ctrl,
            "a\\u" + hx + "b" + ctrl, '"\\u' + hx,
        ]
    # random backslash/control/hex soup
    for _ in range(500):
        cases.append("".join(rng.choice("\\u01ABEF\x1a\x0b\"z")
                             for _ in range(rng.randint(1, 24))))
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    out = df.select("s", jvm_json_quote(F.col("s")).alias("q")).collect()
    bad = [(r.s, r.q, json.dumps(r.s, ensure_ascii=False)) for r in out
           if r.q != json.dumps(r.s, ensure_ascii=False)]
    assert not bad, f"{len(bad)} mismatches; first: {bad[0]!r}"


def test_hostile_records_are_valid_json(spark, hostile_pages):
    """Every emitted envelope must parse as JSON with the expected keys."""
    from logport_spark.plans.pipeline import parsed_routed

    for r in parsed_routed(spark, hostile_pages).select("record").collect():
        obj = json.loads(r["record"])
        assert "@timestamp" in obj
        assert ("log" in obj) != ("log_obj" in obj)  # exactly one


def test_log_obj_numeric_dialect(spark):
    """Pin the log_obj number dialect (SURVEY §1.4): the engine re-serializes
    parsed JSON with json.dumps semantics — repr-shortest floats, lowercase
    'e' exponents with sign, -0.0 preserved, arbitrary-precision ints kept
    exact (no 2^53 truncation, no float promotion). Asserted on the exact
    emitted fragments, not just engine==oracle agreement."""
    import pandas as pd

    from logport_spark.datagen import BASE_TS, PAGES_DDL
    from logport_spark.plans.pipeline import parsed_routed

    cases = {
        1: ('{"f":0.1}', '{"f":0.1}'),
        2: ('{"f":1e30}', '{"f":1e+30}'),
        3: ('{"f":-0.0}', '{"f":-0.0}'),
        4: ('{"f":1E+5}', '{"f":100000.0}'),
        5: ('{"f":1.0}', '{"f":1.0}'),
        6: ('{"f":1e-7}', '{"f":1e-07}'),
        7: ('{"i":9007199254740993}', '{"i":9007199254740993}'),   # > 2^53
        8: ('{"i":' + str(10**40) + '}', '{"i":' + str(10**40) + '}'),  # > 2^63
        9: ('{"f":123456789.123456789}', '{"f":123456789.12345679}'),  # 17 sig
        10: ('[1e308,-0.0,2.5E-10]', '[1e+308,-0.0,2.5e-10]'),
    }
    pages = spark.createDataFrame(pd.DataFrame([{
        "url": f"https://hot.example.com/num/{k}",
        "warc_ts": BASE_TS, "html": b"<x>", "text": line, "lang": "en",
    } for k, (line, _) in cases.items()]), schema=PAGES_DDL)
    got = {int(r.url.rsplit("/", 1)[1]): r.record
           for r in parsed_routed(spark, pages).select("url", "record").collect()}
    for k, (_, want_obj) in cases.items():
        frag = f',"log_obj":{want_obj}'
        assert frag in got[k], f"case {k}: {frag!r} not in {got[k]!r}"


def test_one_udf_batch_keeps_row_state_per_row(monkeypatch):
    """json_mid_udf builds its decoder and encoder once per Arrow batch.
    In one batch a float-bearing line is followed by a float-free one and a
    line that fails after a float is followed by a valid one: every row
    must equal its own per-line json.loads/json.dumps, and only the
    float-bearing rows take the Grisu2 path (the float flag is per row)."""
    import pandas as pd

    from logport_spark.operators import parse

    def per_line(ln):
        floats = []

        def pf(tok):
            floats.append(tok)
            return float(tok)

        def reject(_tok):
            raise ValueError(_tok)

        try:
            obj = json.loads(ln, parse_constant=reject, parse_float=pf)
            body = (parse._nlohmann_dumps(obj) if floats else
                    json.dumps(obj, sort_keys=True, separators=(",", ":"),
                               ensure_ascii=False, allow_nan=False))
            return ',"log_obj":' + body, True, False
        except ValueError:
            return ',"log":' + parse.json_quote(ln), False, True

    lines = [
        '{"f":1e15,"a":[1,2]}',     # float: Grisu2 1e+15, repr 1e15 as 1000000000000000.0
        '{"z":1,"y":"\\u00e9x"}',  # float-free right after a float row
        '{"g":2.5,"h":',            # fails after its parser saw a float
        '{"k":[1,{"j":null}]}',     # valid and float-free after the failure
        None,
        '[1e400]',                  # overflows to inf: falls back to "log"
        '[NaN]',                    # rejected constant
        '[true,-0.0]',
        '{"i":' + str(10**40) + '}',
    ]
    want = [(None, None, None) if ln is None else per_line(ln) for ln in lines]
    # the test has power: the float row's bytes differ between the two paths
    assert json.dumps({"a": [1, 2], "f": 1e15}, separators=(",", ":")) \
        != parse._nlohmann_dumps({"a": [1, 2], "f": 1e15})

    real, top, depth = parse._nlohmann_dumps, [], [0]

    def spy(o):
        if depth[0] == 0:
            top.append(o)
        depth[0] += 1
        try:
            return real(o)
        finally:
            depth[0] -= 1

    monkeypatch.setattr(parse, "_nlohmann_dumps", spy)
    out = parse.json_mid_udf.func(pd.Series(lines, dtype=object))
    got = [(None, None, None) if m is None else (m, bool(o), bool(f))
           for m, o, f in zip(out["mid"], out["is_obj"], out["parse_fail"])]
    assert got == want
    assert top == [{"f": 1e15, "a": [1, 2]}, [float("inf")], [True, -0.0]]
