"""Row rules compile to Spark SQL text: every predicate is two-valued on
the edge inputs, literals and column names mean the same whatever
``spark.sql.parser.escapedStringLiterals`` says, an enumeration that lists
NULL still rejects non-members, and building the plans takes a bounded
number of py4j round trips."""

import datetime
import decimal
import math

import pytest
from py4j_calls import py4j_calls
from pyspark.sql import functions as F

from xmlschema_spark.compiler import _lit, compile_row_rule
from xmlschema_spark.engine import ValidationEngine
from xmlschema_spark.rules import ROW_KINDS, Rule, RuleSet
from xmlschema_spark.sources.images import generate_images_df
from xmlschema_spark.sources.rules_loader import default_image_ruleset

ASTRAL = "\U0001d518\U0001d52b"  # two letters outside the BMP
STRINGS = {"null": None, "empty": "", "astral": ASTRAL}
DOUBLES = {"null": None, "nan": math.nan, "inf": math.inf, "-inf": -math.inf}
ARRAYS = {"null": None, "empty": [], "null_elem": [None]}

# (kind, params, inputs, the hand-written ok for each input)
CASES = [
    ("not_null", {}, STRINGS, dict(null=False, empty=True, astral=True)),
    ("type", {"type": "int"}, STRINGS, dict(null=True, empty=False, astral=False)),
    ("length", {"value": 2}, STRINGS, dict(null=True, empty=False, astral=True)),
    ("min_length", {"value": 1}, STRINGS, dict(null=True, empty=False, astral=True)),
    ("max_length", {"value": 1}, STRINGS, dict(null=True, empty=True, astral=False)),
    # Spark orders NaN above every other double
    ("min", {"value": 0.0}, DOUBLES, {"null": True, "nan": True, "inf": True, "-inf": False}),
    ("max", {"value": 0.0}, DOUBLES, {"null": True, "nan": False, "inf": False, "-inf": True}),
    ("min_exclusive", {"value": 0.0}, DOUBLES,
     {"null": True, "nan": True, "inf": True, "-inf": False}),
    ("max_exclusive", {"value": 0.0}, DOUBLES,
     {"null": True, "nan": False, "inf": False, "-inf": True}),
    # 'NaN' / 'Infinity' carry no digits at all
    ("total_digits", {"value": 3}, DOUBLES, dict.fromkeys(DOUBLES, True)),
    ("fraction_digits", {"value": 1}, DOUBLES, dict.fromkeys(DOUBLES, True)),
    ("pattern", {"patterns": ["[a-z]*"]}, STRINGS, dict(null=True, empty=True, astral=False)),
    ("enumeration", {"values": ["", "x"]}, STRINGS, dict(null=True, empty=True, astral=False)),
    ("enumeration", {"values": ["x", None]}, STRINGS,
     dict(null=True, empty=False, astral=False)),
    ("fixed", {"value": ""}, STRINGS, dict(null=True, empty=True, astral=False)),
    ("occurs", {"min": 1, "max": 2}, ARRAYS, dict(null=True, empty=False, null_elem=True)),
    ("assertion_sql", {"sql": "v = ''"}, STRINGS, dict(null=False, empty=True, astral=False)),
    ("whitespace", {"mode": "collapse"}, STRINGS, dict.fromkeys(STRINGS, True)),
    ("finite", {}, DOUBLES, {"null": True, "nan": False, "inf": False, "-inf": False}),
    ("type_union", {"types": ["int", "date"]}, STRINGS,
     dict(null=True, empty=False, astral=False)),
    # '' splits into no items at all: too few for min_items
    ("list_items", {"item_pattern": "[a-z]+", "min_items": 1}, STRINGS,
     dict(null=True, empty=False, astral=False)),
    ("explicit_timezone", {"value": "required"}, STRINGS,
     dict(null=True, empty=False, astral=False)),
    ("xsd_boolean", {}, STRINGS, dict(null=True, empty=False, astral=False)),
    # astral letters are XML 1.0 (5th ed.) name-start characters
    ("qname", {}, STRINGS, dict(null=True, empty=False, astral=True)),
    ("hex_binary", {}, STRINGS, dict(null=True, empty=True, astral=False)),
    ("base64_binary", {}, STRINGS, dict(null=True, empty=True, astral=False)),
    ("duration", {}, STRINGS, dict(null=True, empty=False, astral=False)),
]


def _oks(spark, inputs, rules, elem_type):
    """{(rule index, input name): ok} over one column ``v`` holding each
    input in turn."""
    df = spark.createDataFrame(list(inputs.items()), f"name string, v {elem_type}")
    got = df.select("name", *[compile_row_rule(r).alias(f"k{i}") for i, r in rules]).collect()
    return {(i, row["name"]): row[f"k{i}"] for row in got for i, _ in rules}


def test_every_row_kind_is_two_valued(spark):
    assert {k for k, *_ in CASES} == ROW_KINDS
    got, want = {}, {}
    for t, inputs in (("string", STRINGS), ("double", DOUBLES), ("array<string>", ARRAYS)):
        cases = [(i, c) for i, c in enumerate(CASES) if c[2] is inputs]
        plain = [(i, Rule(f"r{i}", kind, "v", params)) for i, (kind, params, _, _) in cases]
        got.update({(k, "plain", n): ok for (k, n), ok in _oks(spark, inputs, plain, t).items()})
        # each=True: the same inputs as one-element arrays, and the array
        # edge cases — a NULL or empty array passes, a NULL element passes
        # every kind but not_null
        arrays = {f"[{n}]": [v] for n, v in inputs.items()}
        arrays.update({"NULL": None, "[]": [], "[NULL]": [None]})
        each = [
            (i, Rule(f"r{i}", kind, "v", {**params, "each": True}))
            for i, (kind, params, _, _) in cases if kind != "assertion_sql"
        ]
        got.update({
            (k, "each", n): ok for (k, n), ok in _oks(spark, arrays, each, f"array<{t}>").items()
        })
        for i, (kind, _, _, expect) in cases:
            want.update({(i, "plain", n): ok for n, ok in expect.items()})
            if kind != "assertion_sql":
                want.update({(i, "each", f"[{n}]"): ok for n, ok in expect.items()})
                want.update({(i, "each", "NULL"): True, (i, "each", "[]"): True,
                             (i, "each", "[NULL]"): kind != "not_null"})
    assert [k for k, ok in got.items() if ok is None] == []
    wrong = {
        (CASES[i][0], str(CASES[i][1]), lane, n): ok
        for (i, lane, n), ok in got.items() if want[i, lane, n] != ok
    }
    assert wrong == {}


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_occurs_passes_null_arrays_whatever_the_ansi_setting(spark, ansi):
    # without ANSI, size(NULL) is -1 rather than NULL
    rules = [
        Rule("r0", "occurs", "v", {"min": 1, "max": 2}),
        Rule("r1", "occurs", "v", {"min": 0}),
        Rule("r2", "occurs", "vs", {"min": 1, "max": 2, "each": True}),
    ]
    df = spark.createDataFrame(
        [("null", None, [None]), ("empty", [], [[]]), ("one", ["a"], [["a"]])],
        "name string, v array<string>, vs array<array<string>>",
    )
    key = "spark.sql.ansi.enabled"
    try:
        spark.conf.set(key, ansi)
        got = df.select("name", *[compile_row_rule(r).alias(r.rule_id) for r in rules]).collect()
    finally:
        spark.conf.unset(key)
    assert {r.name: (r.r0, r.r1, r.r2) for r in got} == {
        "null": (True, True, True), "empty": (False, True, False), "one": (True, True, True),
    }


# ------------------------------------------------------------ enumeration


@pytest.fixture
def letters(spark):
    return spark.createDataFrame(
        [("r1", "p", "a", ["a"]), ("r2", "p", "b", ["a", "b"]),
         ("r3", "p", "c", ["c"]), ("r4", "p", None, None)],
        "image_id string, part string, v string, vs array<string>",
    )


@pytest.mark.parametrize("values", [["a"], ["a", None]])
def test_enumeration_listing_null_still_rejects_non_members(letters, values):
    rs = RuleSet([
        Rule("enum", "enumeration", "v", {"values": values}),
        Rule("enum_each", "enumeration", "vs", {"values": values, "each": True}),
    ])
    eng = ValidationEngine(rs)
    res = eng.validate(letters, with_stats=False)
    assert sorted((r.rule_id, r.row_id) for r in res.violations.collect()) == [
        ("enum", "r2"), ("enum", "r3"), ("enum_each", "r2"), ("enum_each", "r3"),
    ]
    res.unpersist()
    (verdict,) = eng.validate_one_pass(letters, with_stats=False).collect()
    assert verdict.metrics == {"enum": "2", "enum_each": "2"}


# ---------------------------------------------------------------- quoting


def test_names_and_literals_mean_the_same_under_escaped_string_literals(spark):
    tab = "a\tb"
    df = spark.createDataFrame(
        [
            ("r1", "p", ("x",), "k", 1, "ok", "s", "名前", "it's", "12", tab, ASTRAL),
            ("r2", "p", (None,), "long", 9, "o", "xl", "abc", "a\\b", "1a", "atb", "x"),
            ("r3", "p", ("y",), "", 5, "fine", "m", "名", "x\\d", "x", "a\\tb", ASTRAL + "!"),
        ],
        "image_id string, part string, s struct<f:string>, `a.b` string, `x``y` int, "
        "`my col` string, `größe` string, `名前` string, p string, d string, t string, "
        "astral string",
    )
    rs = RuleSet([
        Rule("dot_path", "not_null", "s.f"),
        Rule("dotted_name", "max_length", "`a.b`", {"value": 1}),
        Rule("backtick", "max", "`x``y`", {"value": 5}),
        Rule("space", "min_length", "my col", {"value": 2}),
        Rule("umlaut", "enumeration", "größe", {"values": ["s", "m"]}),
        Rule("cjk", "pattern", "名前", {"patterns": ["[^a-z]+"]}),
        Rule("quote", "fixed", "p", {"value": "it's"}),
        Rule("backslash", "enumeration", "p", {"values": ["it's", "a\\b"]}),
        # XSD \d is a digit, \t a tab
        Rule("regex_d", "pattern", "d", {"patterns": ["\\d+"]}),
        Rule("regex_t", "pattern", "t", {"patterns": ["a\\tb"]}),
        Rule("astral", "enumeration", "astral", {"values": [ASTRAL, "x"]}),
    ])
    want = sorted([
        ("dot_path", "r2"), ("dotted_name", "r2"), ("backtick", "r2"), ("space", "r2"),
        ("umlaut", "r2"), ("cjk", "r2"), ("quote", "r2"), ("quote", "r3"),
        ("backslash", "r3"), ("regex_d", "r2"), ("regex_d", "r3"),
        ("regex_t", "r2"), ("regex_t", "r3"), ("astral", "r3"),
    ])
    key = "spark.sql.parser.escapedStringLiterals"
    try:
        for escaped in ("false", "true"):
            spark.conf.set(key, escaped)
            res = ValidationEngine(rs).validate(df, with_stats=False)
            got = sorted((r.rule_id, r.row_id) for r in res.violations.collect())
            res.unpersist()
            assert got == want, escaped
    finally:
        spark.conf.unset(key)


# --------------------------------------------------------- round trips


@pytest.fixture(scope="module")
def no_decode(spark):
    df = generate_images_df(spark, 200, seed=7, distributed=False, n_parts=4, dup_id_frac=0.02)
    df.cache().count()
    rules = RuleSet([
        r for r in default_image_ruleset() if r.kind not in ("decode_image", "phash_consistency")
    ])
    return df, rules


def test_engine_and_row_violations_round_trip_budget(no_decode):
    df, rules = no_decode
    ValidationEngine(rules).row_violations(df, "warm")
    # ~1,070 and ~2,300 round trips when every rule was built as Columns
    with py4j_calls() as calls:
        eng = ValidationEngine(rules)
    assert calls.count <= 50
    with py4j_calls() as calls:
        eng.row_violations(df, "r")
    assert calls.count <= 100


def test_repeat_batch_validate_round_trip_budget(no_decode):
    # the rules CheckpointedRun.run validates batch by batch: all but the
    # table-scoped ones
    df, rules = no_decode
    eng = ValidationEngine(RuleSet([r for r in rules if r.scope != "table"]))
    eng.validate(df, run_id="a", with_stats=False).unpersist()
    # PSI drift and verdicts included; ~4,400 before
    with py4j_calls() as calls:
        res = eng.validate(df, run_id="b", with_stats=False)
    res.unpersist()
    assert calls.count <= 1000


# ---------------------------------------------------------------- literals


def test_literals_match_f_lit(spark):
    values = [
        0, -1, 2**31 - 1, -(2**31), 2**31, -(2**40), 1.5, -0.0, 1e300, 5e-324,
        math.nan, math.inf, -math.inf, True, False, None,
        "plain", "it's", "a\\b", "x\\d\\t", ASTRAL, "tab\there", b"\x00'\\", bytearray(b"ab"),
        decimal.Decimal("1.50"), decimal.Decimal("-0.001"),
        datetime.timedelta(days=1, microseconds=5), -datetime.timedelta(minutes=10),
        datetime.date(2020, 1, 2), datetime.datetime(2020, 1, 2, 3, 4, 5, 6),
        datetime.datetime(2020, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc),
    ]
    key = "spark.sql.parser.escapedStringLiterals"
    try:
        for escaped in ("false", "true"):
            spark.conf.set(key, escaped)
            df = spark.range(1).select(
                *[F.expr(_lit(v)).alias(f"t{i}") for i, v in enumerate(values)],
                *[F.lit(v).alias(f"l{i}") for i, v in enumerate(values)],
            )
            types = dict(df.dtypes)
            (row,) = df.collect()
            for i, v in enumerate(values):
                assert types[f"t{i}"] == types[f"l{i}"], (escaped, v)
                got, want = row[f"t{i}"], row[f"l{i}"]
                assert got == want or (got != got and want != want), (escaped, v, got, want)
    finally:
        spark.conf.unset(key)
