"""Dataset-shape quality checks (operators/checks.py) and the zero-decode
image header validation (operators/multimodal.py header_check)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.functions import codec
from xmlschema_spark.operators import checks, multimodal


def _ts(day, h=0, m=0, s=0, us=0):
    return dt.datetime(2024, 1, day, h, m, s, us)


# ---------------------------------------------------------------------------
# fd_violations
# ---------------------------------------------------------------------------

def test_fd_violations_finds_multi_valued_groups(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, "x"),
            ("a", 1, "x"),   # duplicate row, same value — NOT a violation
            ("b", 2, "x"),
            ("b", 2, "y"),   # b -> {x, y}
            ("c", 3, None),  # null dependent ignored by count(distinct)
            ("c", 3, "z"),
        ],
        "k string, n int, v string",
    )
    out = {
        r["k"]: (r["n_values"], r["min_value"], r["max_value"])
        for r in checks.fd_violations(df, ["k"], "v").collect()
    }
    assert out == {"b": (2, "x", "y")}


def test_fd_violations_multi_column_determinant(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 2, 30)], "k string, n int, v int"
    )
    rows = checks.fd_violations(df, ["k", "n"], "v").collect()
    assert [(r["k"], r["n"], r["n_values"]) for r in rows] == [("a", 2, 2)]


def test_fd_violations_validates_args(spark):
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError, match="at least one column"):
        checks.fd_violations(df, [], "v")
    with pytest.raises(ValueError, match="itself a determinant"):
        checks.fd_violations(df, ["v"], "v")


# ---------------------------------------------------------------------------
# time_gaps
# ---------------------------------------------------------------------------

def _gap_fixture(spark):
    rows = [
        # user u1: a within-day gap (Jan 1, 01:00 -> 09:00), a midnight-
        # straddling gap (Jan 1 23:00 -> Jan 2 08:00), and a sub-threshold
        # pair (Jan 2 08:00 -> 09:00)
        ("u1", _ts(1, 1)), ("u1", _ts(1, 9)), ("u1", _ts(1, 23)),
        ("u1", _ts(2, 8)), ("u1", _ts(2, 9)),
        # user u2: an empty calendar day in between (Jan 1 -> Jan 3)
        ("u2", _ts(1, 12)), ("u2", _ts(3, 12)),
        # user u3: single event — no gap
        ("u3", _ts(1, 5)),
        # user u4: gap that straddles the threshold by exactly 1 µs
        ("u4", _ts(4, 0, 0, 0, 0)), ("u4", _ts(4, 6, 0, 0, 1)),
        # user u5: gap of exactly the threshold — NOT a gap (strict >)
        ("u5", _ts(5, 0)), ("u5", _ts(5, 6)),
    ]
    return spark.createDataFrame(rows, "user string, ts timestamp")


def test_time_gaps_single_window_golden(spark):
    out = checks.time_gaps(_gap_fixture(spark), "user", "ts", 6 * 3600)
    got = sorted((r["user"], r["gap_us"]) for r in out.collect())
    assert got == [
        ("u1", 8 * 3600 * 1_000_000),   # Jan 1 01:00 -> 09:00
        ("u1", 9 * 3600 * 1_000_000),   # Jan 1 23:00 -> Jan 2 08:00
        ("u1", 14 * 3600 * 1_000_000),  # Jan 1 09:00 -> 23:00
        ("u2", 48 * 3600 * 1_000_000),
        ("u4", 6 * 3600 * 1_000_000 + 1),
    ]


def test_time_gaps_split_equals_single_window(spark):
    df = _gap_fixture(spark)
    single = sorted(map(tuple, checks.time_gaps(df, "user", "ts", 6 * 3600).collect()))
    for unit in ("day", "hour"):
        split = sorted(
            map(tuple, checks.time_gaps(df, "user", "ts", 6 * 3600, split_by=unit).collect())
        )
        assert split == single, unit


def test_time_gaps_validates_args(spark):
    df = _gap_fixture(spark)
    with pytest.raises(ValueError, match="min_gap_sec"):
        checks.time_gaps(df, "user", "ts", 0)


# ---------------------------------------------------------------------------
# volume_anomaly
# ---------------------------------------------------------------------------

def test_volume_anomaly_flags_outlier_partition(spark):
    # five groups: counts 10, 10, 10, 11, 100 -> median 10, MAD 0 except
    # deviations {0,0,0,1,90}: MAD = median(|n-10|) = median(0,0,0,1,90) = 0
    rows = (
        [("g1", i) for i in range(10)]
        + [("g2", i) for i in range(10)]
        + [("g3", i) for i in range(10)]
        + [("g4", i) for i in range(11)]
        + [("g5", i) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "g string, x int")
    out = {r["g"]: r for r in checks.volume_anomaly(df, ["g"], k=3.0).collect()}
    assert out["g1"]["med_n"] == 10.0 and out["g1"]["mad_n"] == 0.0
    # MAD 0: any deviation flags
    assert not out["g1"]["is_anomaly"] and not out["g2"]["is_anomaly"]
    assert out["g4"]["is_anomaly"] and out["g5"]["is_anomaly"]


def test_volume_anomaly_interpolated_median(spark):
    # four groups: counts 1, 2, 3, 4 -> median 2.5 (interpolated),
    # deviations {1.5, .5, .5, 1.5} -> MAD 1.0; k=1 flags the extremes
    rows = [("a", 0)] + [("b", i) for i in range(2)] + \
           [("c", i) for i in range(3)] + [("d", i) for i in range(4)]
    df = spark.createDataFrame(rows, "g string, x int")
    out = {r["g"]: r for r in checks.volume_anomaly(df, ["g"], k=1.0).collect()}
    assert out["a"]["med_n"] == 2.5 and out["a"]["mad_n"] == 1.0
    assert out["a"]["is_anomaly"] and out["d"]["is_anomaly"]
    assert not out["b"]["is_anomaly"] and not out["c"]["is_anomaly"]


def test_volume_anomaly_approx_mode_smoke(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "g string, x int")
    out = checks.volume_anomaly(df, ["g"], k=3.0, exact=False).collect()
    assert {r["g"]: r["n_rows"] for r in out} == {"a": 2, "b": 1}


def test_volume_anomaly_validates_args(spark):
    df = spark.createDataFrame([("a", 1)], "g string, x int")
    with pytest.raises(ValueError, match="group_cols"):
        checks.volume_anomaly(df, [], k=3.0)
    with pytest.raises(ValueError, match="k must"):
        checks.volume_anomaly(df, ["g"], k=0)


# ---------------------------------------------------------------------------
# freshness
# ---------------------------------------------------------------------------

def test_freshness_flags_stale_groups(spark):
    df = spark.createDataFrame(
        [
            ("live", _ts(9, 12)),   # age 12h at now=Jan 10
            ("live", _ts(1, 0)),    # older events don't matter — max wins
            ("stale", _ts(2, 0)),   # age 8 days
        ],
        "g string, ts timestamp",
    )
    out = {
        r["g"]: r
        for r in checks.freshness(
            df, ["g"], "ts", "2024-01-10 00:00:00", 86400
        ).collect()
    }
    assert not out["live"]["is_stale"] and out["live"]["age_us"] == 12 * 3600 * 1_000_000
    assert out["stale"]["is_stale"] and out["stale"]["age_us"] == 8 * 86400 * 1_000_000


def test_freshness_exact_threshold_not_stale(spark):
    df = spark.createDataFrame([("g", _ts(9, 0))], "g string, ts timestamp")
    (row,) = checks.freshness(df, ["g"], "ts", "2024-01-10 00:00:00", 86400).collect()
    assert row["age_us"] == 86400 * 1_000_000 and not row["is_stale"]  # strict >


def test_freshness_validates_args(spark):
    df = spark.createDataFrame([("g", _ts(1))], "g string, ts timestamp")
    with pytest.raises(ValueError, match="group_cols"):
        checks.freshness(df, [], "ts", "2024-01-10 00:00:00", 1)
    with pytest.raises(ValueError, match="max_age_sec"):
        checks.freshness(df, ["g"], "ts", "2024-01-10 00:00:00", 0)


# ---------------------------------------------------------------------------
# schema_drift (metadata-only)
# ---------------------------------------------------------------------------

def test_schema_drift_reports_changes(spark):
    before = spark.createDataFrame([(1, "a", 2.0)], "id int, name string, v double")
    after = spark.createDataFrame([(1, "a", 2)], "id int, name string, v int").withColumn(
        "extra", F.lit(True)
    )
    out = checks.schema_drift(before, after)
    assert out == [
        {"change": "added", "column": "extra", "before_type": None, "after_type": "boolean"},
        {"change": "retyped", "column": "v", "before_type": "double", "after_type": "int"},
    ]
    # identical schemas — empty; StructType inputs also accepted
    assert checks.schema_drift(before, before.schema) == []


def test_schema_drift_removed_column(spark):
    before = spark.createDataFrame([(1, "a")], "id int, name string")
    after = before.drop("name")
    assert checks.schema_drift(before, after) == [
        {"change": "removed", "column": "name", "before_type": "string", "after_type": None}
    ]


# ---------------------------------------------------------------------------
# header_check (pure-Catalyst container-header validation)
# ---------------------------------------------------------------------------

def _img_rows():
    import numpy as np

    px = np.zeros((3, 5, 3), dtype=np.uint8)
    good = codec.encode_image(px, "png")          # header: XPNG w=5 h=3
    other = codec.encode_image(px, "jpeg")        # header: XJPG
    return [
        ("ok", good, 5, 3, "png", "p0"),
        ("wrong_fmt", other, 5, 3, "png", "p0"),     # declared png, header jpeg
        ("wrong_w", good, 6, 3, "png", "p0"),        # declared w != header w
        ("wrong_h", good, 5, 9, "png", "p1"),        # declared h != header h
        ("short", good[:7], 5, 3, "png", "p1"),      # truncated below 12 bytes
        ("alien", b"GIF8" + b"\x00" * 8, 5, 3, "png", "p1"),  # unknown magic
        ("null_bytes", None, 5, 3, "png", "p1"),     # not_null's job, skipped
        ("null_meta", good, None, None, None, "p1"),  # null declared: skipped
        ("empty", b"", 5, 3, "png", "p0"),           # zero-byte payload
        ("one_byte", b"X", 5, 3, "png", "p0"),       # 1-byte payload
    ]


def test_header_fields_roundtrip(spark):
    df = spark.createDataFrame(
        _img_rows(), "image_id string, bytes binary, w int, h int, fmt string, part string"
    )
    hf = multimodal.header_fields(F.col("bytes"))
    row = {
        r["image_id"]: r
        for r in df.select("image_id", *[v.alias(k) for k, v in hf.items()]).collect()
    }
    assert (row["ok"]["header_fmt"], row["ok"]["header_w"], row["ok"]["header_h"]) == ("png", 5, 3)
    assert row["wrong_fmt"]["header_fmt"] == "jpeg"
    assert row["alien"]["header_fmt"] is None
    assert row["null_bytes"]["header_fmt"] is None


def test_header_check_violations(spark):
    df = spark.createDataFrame(
        _img_rows(), "image_id string, bytes binary, w int, h int, fmt string, part string"
    )
    out = multimodal.header_check(df, part_col="part")
    got = sorted((r["row_id"], r["rule_id"], r["partition_id"]) for r in out.collect())
    assert got == [
        ("alien", "header_magic", "p1"),
        ("empty", "header_short", "p0"),
        ("one_byte", "header_short", "p0"),
        ("short", "header_short", "p1"),
        ("wrong_fmt", "header_fmt_match", "p0"),
        ("wrong_h", "header_h_match", "p1"),
        ("wrong_w", "header_w_match", "p0"),
    ]
    assert all(r["severity"] == "error" for r in out.collect())


def test_header_consistent_rule_kind_through_engine(spark):
    """The registered ``header_consistent`` kind: header validation as a
    declarative ruleset entry, flowing through the engine's normal
    violation/verdict path with facet NULL semantics."""
    from xmlschema_spark.engine import ValidationEngine
    from xmlschema_spark.rules import Rule, RuleSet

    df = spark.createDataFrame(
        _img_rows(), "image_id string, bytes binary, w int, h int, fmt string, part string"
    )
    rules = RuleSet(
        [
            Rule("hdr_all", "header_consistent", "bytes"),
            Rule("hdr_w", "header_consistent", "bytes", {"check": "w"}),
        ]
    )
    eng = ValidationEngine(rules, id_col="image_id", partition_col="part")
    res = eng.validate(df, run_id="hdr", with_stats=False)
    got = sorted(
        (r["rule_id"], r["row_id"]) for r in res.violations.collect()
    )
    # hdr_all fires on every header defect; null bytes / null metadata pass
    assert got == [
        ("hdr_all", "alien"),
        ("hdr_all", "empty"),
        ("hdr_all", "one_byte"),
        ("hdr_all", "short"),
        ("hdr_all", "wrong_fmt"),
        ("hdr_all", "wrong_h"),
        ("hdr_all", "wrong_w"),
        ("hdr_w", "wrong_w"),
    ]


def test_header_non_integer_declared_w_is_a_violation(spark):
    """A declared ``w`` that is present but not an integer ("5x" in a
    string column) cannot equal the header word: the operator and the
    rule kind both report it instead of aborting on an ANSI cast error."""
    from xmlschema_spark.engine import ValidationEngine
    from xmlschema_spark.rules import Rule, RuleSet

    rows = [(*r[:2], None if r[2] is None else str(r[2]), *r[3:]) for r in _img_rows()]
    rows.append(("w_5x", rows[0][1], "5x", 3, "png", "p0"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w string, h int, fmt string, part string"
    )
    got = sorted((r["row_id"], r["rule_id"]) for r in multimodal.header_check(df).collect())
    assert got == [
        ("alien", "header_magic"),
        ("empty", "header_short"),
        ("one_byte", "header_short"),
        ("short", "header_short"),
        ("w_5x", "header_w_match"),
        ("wrong_fmt", "header_fmt_match"),
        ("wrong_h", "header_h_match"),
        ("wrong_w", "header_w_match"),
    ]
    rules = RuleSet(
        [
            Rule("hdr_all", "header_consistent", "bytes"),
            Rule("hdr_w", "header_consistent", "bytes", {"check": "w"}),
        ]
    )
    res = ValidationEngine(rules, id_col="image_id", partition_col="part").validate(
        df, run_id="hdr5x", with_stats=False
    )
    got = sorted((r["rule_id"], r["row_id"]) for r in res.violations.collect())
    assert ("hdr_all", "w_5x") in got and ("hdr_w", "w_5x") in got
    assert [v for v in got if v[0] == "hdr_w"] == [("hdr_w", "w_5x"), ("hdr_w", "wrong_w")]


def test_header_consistent_rejects_bad_check(spark):
    from xmlschema_spark.compiler import compile_row_rule
    from xmlschema_spark.rules import Rule, RuleCompileError

    with pytest.raises(RuleCompileError, match="header_consistent check"):
        compile_row_rule(Rule("bad", "header_consistent", "bytes", {"check": "nope"}))


def test_header_fields_le32_randomized(spark):
    """Randomized reference check of the hex/conv little-endian decode:
    300 random headers (full u32 range incl. values with high bytes set)
    packed by struct, decoded by the Catalyst expression — one job."""
    import struct

    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    for i in range(300):
        fmt = ["bmp", "png", "jpeg", "webp"][int(rng.integers(0, 4))]
        w = int(rng.integers(0, 2**32))
        h = int(rng.integers(0, 2**32))
        payload = bytes(rng.integers(0, 256, size=int(rng.integers(0, 9))).tolist())
        rows.append((str(i), struct.pack("<4sII", codec.MAGIC[fmt], w, h) + payload, fmt, w, h))
    df = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "image_id string, bytes binary"
    )
    hf = multimodal.header_fields(F.col("bytes"))
    got = {
        r["image_id"]: (r["f"], r["w"], r["h"])
        for r in df.select(
            "image_id", hf["header_fmt"].alias("f"),
            hf["header_w"].alias("w"), hf["header_h"].alias("h"),
        ).collect()
    }
    for rid, _, fmt, w, h in rows:
        assert got[rid] == (fmt, w, h), rid


def _py_gaps(rows, gap_sec):
    """Pure-Python reference for time_gaps (session tz is pinned UTC, so
    naive datetimes convert to epoch µs via an explicit UTC attach)."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, ts in rows:
        by_user[u].append(int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000))
    out = []
    for u, us in by_user.items():
        us.sort()
        for a, b in zip(us, us[1:]):
            if b - a > gap_sec * 1_000_000:
                out.append((u, a, b, b - a))
    return sorted(out)


def test_time_gaps_randomized_vs_reference(spark):
    """Seeded random event sets: single-window, split-by-day and
    split-by-hour must all equal the pure-Python reference."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = dt.datetime(2024, 1, 1)
    rows = [
        (f"u{int(rng.integers(0, 8))}", base + dt.timedelta(seconds=int(rng.integers(0, 5 * 86400))))
        for _ in range(400)
    ]
    gap_sec = 3 * 3600
    expect = _py_gaps(rows, gap_sec)
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    for split in (None, "day", "hour"):
        got = sorted(
            (r["user"], r["gap_start_us"], r["gap_end_us"], r["gap_us"])
            for r in checks.time_gaps(df, "user", "ts", gap_sec, split_by=split).collect()
        )
        assert got == expect, split


def test_fd_violations_randomized_vs_reference(spark):
    import numpy as np
    from collections import defaultdict

    rng = np.random.default_rng(13)
    rows = [
        (int(rng.integers(0, 40)), int(rng.integers(0, 5)))
        for _ in range(500)
    ]
    vals = defaultdict(set)
    for k, v in rows:
        vals[k].add(v)
    expect = sorted(
        (k, len(vs), min(vs), max(vs)) for k, vs in vals.items() if len(vs) > 1
    )
    df = spark.createDataFrame(rows, "k int, v int")
    got = sorted(
        (r["k"], r["n_values"], r["min_value"], r["max_value"])
        for r in checks.fd_violations(df, ["k"], "v").collect()
    )
    assert got == expect


def test_volume_anomaly_randomized_vs_reference(spark):
    import numpy as np

    rng = np.random.default_rng(23)
    sizes = {f"g{i}": int(rng.integers(1, 30)) for i in range(15)}
    rows = [(g, j) for g, n in sizes.items() for j in range(n)]
    counts = np.array(sorted(sizes.values()), dtype=float)
    med = float(np.median(counts))
    mad = float(np.median(np.abs(counts - med)))
    df = spark.createDataFrame(rows, "g string, x int")
    out = checks.volume_anomaly(df, ["g"], k=2.0)
    for r in out.collect():
        assert r["n_rows"] == sizes[r["g"]]
        assert r["med_n"] == med and r["mad_n"] == mad
        assert r["is_anomaly"] == (abs(sizes[r["g"]] - med) > 2.0 * mad)
    out.unpersist()


@pytest.mark.parametrize(
    "op, id_col",
    [("header_check", "image_id"), ("wav_header_check", "audio_id"),
     ("gif_header_check", "video_id")],
)
def test_header_check_is_pure_catalyst(spark, op, id_col):
    """No Python evaluation and no shuffle: the plan of every container's
    header operator is scan + project + generate, all inside whole-stage
    codegen."""
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5], 16000, 1, 16, 100) for r in _img_rows()],
        f"{id_col} string, bytes binary, w int, h int, fmt string, part string, "
        "sample_rate int, channels int, bits int, n_samples long",
    )
    plan = getattr(multimodal, op)(df, id_col=id_col, part_col="part")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapsInPandas", "PythonUDF"):
        assert marker not in plan
