"""Round-4 additions to the dataset-shape family: snapshot reconciliation
(snapshot_diff), late-arrival audit (sequence_regressions), embedding
vector validation (vector_checks), and Benford first-digit conformance
(drift.benford)."""

import datetime as dt
import math
import random

import pytest

from xmlschema_spark.operators import checks, drift


# ---------------------------------------------------------------------------
# snapshot_diff
# ---------------------------------------------------------------------------

def _diff(spark, before, after, keys, **kw):
    b = spark.createDataFrame(before, "k int, s string, v double")
    a = spark.createDataFrame(after, "k int, s string, v double")
    return {
        r["k"]: (r["status"], r["changed_cols"])
        for r in checks.snapshot_diff(b, a, keys, **kw).collect()
    }


def test_snapshot_diff_statuses(spark):
    out = _diff(
        spark,
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        [(2, "b", 21.0), (3, "c", 30.0), (5, "e", 50.0)],
        ["k"],
    )
    # unchanged key 3 emits NO row
    assert out == {
        1: ("removed", ""),
        2: ("changed", "v"),
        5: ("added", ""),
    }


def test_snapshot_diff_null_safe_and_multi_change(spark):
    out = _diff(
        spark,
        [(1, None, 1.0), (2, "x", 2.0), (3, None, 3.0)],
        [(1, None, 1.0), (2, None, 9.0), (3, "z", 3.0)],
        ["k"],
    )
    # NULL == NULL under eqNullSafe: key 1 unchanged; NULL vs value is a change
    assert out == {2: ("changed", "s,v"), 3: ("changed", "s")}


def test_snapshot_diff_compare_cols_subset(spark):
    out = _diff(
        spark,
        [(1, "a", 1.0)],
        [(1, "CHANGED", 1.0)],
        ["k"],
        compare_cols=["v"],
    )
    assert out == {}  # s differs but is not compared


def test_snapshot_diff_rejects_bad_args(spark):
    b = spark.createDataFrame([(1, "a", 1.0)], "k int, s string, v double")
    with pytest.raises(ValueError):
        checks.snapshot_diff(b, b, [])
    with pytest.raises(ValueError):
        checks.snapshot_diff(b, b, ["k"], compare_cols=["k", "v"])


def test_snapshot_diff_composite_key(spark):
    b = spark.createDataFrame([(1, 1, "a"), (1, 2, "b")], "k1 int, k2 int, s string")
    a = spark.createDataFrame([(1, 1, "a"), (1, 2, "B")], "k1 int, k2 int, s string")
    rows = checks.snapshot_diff(b, a, ["k1", "k2"]).collect()
    assert [(r["k1"], r["k2"], r["status"]) for r in rows] == [(1, 2, "changed")]


# ---------------------------------------------------------------------------
# sequence_regressions
# ---------------------------------------------------------------------------

def _seq_df(spark, rows):
    return spark.createDataFrame(rows, "u int, seq int, ts string")


def test_sequence_regressions_basic(spark):
    df = _seq_df(
        spark,
        [
            (1, 1, "2024-01-01 00:00:00"),
            (1, 2, "2024-01-01 00:05:00"),
            (1, 3, "2024-01-01 00:01:00"),  # 4 min backward
            (2, 1, "2024-01-01 00:00:00"),
            (2, 2, "2024-01-01 00:00:01"),
        ],
    )
    rows = checks.sequence_regressions(df, "u", "seq", "ts", 0).collect()
    assert [(r["u"], r["seq"], r["regression_us"]) for r in rows] == [
        (1, 3, 240_000_000)
    ]


def test_sequence_regressions_threshold_is_exclusive_exact_us(spark):
    df = _seq_df(
        spark,
        [
            (1, 1, "2024-01-01 00:01:00"),
            (1, 2, "2024-01-01 00:00:00"),  # exactly 60 s backward
        ],
    )
    assert checks.sequence_regressions(df, "u", "seq", "ts", 60).count() == 0
    assert checks.sequence_regressions(df, "u", "seq", "ts", 59).count() == 1


def test_sequence_regressions_split_equals_single_window(spark):
    # deterministic scramble with regressions straddling bucket borders
    rng = random.Random(7)
    rows = []
    for u in (1, 2, 3):
        ts = [f"2024-01-0{d} {h:02d}:{m:02d}:00" for d in (1, 2)
              for h in range(4) for m in range(0, 60, 7)]
        rng.shuffle(ts)
        rows += [(u, i, t) for i, t in enumerate(ts)]
    df = _seq_df(spark, rows)
    base = checks.sequence_regressions(df, "u", "seq", "ts", 3600)
    for n in (2, 3, 7, 1000):
        split = checks.sequence_regressions(
            df, "u", "seq", "ts", 3600, split_every=n
        )
        assert sorted(map(tuple, split.collect())) == sorted(
            map(tuple, base.collect())
        ), f"split_every={n} diverged"
    assert base.count() > 0


def test_sequence_regressions_rejects_bad_args(spark):
    df = _seq_df(spark, [(1, 1, "2024-01-01 00:00:00")])
    with pytest.raises(ValueError):
        checks.sequence_regressions(df, "u", "seq", "ts", -1)
    with pytest.raises(ValueError):
        checks.sequence_regressions(df, "u", "seq", "ts", 0, split_every=1)


# ---------------------------------------------------------------------------
# vector_checks
# ---------------------------------------------------------------------------

def test_vector_checks_all_rules(spark):
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            (1, [0.1, 0.2]),          # clean
            (2, None),                # vec_null
            (3, [nan, 0.0]),          # has_nan
            (4, [0.0, 0.0]),          # zero_vector
            (5, [inf, 0.1]),          # has_inf (inf excluded from range rule)
            (6, [0.1]),               # dim_mismatch
            (7, [-0.9, 0.2]),         # out_of_range (|x| > 0.5)
            (8, [-inf, 0.6]),         # has_inf AND out_of_range (the 0.6)
        ],
        "id int, vec array<float>",
    )
    out = checks.vector_checks(df, "id", "vec", dim=2, max_abs=0.5)
    got = sorted((r["id"], r["rule_id"]) for r in out.collect())
    assert got == [
        (2, "vec_null"),
        (3, "has_nan"),
        (4, "zero_vector"),
        (5, "has_inf"),
        (6, "dim_mismatch"),
        (7, "out_of_range"),
        (8, "has_inf"),
        (8, "out_of_range"),
    ]


def test_vector_checks_without_range_rule(spark):
    df = spark.createDataFrame([(1, [9.0, 9.0])], "id int, vec array<float>")
    assert checks.vector_checks(df, "id", "vec", dim=2).count() == 0


def test_vector_checks_empty_vector_is_dim_mismatch_not_zero(spark):
    df = spark.createDataFrame([(1, [])], "id int, vec array<float>")
    rows = checks.vector_checks(df, "id", "vec", dim=2).collect()
    assert [(r["id"], r["rule_id"]) for r in rows] == [(1, "dim_mismatch")]


def test_vector_checks_rejects_bad_dim(spark):
    df = spark.createDataFrame([(1, [0.0])], "id int, vec array<float>")
    with pytest.raises(ValueError):
        checks.vector_checks(df, "id", "vec", dim=0)


# ---------------------------------------------------------------------------
# drift.benford
# ---------------------------------------------------------------------------

def test_benford_conforming_sample_passes(spark):
    # synthesize a Benford-conforming sample: 10^u for uniform u
    rng = random.Random(42)
    rows = [(math.pow(10.0, rng.uniform(0, 4)),) for _ in range(5000)]
    df = spark.createDataFrame(rows, "v double")
    out = drift.benford(df, "v").collect()
    assert len(out) == 9
    assert {r["digit"] for r in out} == set(range(1, 10))
    assert all(not r["is_anomalous"] for r in out)
    assert abs(sum(r["obs_freq"] for r in out) - 1.0) < 1e-9
    assert out[0]["n_total"] == 5000


def test_benford_uniform_sample_fails(spark):
    rng = random.Random(1)
    rows = [(float(rng.randint(10000, 99999)),) for _ in range(3000)]
    df = spark.createDataFrame(rows, "v double")
    out = drift.benford(df, "v").collect()
    assert all(r["is_anomalous"] for r in out)


def test_benford_zero_count_digits_get_skeleton_rows(spark):
    df = spark.createDataFrame([(111.0,), (12.5,), (199.0,)], "v double")
    out = {r["digit"]: r["n"] for r in drift.benford(df, "v").collect()}
    assert out == {1: 3, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0, 7: 0, 8: 0, 9: 0}


def test_benford_grouped_and_filters_sub_one(spark):
    df = spark.createDataFrame(
        [("a", 123.0), ("a", 0.5), ("a", None), ("b", 911.0)],
        "g string, v double",
    )
    out = drift.benford(df, "v", ["g"]).collect()
    assert len(out) == 18  # 2 groups x 9 digits
    totals = {(r["g"]): r["n_total"] for r in out}
    assert totals == {"a": 1, "b": 1}  # 0.5 and NULL excluded


def test_benford_expected_constants_are_log10(spark):
    for d in range(1, 10):
        assert drift.BENFORD_EXPECTED[d] == pytest.approx(
            math.log10(1 + 1 / d), abs=0
        )
    assert abs(sum(drift.BENFORD_EXPECTED.values()) - 1.0) < 1e-12


def test_benford_rejects_bad_threshold(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        drift.benford(df, "v", mad_threshold=0.0)


# ---------------------------------------------------------------------------
# completeness
# ---------------------------------------------------------------------------

def test_completeness_fractions_and_verdicts(spark):
    df = spark.createDataFrame(
        [
            ("p1", "a", 1.0),
            ("p1", None, 2.0),
            ("p1", "c", None),
            ("p1", "d", 4.0),
            ("p2", None, None),
            ("p2", None, 6.0),
        ],
        "part string, s string, v double",
    )
    out = {
        (r["part"], r["column"]): (r["n_rows"], r["n_null"], r["null_frac"], r["is_incomplete"])
        for r in checks.completeness(df, ["part"], ["s", "v"], max_null_frac=0.3).collect()
    }
    assert out[("p1", "s")] == (4, 1, 0.25, False)
    assert out[("p1", "v")] == (4, 1, 0.25, False)
    assert out[("p2", "s")] == (2, 2, 1.0, True)
    assert out[("p2", "v")] == (2, 1, 0.5, True)


def test_completeness_threshold_is_strict(spark):
    # null_frac == max_null_frac is NOT incomplete (strict >)
    df = spark.createDataFrame(
        [("p", "a"), ("p", None)], "part string, s string"
    )
    rows = checks.completeness(df, ["part"], ["s"], max_null_frac=0.5).collect()
    assert rows[0]["null_frac"] == 0.5 and not rows[0]["is_incomplete"]


def test_completeness_default_columns_and_zero_threshold(spark):
    df = spark.createDataFrame(
        [("p", "a", 1.0), ("p", "b", None)], "part string, s string, v double"
    )
    out = {r["column"]: r["is_incomplete"] for r in checks.completeness(df, ["part"]).collect()}
    assert set(out) == {"s", "v"}
    assert out == {"s": False, "v": True}  # default max_null_frac=0.0, strict >


def test_completeness_bad_params(spark):
    df = spark.createDataFrame([("p", 1)], "part string, v int")
    with pytest.raises(ValueError):
        checks.completeness(df, [], ["v"])
    with pytest.raises(ValueError):
        checks.completeness(df, ["part"], ["part", "v"])
    with pytest.raises(ValueError):
        checks.completeness(df, ["part"], ["v"], max_null_frac=1.0)
    with pytest.raises(ValueError):
        checks.completeness(spark.createDataFrame([("p",)], "part string"), ["part"])


def test_completeness_single_exchange_plan(spark):
    """The table is shuffled exactly once (the grouped agg); the long-form
    pivot must not add an exchange or touch the data again."""
    df = spark.range(1000).selectExpr(
        "CAST(id % 7 AS STRING) AS part", "id AS a",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE id END AS b",
    )
    plan = checks.completeness(df, ["part"], ["a", "b"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------------------
# distinctness
# ---------------------------------------------------------------------------

def test_distinctness_verdicts(spark):
    df = spark.createDataFrame(
        [("p1", "a", 1), ("p1", "a", 2), ("p1", "a", 3), ("p1", "a", 4),
         ("p2", "x", 1), ("p2", "y", 2), ("p2", None, 3)],
        "part string, s string, v int",
    )
    out = {
        (r["part"], r["column"]): (
            r["n_rows"], r["n_nonnull"], r["n_distinct"],
            r["distinct_frac"], r["is_constant"], r["is_low_cardinality"],
        )
        for r in checks.distinctness(
            df, ["part"], ["s", "v"], min_distinct_frac=0.5
        ).collect()
    }
    assert out[("p1", "s")] == (4, 4, 1, 0.25, True, True)
    assert out[("p1", "v")] == (4, 4, 4, 1.0, False, False)
    assert out[("p2", "s")] == (3, 2, 2, 1.0, False, False)
    assert out[("p2", "v")] == (3, 3, 3, 1.0, False, False)


def test_distinctness_all_null_column(spark):
    df = spark.createDataFrame([("p", None), ("p", None)], "part string, s string")
    r = checks.distinctness(df, ["part"], ["s"]).collect()[0]
    # zero non-null: not constant (nothing to be constant AT), frac NULL
    assert (r["n_nonnull"], r["n_distinct"], r["distinct_frac"],
            r["is_constant"], r["is_low_cardinality"]) == (0, 0, None, False, False)


def test_distinctness_approx_mode_close(spark):
    df = spark.range(5000).selectExpr("'p' AS part", "id % 500 AS v")
    exact = checks.distinctness(df, ["part"], ["v"]).collect()[0]
    approx = checks.distinctness(df, ["part"], ["v"], exact=False, rsd=0.02).collect()[0]
    assert exact["n_distinct"] == 500
    assert abs(approx["n_distinct"] - 500) <= 500 * 0.06


def test_distinctness_bad_params(spark):
    df = spark.createDataFrame([("p", 1)], "part string, v int")
    for bad in (
        lambda: checks.distinctness(df, [], ["v"]),
        lambda: checks.distinctness(df, ["part"], []),
        lambda: checks.distinctness(df, ["part"], ["part"]),
        lambda: checks.distinctness(df, ["part"], ["v"], min_distinct_frac=1.5),
    ):
        with pytest.raises(ValueError):
            bad()


# ---------------------------------------------------------------------------
# corr_drift
# ---------------------------------------------------------------------------

def test_corr_drift_matches_numpy(spark):
    import numpy as np

    rows = []
    rng = random.Random(7)
    for i in range(300):
        x = rng.uniform(0, 10)
        rows.append(("pos", x, 2.0 * x + rng.uniform(-1, 1)))      # r ≈ +1
    for i in range(300):
        x = rng.uniform(0, 10)
        rows.append(("neg", x, -3.0 * x + rng.uniform(-1, 1)))     # r ≈ −1
    df = spark.createDataFrame(rows, "part string, x double, y double")
    got = {r["part"]: r for r in drift.corr_drift(df, "x", "y", "part", 0.5).collect()}
    for part in ("pos", "neg"):
        xs = np.array([r[1] for r in rows if r[0] == part])
        ys = np.array([r[2] for r in rows if r[0] == part])
        want = float(np.corrcoef(xs, ys)[0, 1])
        assert got[part]["r_part"] == pytest.approx(want, abs=1e-9)
    xs = np.array([r[1] for r in rows]); ys = np.array([r[2] for r in rows])
    want_g = float(np.corrcoef(xs, ys)[0, 1])
    assert got["pos"]["r_global"] == pytest.approx(want_g, abs=1e-9)
    # opposite-sign partitions both sit far from the mixed global r
    assert got["pos"]["is_drifted"] and got["neg"]["is_drifted"]


def test_corr_drift_degenerate_partitions(spark):
    df = spark.createDataFrame(
        [("const_x", 1.0, 1.0), ("const_x", 1.0, 2.0),
         ("one_row", 3.0, 4.0),
         ("nans", float("nan"), 1.0), ("nans", 2.0, float("nan")),
         ("ok", 1.0, 1.0), ("ok", 2.0, 2.0), ("ok", 3.0, 3.0)],
        "part string, x double, y double",
    )
    got = {r["part"]: r for r in drift.corr_drift(df, "x", "y", "part", 0.1).collect()}
    assert got["const_x"]["r_part"] is None and not got["const_x"]["is_drifted"]
    assert got["one_row"]["r_part"] is None and not got["one_row"]["is_drifted"]
    # NaN pairs are filtered out entirely -> zero pairs -> no row or n=0
    assert "nans" not in got or got["nans"]["n"] == 0
    assert got["ok"]["r_part"] == pytest.approx(1.0)


def test_corr_drift_bad_threshold(spark):
    df = spark.createDataFrame([("p", 1.0, 2.0)], "part string, x double, y double")
    with pytest.raises(ValueError):
        drift.corr_drift(df, "x", "y", "part", threshold=0.0)


def test_corr_drift_single_data_scale_exchange(spark):
    """The event-scale table feeds exactly ONE shuffle (the co-moment
    agg); the global sums come from a window over the SAME group rows —
    one more single-partition exchange of group-cardinality rows, no
    re-plan of the scan, no join."""
    df = spark.range(5000).selectExpr(
        "CAST(id % 13 AS STRING) part", "CAST(id AS DOUBLE) x", "CAST(id % 97 AS DOUBLE) y"
    )
    plan = drift.corr_drift(df, "x", "y", "part")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan, plan
    # one partial+final agg pair over the data; nothing re-plans the source
    assert plan.count("partial_count") == 1, plan


def test_snapshot_diff_single_join_no_window(spark):
    b = spark.range(2000).selectExpr("id AS k", "CAST(id AS STRING) s")
    a = spark.range(2000).selectExpr("id + 1 AS k", "CAST(id AS STRING) s")
    plan = checks.snapshot_diff(b, a, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Join") == 1, plan


def test_vector_checks_no_shuffle_no_python(spark):
    df = spark.range(1000).selectExpr(
        "id", "array(CAST(id AS FLOAT), CAST(id + 1 AS FLOAT)) AS e"
    )
    plan = checks.vector_checks(df, "id", "e", dim=2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


# ---------------------------------------------------------------------------
# quality_report (the one-pass suite)
# ---------------------------------------------------------------------------

_QR_ROWS = [
    # part, s, v, ts
    ("p1", "a", 1.0, "2024-01-01 10:00:00"),
    ("p1", None, 2.0, "2024-01-01 11:00:00"),
    ("p1", "c", None, "2024-01-01 12:00:00"),
    ("p1", "d", 4.0, "2024-01-02 09:00:00"),
    ("p2", "k", 5.0, "2024-01-05 10:00:00"),
    ("p2", "k", 6.0, "2024-01-05 11:00:00"),
    ("p2", "k", None, "2024-01-06 23:59:59"),
    ("p3", "x", 7.0, "2024-01-07 00:00:00"),
]
_QR_SCHEMA = "part string, s string, v double, ts string"


def _qr_df(spark):
    from pyspark.sql import functions as F

    return spark.createDataFrame(_QR_ROWS, _QR_SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def test_quality_report_agrees_with_individual_checks(spark):
    """The one-pass suite must produce EXACTLY the rows the four separate
    checks produce — same metrics, same verdicts, over every group x
    column."""
    df = _qr_df(spark)
    kw = dict(max_null_frac=0.3, min_distinct_frac=0.5)
    suite = checks.quality_report(
        df, ["part"], ["s", "v"],
        ts_col="ts", now="2024-01-08 00:00:00", max_age_sec=3 * 86400,
        volume_k=1.0, **kw,
    )
    srows = {(r["part"], r["column"]): r for r in suite.collect()}
    suite.unpersist()

    comp = {
        (r["part"], r["column"]): r
        for r in checks.completeness(df, ["part"], ["s", "v"], max_null_frac=0.3).collect()
    }
    dist = {
        (r["part"], r["column"]): r
        for r in checks.distinctness(df, ["part"], ["s", "v"], min_distinct_frac=0.5).collect()
    }
    fresh = {
        r["part"]: r
        for r in checks.freshness(df, ["part"], "ts", "2024-01-08 00:00:00", 3 * 86400).collect()
    }
    va = checks.volume_anomaly(df, ["part"], k=1.0)
    vol = {r["part"]: r for r in va.collect()}
    va.unpersist()

    assert set(srows) == set(comp) == set(dist)
    for key, r in srows.items():
        c, d = comp[key], dist[key]
        assert (r["n_rows"], r["n_null"], r["null_frac"], r["is_incomplete"]) == (
            c["n_rows"], c["n_null"], c["null_frac"], c["is_incomplete"]
        ), key
        assert (r["n_nonnull"], r["n_distinct"], r["distinct_frac"],
                r["is_constant"], r["is_low_cardinality"]) == (
            d["n_nonnull"], d["n_distinct"], d["distinct_frac"],
            d["is_constant"], d["is_low_cardinality"]
        ), key
        f, v = fresh[key[0]], vol[key[0]]
        assert (r["age_us"], r["is_stale"]) == (f["age_us"], f["is_stale"]), key
        assert r["is_volume_anomaly"] == v["is_anomaly"], key


def test_quality_report_verdicts_non_vacuous(spark):
    """On the crafted fixture every verdict family fires at least once
    and not everywhere."""
    suite = checks.quality_report(
        _qr_df(spark), ["part"], ["s", "v"],
        max_null_frac=0.3, min_distinct_frac=0.5,
        ts_col="ts", now="2024-01-08 00:00:00", max_age_sec=3 * 86400,
        volume_k=1.0,
    )
    rows = suite.collect()
    suite.unpersist()
    for flag in ("is_incomplete", "is_constant", "is_low_cardinality",
                 "is_stale", "is_volume_anomaly"):
        vals = {r[flag] for r in rows}
        assert vals == {True, False}, (flag, vals)


def test_quality_report_optional_dimensions_off(spark):
    out = checks.quality_report(_qr_df(spark), ["part"], ["s"])
    cols = out.columns
    for absent in ("age_us", "is_stale", "is_volume_anomaly"):
        assert absent not in cols
    assert out.count() == 3  # 3 groups x 1 column; no persist side effects


def test_quality_report_single_scan_single_exchange(spark):
    """Without the volume dimension the plan is pure: the data is scanned
    ONCE; the exact multi-distinct agg costs the standard two exchanges
    (Expand collapsed to distinct (group, column, value) combinations
    map-side, then the group rollup); the long-form pivot adds nothing."""
    df = spark.range(3000).selectExpr(
        "CAST(id % 7 AS STRING) part", "id AS a",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE id % 50 END AS b",
        "timestamp_micros(CAST(id * 1000000 AS LONG)) AS ts",
    )
    plan = checks.quality_report(
        df, ["part"], ["a", "b"],
        ts_col="ts", now="1970-01-02 00:00:00", max_age_sec=3600,
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan, plan
    assert plan.count("Range") == 1, plan
    # approx mode drops the Expand and one exchange: the fixed-width
    # HLL-buffer single-shuffle shape for 10^12-row tables
    plan2 = checks.quality_report(
        df, ["part"], ["a", "b"], exact=False,
        ts_col="ts", now="1970-01-02 00:00:00", max_age_sec=3600,
    )._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange") == 1, plan2
    assert "Expand" not in plan2, plan2
    assert plan2.count("Range") == 1, plan2


def test_quality_report_approx_mode_close(spark):
    df = spark.range(5000).selectExpr("'p' AS part", "id % 500 AS v")
    exact = checks.quality_report(df, ["part"], ["v"]).collect()[0]
    approx = checks.quality_report(df, ["part"], ["v"], exact=False, rsd=0.02).collect()[0]
    assert exact["n_distinct"] == 500
    assert abs(approx["n_distinct"] - 500) <= 500 * 0.06


def test_quality_report_bad_params(spark):
    df = spark.createDataFrame([("p", 1)], "part string, v int")
    for bad in (
        lambda: checks.quality_report(df, [], ["v"]),
        lambda: checks.quality_report(df, ["part"], []),
        lambda: checks.quality_report(df, ["part"], ["part"]),
        lambda: checks.quality_report(df, ["part"], ["v"], max_null_frac=1.0),
        lambda: checks.quality_report(df, ["part"], ["v"], min_distinct_frac=-0.1),
        lambda: checks.quality_report(df, ["part"], ["v"], ts_col="ts"),  # no now
        lambda: checks.quality_report(
            df, ["part"], ["v"], ts_col="ts", now="2024-01-01", max_age_sec=0
        ),
        lambda: checks.quality_report(df, ["part"], ["v"], volume_k=0.0),
    ):
        with pytest.raises(ValueError):
            bad()


# ---------------------------------------------------------------------------
# event time: a malformed string timestamp is a NULL, not a crash
# ---------------------------------------------------------------------------

def _event_rows(bad):
    # in time order: gaps of 7 h and 16 h (u1) and 48 h (u2); in seq
    # order: regressions of 1 h (u1) and 48 h (u2)
    return [
        ("u1", 1, "2024-01-01 00:00:00"),
        ("u1", 2, "2024-01-01 08:00:00"),
        ("u1", 3, "2024-01-01 07:00:00"),
        ("u1", 4, bad),
        ("u1", 5, "2024-01-02 00:00:00"),
        ("u2", 1, "2024-01-03 00:00:00"),
        ("u2", 2, "2024-01-01 00:00:00"),
    ]


_NOW = "2024-01-05 00:00:00"


@pytest.mark.parametrize(
    "op",
    [
        lambda df: checks.time_gaps(df, "u", "ts", 3600),
        lambda df: checks.time_gaps(df, "u", "ts", 3600, split_by="day"),
        lambda df: checks.freshness(df, ["u"], "ts", _NOW, 86400),
        lambda df: checks.sequence_regressions(df, "u", "seq", "ts", 0),
        lambda df: checks.sequence_regressions(df, "u", "seq", "ts", 0, split_every=2),
        lambda df: checks.quality_report(
            df, ["u"], ["seq"], ts_col="ts", now=_NOW, max_age_sec=86400
        ),
    ],
    ids=["time_gaps", "time_gaps_split", "freshness", "sequence_regressions",
         "sequence_regressions_split", "quality_report"],
)
def test_malformed_event_time_reads_as_null(spark, op):
    """Under ANSI casts a plain cast of "not a time" aborts the query; the
    event-time checks must give the verdicts they give for a NULL there."""
    schema = "u string, seq long, ts string"
    got = op(spark.createDataFrame(_event_rows("not a time"), schema)).collect()
    want = op(spark.createDataFrame(_event_rows(None), schema)).collect()
    assert want
    assert sorted(map(repr, got)) == sorted(map(repr, want))


# ---------------------------------------------------------------------------
# hostile input to the column-quality family: verdicts, not crashes
# ---------------------------------------------------------------------------

_HOSTILE_SCHEMA = "part string, s string, v double, ts timestamp"
_T = dt.datetime(2024, 1, 7)
_HOSTILE = {
    "zero_rows": [],
    "all_null": [("p1", None, None, None), ("p2", None, None, None)],
    "nan_inf": [
        ("p1", "a", float("nan"), _T),
        ("p1", "b", float("inf"), _T),
        ("p2", "c", float("-inf"), _T),
        ("p2", "c", float("nan"), _T),
    ],
    "single_group": [("p1", "a", 1.0, _T), ("p1", None, 2.0, _T)],
}
_QUALITY_OPS = {
    "completeness": lambda df: checks.completeness(df, ["part"], ["s", "v"]),
    "distinctness": lambda df: checks.distinctness(df, ["part"], ["s", "v"]),
    "quality_report": lambda df: checks.quality_report(df, ["part"], ["s", "v"]),
    "quality_report_volume_ts": lambda df: checks.quality_report(
        df, ["part"], ["s", "v"], ts_col="ts", now="2024-01-08 00:00:00",
        max_age_sec=86400, volume_k=1.0,
    ),
    "volume_anomaly": lambda df: checks.volume_anomaly(df, ["part"], k=3.0),
    "freshness": lambda df: checks.freshness(
        df, ["part"], "ts", "2024-01-08 00:00:00", 86400
    ),
}


@pytest.mark.parametrize("case", sorted(_HOSTILE))
@pytest.mark.parametrize("op", sorted(_QUALITY_OPS))
def test_quality_family_hostile_input(spark, op, case):
    fn = _QUALITY_OPS[op]
    good = fn(_qr_df(spark))
    expected = good.schema
    good.unpersist()
    out = fn(spark.createDataFrame(_HOSTILE[case], _HOSTILE_SCHEMA))
    out.collect()
    out.unpersist()
    assert out.schema == expected
