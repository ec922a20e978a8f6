"""Round-3 fixes: UTF-8-safe string-prefix stats (Spark 4 MALFORMED_
CHARACTER_CODING), identifier quoting in profile/quantiles, large_binary
Arrow offsets in decode_check, XSD whitespace class (not \\s), the SimHash
pigeonhole block cap, and exact_duplicates' bounded-by-default plan."""

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.compiler import whitespace_normalize
from xmlschema_spark.engine import ValidationEngine
from xmlschema_spark.operators import dedup, stats
from xmlschema_spark.rules import Rule, RuleSet


# ---------------------------------------------------------------- stats/UTF-8


def test_profile_prefix_mode_non_ascii(spark):
    """The 7-byte prefix can split a multi-byte UTF-8 char ('aaaaaa€' cuts
    the euro sign after its first byte); Spark 4's decode raises on that.
    The fixed path must not crash and must return a clean complete-character
    prefix of the true min/max."""
    df = spark.createDataFrame(
        [("aaaaaa€",), ("日本語テスト",), ("plain",), (None,)], "s string"
    )
    row = stats.profile(df, ["s"], string_minmax="prefix").collect()[0]
    # byte order: 'aaaaaa€' (0x61...) < 'plain' (0x70) < '日本語…' (0xE6)
    assert row.min_value == "aaaaaa"  # dangling euro lead byte stripped
    # 7 bytes of '日本語…' = 2 full chars (6 bytes) + 1 dangling lead byte
    assert row.max_value == "日本"
    assert row.n_nulls == 1


def test_one_pass_stats_non_ascii(spark):
    """validate_one_pass(with_stats=True) uses the same prefix ordinals —
    a non-ASCII caption column must not abort the wide pass (ADVICE r2)."""
    df = spark.createDataFrame(
        [("a", "aaaaaa€", 1), ("b", "höchstens", 2), ("c", "plain", None)],
        "id string, caption string, v int",
    ).withColumn("part", F.lit("p0"))
    eng = ValidationEngine(
        RuleSet([Rule("v_min", "min", "v", {"value": 0})]),
        id_col="id",
        partition_col="part",
    )
    out = eng.validate_one_pass(df, with_stats=True, stats_columns=["caption"]).collect()
    assert len(out) == 1 and out[0].rows_checked == 3


def test_profile_and_quantiles_quoted_identifiers(spark):
    """Column names with spaces / hyphens / SQL keywords must survive the
    stack() reshape (they are backtick-quoted now)."""
    df = spark.range(10).select(
        F.col("id").cast("double").alias("my col"),
        (F.col("id") * 2).cast("double").alias("order"),
        F.lit("g").alias("scope-col"),
    )
    prof = {r.column: r for r in stats.profile(df, ["my col", "order"]).collect()}
    assert prof["my col"].n_rows == 10 and prof["order"].max_value == "18.0"
    q = {
        (r.column, r.p): r.value
        for r in stats.quantiles(
            df, ["my col", "order"], probs=(0.5,), exact=True, scope_col="scope-col"
        ).collect()
    }
    assert q[("my col", 0.5)] == 4.5 and q[("order", 0.5)] == 9.0


# ---------------------------------------------------------------- whitespace


def test_collapse_is_xml_whitespace_only(spark):
    """XSD whiteSpace='collapse' folds exactly tab/LF/CR/space
    (facets.py:96-129); \\f and \\v are ordinary characters and must be
    preserved — the old \\s+ regex folded them too."""
    df = spark.createDataFrame(
        [("a \t\n\r b",), ("a\fb",), ("a\x0bb",)], "s string"
    )
    got = [r.c for r in df.select(F.expr(whitespace_normalize("s", "collapse")).alias("c")).collect()]
    assert got == ["a b", "a\fb", "a\x0bb"]


# ---------------------------------------------------------------- dedup caps


def test_exact_duplicates_default_is_bounded_with_exact_extremes(spark):
    rows = [(i, "same text") for i in range(6)] + [(100, "unique doc here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # default (bounded) and explicit-unbounded agree on everything exact
    bounded = dedup.exact_duplicates(df, "text", "doc_id", max_ids=2).collect()
    full = dedup.exact_duplicates(df, "text", "doc_id", max_ids=None).collect()
    assert len(bounded) == len(full) == 1
    b, f = bounded[0], full[0]
    assert b.n_docs == f.n_docs == 6
    assert b.doc_ids == [0, 1]  # the 2 smallest
    # extremes are exact despite the capped list (fixed-size window aggs)
    assert (b.min_doc_id, b.max_doc_id) == (f.min_doc_id, f.max_doc_id) == (0, 5)
    # the DEFAULT path is the bounded one (plan has a window, not a bare agg)
    plan = dedup.exact_duplicates(df, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan


def test_simhash_hot_block_cap(spark):
    """A boilerplate-heavy corpus (many identical docs → one popular
    pigeonhole block) must not go quadratic: with the cap the popular
    block is dropped entirely; distinct outlier pairs survive via their
    own blocks when under the cap."""
    rows = [(i, "common boilerplate text repeated everywhere") for i in range(30)]
    rows += [(100, "rare special document alpha"), (101, "rare special document alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.simhash_near_duplicates(
        df, "text", "doc_id", max_hamming=3, max_block_size=10
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    # the 30-doc boilerplate block (435 pairs) is dropped by the cap...
    assert not any(a < 30 and b < 30 for a, b in got)
    # ...the under-cap pair is still found
    assert (100, 101) in got
    # and uncapped finds the boilerplate pairs (sanity that the cap is
    # what removed them, not the signatures)
    uncapped = dedup.simhash_near_duplicates(
        df, "text", "doc_id", max_hamming=3, max_block_size=None
    )
    full = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert (0, 1) in full and (100, 101) in full


def test_simhash_cap_no_change_on_small_fixture(spark):
    """Default cap (200) leaves the small-corpus result identical —
    the rows-only bench query's output is unchanged by the guard."""
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (1, "the quick brown fox jumps over the lazy dog near the river bank now"),
            (2, "completely different content about spark distributed query engines"),
            (3, "The quick  brown fox jumps over the lazy dog near the river bank today"),
        ],
        "doc_id long, text string",
    )
    a = {(r.id_a, r.id_b, r.hamming) for r in dedup.simhash_near_duplicates(docs, "text", "doc_id", max_hamming=10, chunk_bits=4).collect()}
    b = {(r.id_a, r.id_b, r.hamming) for r in dedup.simhash_near_duplicates(docs, "text", "doc_id", max_hamming=10, chunk_bits=4, max_block_size=None).collect()}
    assert a == b and (0, 3, 0) in a


# ---------------------------------------------------------------- multimodal


def test_decode_check_large_binary_offsets(spark):
    """With spark.sql.execution.arrow.useLargeVarTypes=true the bytes
    column crosses as large_binary (int64 offsets); the buffer parser must
    read the right dtype instead of silently misslicing every payload."""
    from xmlschema_spark.operators import multimodal
    from xmlschema_spark.sources.images import generate_images_df

    df = generate_images_df(spark, 12, seed=5, corrupt_frac=0.25, distributed=False)
    base = {r.image_id: r.decode_ok for r in multimodal.decode_check(df).collect()}
    assert any(base.values()) and not all(base.values())
    spark.conf.set("spark.sql.execution.arrow.useLargeVarTypes", "true")
    try:
        large = {r.image_id: r.decode_ok for r in multimodal.decode_check(df).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.useLargeVarTypes", "false")
    assert large == base


# ---------------------------------------------------------------- divergence


def _drift_df(spark):
    rows = []
    for i in range(200):
        rows.append(("stable", float(i % 50)))
    for i in range(100):
        rows.append(("shifted", 40.0 + (i % 10)))  # mass squeezed into top buckets
    rows.append(("allnull", None))
    return spark.createDataFrame(rows, "part string, v double")


def test_divergence_chi2_matches_numpy(spark):
    """chi2 against a hand-rolled numpy computation of the same smoothed
    histogram formula (n_part * sum((p-q)^2/q), eps=1e-6, 10 buckets)."""
    import numpy as np

    from xmlschema_spark.operators import drift

    df = _drift_df(spark)
    got = {r.part: r.chi2 for r in drift.divergence(df, "v", "part", metric="chi2").collect()}

    vals = df.collect()
    lo, hi = 0.0, 49.0
    bins, eps = 10, 1e-6
    def hist(vs):
        c = np.zeros(bins)
        for v in vs:
            b = min(max(int((v - lo) / (hi - lo) * bins), 0), bins - 1)
            c[b] += 1
        return c
    all_v = [r.v for r in vals if r.v is not None]
    q = hist(all_v) / len(all_v) + eps
    for part in ("stable", "shifted"):
        pv = [r.v for r in vals if r.part == part and r.v is not None]
        p = hist(pv) / len(pv) + eps
        expect = len(pv) * float(np.sum((p - q) ** 2 / q))
        assert got[part] == pytest.approx(expect, rel=1e-9)
    assert got["allnull"] == 0.0  # zero sample size -> zero statistic
    # the drifted partition must alarm louder than the stable one even
    # though it has half the sample size (q is the 2:1 mix of both, so
    # the stable partition also deviates from it — just less per row)
    assert got["shifted"] > got["stable"]


def test_divergence_jsd_bounded_and_ordered(spark):
    """JSD is in [0, ln 2] and ranks the shifted partition above stable."""
    import math

    from xmlschema_spark.operators import drift

    df = _drift_df(spark)
    got = {r.part: r.jsd for r in drift.divergence(df, "v", "part", metric="jsd").collect()}
    for v in got.values():
        assert -1e-12 <= v <= math.log(2) + 1e-9
    assert got["shifted"] > got["stable"]


def test_divergence_distributed_fallback_matches_driver_path(spark):
    """max_collected_cells=0 forces the skeleton-join SQL plan; it must
    reproduce the driver-numpy result for every metric, with and without
    an explicit reference."""
    from xmlschema_spark.operators import drift

    df = _drift_df(spark)
    # an explicit reference with a NULL and values outside df's [0, 49]
    ref = spark.createDataFrame(
        [(None,), (-10.0,), (2.0,), (7.5,), (7.5,), (30.0,), (49.0,), (80.0,)], "v double"
    )
    for metric in ("chi2", "jsd", "w1"):
        for reference in (None, ref):
            fast = {
                r.part: r[metric]
                for r in drift.divergence(
                    df, "v", "part", metric=metric, reference=reference
                ).collect()
            }
            dist = {
                r.part: r[metric]
                for r in drift.divergence(
                    df, "v", "part", metric=metric, reference=reference, max_collected_cells=0
                ).collect()
            }
            assert set(fast) == set(dist) == {"stable", "shifted", "allnull"}
            for k in fast:
                assert dist[k] == pytest.approx(fast[k], rel=1e-9, abs=1e-12), (metric, reference, k)


def test_divergence_rejects_unknown_metric(spark):
    from xmlschema_spark.operators import drift

    with pytest.raises(ValueError):
        drift.divergence(spark.range(1), "id", "id", metric="tv")
