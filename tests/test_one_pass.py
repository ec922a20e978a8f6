"""validate_one_pass: one scan + one shuffle must reproduce validate()'s
per-partition verdict semantics exactly (row + decode/phash rules)."""

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.engine import ValidationEngine
from xmlschema_spark.rules import Rule, RuleSet
from xmlschema_spark.sources.images import generate_images_df
from xmlschema_spark.sources.rules_loader import default_image_ruleset


@pytest.fixture(scope="module")
def dirty(spark):
    df = generate_images_df(
        spark, 200, seed=7, distributed=False,
        null_frac=0.05, bad_dims_frac=0.05, corrupt_frac=0.05,
        long_caption_frac=0.05, bad_id_frac=0.05,
    )
    df.cache().count()
    return df


def _row_decode_rules(**phash_params) -> RuleSet:
    # the default suite minus set-level and drift rules (those need their
    # own shuffles and are out of one-pass scope by design)
    keep = {"not_null", "pattern", "enumeration", "min", "max", "max_length",
            "length", "assertion_sql", "decode_image", "phash_consistency"}
    return RuleSet([
        replace(r, params={**r.params, **phash_params})
        if r.kind == "phash_consistency" else r
        for r in default_image_ruleset() if r.kind in keep
    ])


def test_one_pass_matches_classic_verdicts(spark, dirty):
    # max_hamming_lossy=0: the lossy jpeg/webp rows, whose stored phash
    # comes from the original pixels, fail phash only if the limit is used
    for phash_params in ({}, {"max_hamming_lossy": 0}):
        _assert_one_pass_matches_classic(_row_decode_rules(**phash_params), dirty)


def _assert_one_pass_matches_classic(rs, dirty):
    eng = ValidationEngine(rs)

    classic = eng.validate(dirty, run_id="c", with_stats=False)
    classic_counts = {
        (r.partition_id, r.rule_id): r.n
        for r in classic.violations.groupBy("partition_id", "rule_id")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    classic_verdicts = {
        r.partition_id: (r.status, r.rows_checked, r.violation_count)
        for r in classic.verdicts.collect()
    }
    classic.unpersist()

    one = eng.validate_one_pass(dirty, run_id="o", with_stats=True)
    rows = one.collect()
    for r in rows:
        assert classic_verdicts[r.partition_id] == (
            r.status, r.rows_checked, r.violation_count
        ), r.partition_id
        for rule_id, n in r.metrics.items():
            assert int(n) == classic_counts.get((r.partition_id, rule_id), 0), (
                r.partition_id, rule_id
            )

    # stats columns present and sane: caption nulls counted per partition
    total_caption_nulls = sum(r["caption__nulls"] for r in rows)
    assert total_caption_nulls == 10


def test_one_pass_no_decode_rules(spark, dirty):
    rs = RuleSet([Rule("cap_len", "max_length", "caption", {"value": 512})])
    eng = ValidationEngine(rs)
    rows = eng.validate_one_pass(dirty, run_id="o", with_stats=False).collect()
    assert sum(int(r.metrics["cap_len"]) for r in rows) == 10
    assert sum(r.rows_checked for r in rows) == 200


def test_one_pass_stats_streaming_hash_agg(spark, dirty):
    """The one-pass aggregation must stay a streaming HashAggregate: exact
    string min/max would give the agg a variable-width buffer and demote
    the WHOLE pass to SortAggregate (a full sort of the decode output —
    ruinous at 10^12 rows). String stats therefore aggregate an
    order-preserving 7-byte-prefix ordinal, decoded back after the agg."""
    from pyspark.sql import functions as F

    eng = ValidationEngine(default_image_ruleset())
    out = eng.validate_one_pass(dirty, run_id="p", with_stats=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan

    # the prefix min/max equals the exact min/max's 7-byte prefix
    rows = {r.partition_id: r for r in out.collect()}
    exact = {
        r.part: r
        for r in dirty.groupBy("part").agg(
            F.min("caption").alias("lo"), F.max("caption").alias("hi")
        ).collect()
    }
    for part, e in exact.items():
        assert rows[part]["caption__min"] == (e.lo or "")[:7] or e.lo is None
        assert rows[part]["caption__max"] == (e.hi or "")[:7] or e.hi is None
