"""validate_one_pass's plan cache: a repeat call on one engine and input
schema rebinds the cached Columns instead of rebuilding them, every key
gives the result a fresh engine gives, and a verdict's columns do not
depend on its rule ids."""

from dataclasses import replace

import pytest
from py4j_calls import py4j_calls

from xmlschema_spark.engine import ValidationEngine
from xmlschema_spark.rules import Rule, RuleSet
from xmlschema_spark.sources.images import generate_images_df
from xmlschema_spark.sources.rules_loader import default_image_ruleset


@pytest.fixture(scope="module")
def images(spark):
    df = generate_images_df(
        spark, 200, seed=7, distributed=False,
        null_frac=0.05, bad_dims_frac=0.05, corrupt_frac=0.05,
    )
    df.cache().count()
    return df


def _rows(verdicts) -> list:
    return sorted(map(repr, (sorted(r.asDict(recursive=True).items()) for r in verdicts.collect())))


def test_one_pass_repeat_call_round_trip_budget(spark, images):
    # image_suite's call: the first builds the plan, the second on the same
    # schema only binds it to the DataFrame (over 8,000 round trips when
    # every call rebuilt every Column)
    eng = ValidationEngine(default_image_ruleset())
    eng.validate_one_pass(images.coalesce(2), run_id="a", with_stats=True)
    with py4j_calls() as calls:
        eng.validate_one_pass(images.coalesce(2), run_id="b", with_stats=True)
    assert calls.count <= 2500


def test_one_pass_plan_cache_keys(spark, images):
    # one engine per rule set called in turn with every key; each result
    # equals a fresh engine's, so no call is served another key's plan
    by_id = images.withColumnRenamed("image_id", "id")
    row_rules = RuleSet([
        Rule("id_nn", "not_null", "id"),
        Rule("w_max", "max", "w", {"value": 90}),
        Rule("fmt_enum", "enumeration", "fmt", {"values": ["png", "jpeg"]}, severity="warning"),
    ])
    decode_rules = RuleSet([
        replace(r, column="id") if r.column == "image_id" else r
        for r in default_image_ruleset()
    ])
    no_bytes = by_id.select("id", "part", "w", "fmt", "caption")
    calls = [
        (row_rules, [
            (by_id, {}),
            (no_bytes, {}),
            (by_id, {"with_stats": False}),
            (no_bytes, {"stats_columns": ["w", "fmt"]}),
            (no_bytes, {"stats_columns": ["w", "fmt"], "distinct_rsd": 0.05}),
            (by_id, {}),
        ]),
        (decode_rules, [
            (by_id, {}),
            (by_id, {"with_stats": False}),
            (by_id, {"stats_columns": ["id", "w", "caption"]}),
            (by_id.coalesce(2), {}),
        ]),
    ]
    for rules, seq in calls:
        eng = ValidationEngine(rules, id_col="id")
        for i, (df, kw) in enumerate(seq):
            got = eng.validate_one_pass(df, run_id=f"r{i}", **kw)
            want = ValidationEngine(rules, id_col="id").validate_one_pass(df, run_id=f"r{i}", **kw)
            assert got.schema == want.schema, (i, kw)
            assert _rows(got) == _rows(want), (i, kw)


@pytest.mark.parametrize("with_stats", [False, True])
def test_one_pass_columns_do_not_depend_on_rule_ids(spark, images, with_stats):
    # ``w__min`` reads like the stats output of column ``w``: it must not
    # add a verdict column, nor collide with that output
    def run(rule_id):
        eng = ValidationEngine(RuleSet([Rule(rule_id, "min", "w", {"value": 70})]))
        return eng.validate_one_pass(images, run_id="r", with_stats=with_stats)

    plain, dunder = run("w_low"), run("w__min")
    assert dunder.schema == plain.schema
    assert sorted(
        (r.partition_id, r.status, r.violation_count, r.metrics["w__min"]) for r in dunder.collect()
    ) == sorted(
        (r.partition_id, r.status, r.violation_count, r.metrics["w_low"]) for r in plain.collect()
    )
