"""Driver-side rows become LocalRelations: ``local_frame`` returns what
``createDataFrame`` returns, the engine's and drift's plans scan no
PythonRDD, their results are bit-for-bit what they were when those rows
went through ``createDataFrame``, and the package builds no DataFrame
from a Python list."""

import ast
import datetime
import hashlib
import math
from collections import Counter
from pathlib import Path

import pytest

from xmlschema_spark.checkpoint import CheckpointedRun
from xmlschema_spark.compiler import local_frame
from xmlschema_spark.engine import VIOLATION_SCHEMA, ValidationEngine
from xmlschema_spark.operators import drift
from xmlschema_spark.rules import RuleSet
from xmlschema_spark.sources.images import generate_images_df
from xmlschema_spark.sources.rules_loader import default_image_ruleset

PACKAGE = Path(__file__).resolve().parents[1] / "xmlschema_spark"
ASTRAL = "\U0001d518\U0001d52b"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _cells(row) -> tuple:
    """A row with NaN made comparable."""
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in row)


@pytest.fixture(scope="module")
def no_decode(spark):
    """The checkpoint_resume families over 400 rows, and the default rules
    without the decode and phash rules."""
    df = generate_images_df(
        spark, 400, seed=11, distributed=False, n_parts=8, drift_part="p3",
        hot_phash_frac=0.10, bad_id_frac=0.01, long_caption_frac=0.01,
        bad_tz_frac=0.01, bad_list_frac=0.01, dup_id_frac=0.02,
    )
    df.cache().count()
    rules = RuleSet([
        r for r in default_image_ruleset() if r.kind not in ("decode_image", "phash_consistency")
    ])
    yield df, rules
    df.unpersist()


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_local_frame_matches_create_dataframe(spark, escaped):
    schema = "i int, b bigint, d double, day date, s string"
    rows = [
        (1, 2**40, 1.5, datetime.date(2020, 1, 2), "it's"),
        (-(2**31), -1, math.nan, datetime.date(1970, 1, 1), "a\\b"),
        (2**31 - 1, 0, math.inf, None, ASTRAL),
        (None, None, -math.inf, datetime.date(9999, 12, 31), "x\\d'\t"),
        (0, 3, None, None, None),
    ]
    want_df = spark.createDataFrame(rows, schema)
    key = "spark.sql.parser.escapedStringLiterals"
    try:
        spark.conf.set(key, escaped)
        got_df = local_frame(spark, rows, want_df.schema)
        empty = local_frame(spark, [], want_df.schema)
    finally:
        spark.conf.unset(key)
    assert got_df.dtypes == want_df.dtypes
    assert sorted(map(_cells, got_df.collect()), key=repr) == sorted(
        map(_cells, want_df.collect()), key=repr
    )
    assert empty.dtypes == want_df.dtypes
    assert empty.collect() == []
    for df in (got_df, empty):
        assert "ExistingRDD" not in _executed_plan(df)


def test_driver_local_plans_scan_no_python_rdd(no_decode):
    """The checkpoint's batch violations (PSI scores included), psi() and
    the table engine's violations: a ``createDataFrame`` over a Python
    list would show as a ``Scan ExistingRDD``, which runs Python worker
    tasks."""
    df, rules = no_decode
    batch = ValidationEngine(RuleSet([r for r in rules if r.scope != "table"]))
    table = ValidationEngine(RuleSet([r for r in rules if r.scope == "table"]))
    res = batch.validate(df, run_id="b", with_stats=False)
    try:
        table_violations = table._lax_violations(df, "t")
        plans = {
            "batch violations": _executed_plan(res.violations),
            "psi": _executed_plan(drift.psi(df, "w", "part")),
            "table violations": _executed_plan(table_violations),
        }
    finally:
        res.unpersist()
    assert {k: "ExistingRDD" in p for k, p in plans.items()} == dict.fromkeys(plans, False)
    # the table engine has no row rules: Catalyst prunes their empty
    # relation from the union
    optimized = table_violations._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation <empty>" not in optimized


def test_skip_and_strict_violations_are_empty_local_relations(no_decode):
    df, _ = no_decode
    eng = ValidationEngine(RuleSet([]))
    for mode in ("skip", "strict"):
        res = eng.validate(df, mode=mode, with_stats=False)
        assert res.violations.schema == VIOLATION_SCHEMA
        assert res.violations.collect() == []
        assert "ExistingRDD" not in _executed_plan(res.violations)


# psi per partition of a fixed table, as float.hex, from when psi built its
# result with createDataFrame: with and without an explicit reference
PSI_HEX = {
    False: [
        ("p0", "0x1.1b7a5b8d561adp-2"), ("p1", "0x1.1d0057366eca5p-2"),
        ("p2", "0x1.1ab5225131d51p-2"), ("p3", "0x1.1cea1f84de8e1p-2"),
        ("p4", "0x1.75d1e748d5aa8p+0"), ("p5", "0x1.725f86ca96ea3p+3"),
    ],
    True: [
        ("p0", "0x1.47d83a251c548p+3"), ("p1", "0x1.47761b5a20e6ap+3"),
        ("p2", "0x1.476d4a5cdfbc4p+3"), ("p3", "0x1.453c6ab50afe2p+3"),
        ("p4", "0x1.7451ede6d8fcbp+3"), ("p5", "0x1.8f777c0c36c68p+3"),
    ],
}


def test_psi_values_are_bit_stable(spark):
    rows = [(f"p{i % 5}", (i * 37 % 101) / 7.0 + (3.0 if i % 5 == 4 else 0.0)) for i in range(1000)]
    rows.append(("p5", None))  # a partition with no non-NULL value
    df = spark.createDataFrame(rows, "part string, x double")
    ref = spark.createDataFrame([(None,), (-4.0,), (3.0,), (3.0,), (9.5,), (60.0,)], "x double")
    for with_ref, want in PSI_HEX.items():
        out = drift.psi(df, "x", "part", bins=10, reference=ref if with_ref else None)
        assert sorted((r.part, r.psi.hex()) for r in out.collect()) == want, with_ref


def test_checkpoint_sinks_are_unchanged(spark, no_decode, tmp_path):
    """A crashed, resumed and finished run writes the same violation and
    verdict rows as before the driver-local results became LocalRelations
    (19 and 8 rows, as multisets: the sha256 of their sorted reprs)."""
    df, rules = no_decode
    with pytest.raises(RuntimeError):
        CheckpointedRun(ValidationEngine(rules), str(tmp_path), "g").run(
            df, batch_size=4, fail_after_batches=1
        )
    run = CheckpointedRun(ValidationEngine(rules), str(tmp_path), "g")
    run.run(df, batch_size=4)
    run.finish(df)
    digests = {}
    for name, sink in (("violations", run.violations(spark)), ("verdicts", run.verdicts(spark))):
        rows = sorted(repr(tuple(r[c] for c in sorted(sink.columns))) for r in sink.collect())
        digests[name] = (len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest())
    assert sorted(Counter(r.rule_id for r in run.violations(spark).collect()).items()) == [
        ("caption_len", 4), ("created_tz", 4), ("flags_list", 4), ("id_pattern", 4),
        ("id_unique", 1), ("phash_unique", 1), ("w_drift", 1),
    ]
    assert digests == {
        "violations": (19, "558092ad19ae53c1d2a840652ec22ca4c9ba8b8a2a70aee489c28a55f993ee43"),
        "verdicts": (8, "56254e27c9f9c2a6f935832598129de2aa5fd6f2d992690bf1b22656b99b7a84"),
    }


# the one generator that builds a DataFrame from a pandas frame (Arrow),
# not from a Python list
PANDAS_SOURCES = {"sources/images.py"}


def test_package_builds_no_frame_from_a_python_list():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel in PANDAS_SOURCES:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and node.attr == "createDataFrame":
                found.append(f"{rel}:{node.lineno}")
    assert found == [], "use compiler.local_frame for driver-side rows"
