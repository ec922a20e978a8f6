"""Kill-and-resume correctness (FIXTURES.md `resume_midrun`): an
interrupted run resumes exactly — identical final verdicts/violations,
no duplicated violation rows."""

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.checkpoint import CheckpointedRun
from xmlschema_spark.engine import ValidationEngine
from xmlschema_spark.rules import Rule, RuleSet
from xmlschema_spark.sources.images import generate_images_df


def _ruleset() -> RuleSet:
    return RuleSet(
        [
            Rule("fmt_enum", "enumeration", "fmt", {"values": ["png", "jpeg", "webp", "bmp"]}),
            Rule("cap_len", "max_length", "caption", {"value": 512}),
            Rule("id_unique", "unique", "", {"columns": ["image_id"]}, scope="table"),
        ]
    )


@pytest.fixture(scope="module")
def df(spark):
    d = generate_images_df(
        spark, 160, seed=5, n_parts=8, bad_fmt_frac=0.05,
        long_caption_frac=0.05, dup_id_frac=0.05, distributed=False,
    )
    d.cache().count()
    return d


def _viol_set(run, spark):
    return {
        (r.partition_id, r.rule_id, r.row_id)
        for r in run.violations(spark).collect()
    }


def test_resume_matches_uninterrupted(spark, df, tmp_path):
    eng = ValidationEngine(_ruleset())

    # uninterrupted golden run
    gold = CheckpointedRun(eng, str(tmp_path / "gold"), "run1")
    gold.run(df, batch_size=3)
    gold.finish(df)
    golden = _viol_set(gold, spark)

    # interrupted: dies after 1 of 3 batches
    broken = CheckpointedRun(eng, str(tmp_path / "broken"), "run1")
    with pytest.raises(RuntimeError, match="injected failure"):
        broken.run(df, batch_size=3, fail_after_batches=1)
    state = broken._load_state()
    done_after_crash = {p for p, s in state.items() if s["status"] == "DONE"}
    assert 0 < len(done_after_crash) < 8

    # resume: only pending partitions reprocessed; result identical
    broken.run(df, batch_size=3)
    broken.finish(df)
    assert _viol_set(broken, spark) == golden

    # no duplicated violation rows after resume
    v = broken.violations(spark)
    dup = (
        v.groupBy("partition_id", "rule_id", "row_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_finish_idempotent(spark, df, tmp_path):
    eng = ValidationEngine(_ruleset())
    run = CheckpointedRun(eng, str(tmp_path / "idem"), "run2")
    run.run(df, batch_size=8)
    run.finish(df)
    first = _viol_set(run, spark)
    run.finish(df)  # gated by the __table__ state row — must be a no-op
    assert _viol_set(run, spark) == first


def test_state_carries_lineage(spark, df, tmp_path):
    eng = ValidationEngine(_ruleset())
    run = CheckpointedRun(eng, str(tmp_path / "lin"), "run3")
    run.run(df, batch_size=8)
    state = run._load_state()
    row = next(iter(state.values()))
    assert "ruleset_sha" in row and "input_schema" in row and "wall_sec" in row


def test_run_builds_one_batch_engine(spark, df, tmp_path, monkeypatch):
    """A multi-batch run compiles its batch rule set once, not per batch."""
    from xmlschema_spark import checkpoint

    run = CheckpointedRun(ValidationEngine(_ruleset()), str(tmp_path / "once"), "run_once")
    built = []

    class Spy(ValidationEngine):
        def __init__(self, *args, **kwargs):
            built.append(args)
            super().__init__(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "ValidationEngine", Spy)
    run.run(df, batch_size=3)  # 8 partitions -> 3 batches
    assert {s["batch"] for s in run._load_state().values()} == {0, 1, 2}
    assert len(built) == 1


# ------------------------------------------------------- sink_format plumbing


def _iceberg_runtime_available(spark) -> bool:
    """True iff the Iceberg Spark runtime jars are on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_sink_format_validation(spark):
    eng = ValidationEngine(_ruleset())
    with pytest.raises(ValueError, match="sink_format"):
        CheckpointedRun(eng, "/tmp/x", "r", sink_format="orc")
    # iceberg base_dir is a namespace, so the state file needs its own dir
    with pytest.raises(ValueError, match="state_dir"):
        CheckpointedRun(eng, "ice.db", "r", sink_format="iceberg")


def test_sink_targets_by_format(spark, tmp_path):
    eng = ValidationEngine(_ruleset())
    pq = CheckpointedRun(eng, str(tmp_path), "run-a.b")
    assert pq.violations_dir == str(tmp_path / "run-a.b" / "violations")
    ice = CheckpointedRun(
        eng, "ice.db", "run-a.b", sink_format="iceberg", state_dir=str(tmp_path)
    )
    # identifier-safe table names (dots/dashes in run_id sanitized)
    assert ice.violations_dir == "ice.db.run_a_b_violations"
    assert ice.verdicts_dir == "ice.db.run_a_b_verdicts"
    assert ice.state_path == tmp_path / "run-a.b" / "state.jsonl"


def test_iceberg_sink_roundtrip(spark, df, tmp_path):
    """Integration: full checkpointed run into Iceberg tables with
    overwritePartitions() idempotency. Gated on the Iceberg runtime being
    on the classpath (not shipped in this sandbox — runs on a lakehouse)."""
    if not _iceberg_runtime_available(spark):
        pytest.skip("Iceberg Spark runtime not on classpath")
    spark.conf.set("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ice.warehouse", str(tmp_path / "wh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice.db")
    eng = ValidationEngine(_ruleset())
    run = CheckpointedRun(
        eng, "ice.db", "runi", sink_format="iceberg", state_dir=str(tmp_path)
    )
    run.run(df, batch_size=3)
    run.finish(df)
    golden = _viol_set(run, spark)
    # parquet reference run over the same input must agree exactly
    ref = CheckpointedRun(eng, str(tmp_path / "ref"), "runi")
    ref.run(df, batch_size=8)
    ref.finish(df)
    assert golden == _viol_set(ref, spark)
    # re-running a finished run is a no-op (idempotent overwritePartitions)
    run.run(df, batch_size=3)
    assert golden == _viol_set(run, spark)


def test_state_carries_observed_batch_metrics(spark, df, tmp_path):
    """Batch metrics ride the sink writes via observe() — no extra jobs —
    and must equal the counts actually written to the sinks."""
    import json

    eng = ValidationEngine(_ruleset())
    run = CheckpointedRun(eng, str(tmp_path / "obs"), "run_obs")
    run.run(df, batch_size=8)  # one batch -> one metrics set
    rows = [
        json.loads(line)
        for line in run.state_path.read_text().splitlines()
        if line.strip()
    ]
    assert rows, "no state rows"
    for r in rows:
        for k in ("batch_violations", "batch_errors",
                  "batch_rows_checked", "batch_parts_failed"):
            assert k in r, (k, r)
    # single batch: every row carries the same batch metrics, and they
    # equal what the sinks hold
    viol = run.violations(spark)
    assert rows[0]["batch_violations"] == viol.count()
    assert rows[0]["batch_errors"] == viol.filter(F.col("severity") == "error").count()
    verd = run.verdicts(spark)
    agg = verd.agg(
        F.sum("rows_checked").alias("rows"),
        F.count_if(F.col("status") == "FAIL").alias("failed"),
    ).first()
    assert rows[0]["batch_rows_checked"] == agg["rows"]
    assert rows[0]["batch_parts_failed"] == agg["failed"]
    assert rows[0]["batch_rows_checked"] == df.count()


def test_observed_metrics_zero_violations(spark, tmp_path):
    """A batch whose violations frame Catalyst folds to an empty relation
    (no rule can fire) must record zero metrics, not crash (the
    CollectMetrics node is eliminated with the empty relation)."""
    import json

    clean = generate_images_df(spark, 40, seed=7, n_parts=2, distributed=False)
    eng = ValidationEngine(
        RuleSet([Rule("id_not_null", "not_null", "image_id")]),
        partition_col="part",
    )
    run = CheckpointedRun(eng, str(tmp_path / "zero"), "run_zero")
    run.run(clean, batch_size=4)
    rows = [
        json.loads(line)
        for line in run.state_path.read_text().splitlines()
        if line.strip()
    ]
    assert rows and all(r["batch_violations"] == 0 for r in rows)
    assert all(r["batch_errors"] == 0 for r in rows)
    assert rows[0]["batch_rows_checked"] == 40
    assert rows[0]["batch_parts_failed"] == 0
