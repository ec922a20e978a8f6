"""Streaming identity-constraint GOLDEN tests (round-5): per-micro-batch
keyref orphans via foreachBatch with a per-batch-refreshed PK snapshot,
and the watermark-windowed duplicate-key detector — deterministic
micro-batches, exact expected rows, batch↔streaming agreement with
operators.identity on the same data."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.operators import identity
from xmlschema_spark.streaming import (
    duplicate_keys_stream,
    keyref_orphans_foreach_batch,
)

BASE = 1_700_000_040


# --------------------------------------------------------------------------
# keyref per micro-batch (foreachBatch + refreshed PK snapshot)
# --------------------------------------------------------------------------

def test_keyref_orphans_per_batch_golden(spark, tmp_path):
    """Three deterministic micro-batches of fact rows against a PK table
    that GROWS between batches: the per-batch orphan sets are exactly the
    fk keys missing from the snapshot current at that batch — the
    semantics a static stream-static join cannot give."""
    src = str(tmp_path / "facts")
    # batch k carries fks 10k..10k+9 referencing keys k*10..k*10+9;
    # PK snapshot before batch k holds keys 0..(10*k + 5) — so batch k's
    # orphans are its last 4 keys
    batches = [
        [(f"r{k}_{j}", k * 10 + j) for j in range(10)] for k in range(3)
    ]

    class PkState:
        """Provider called once per micro-batch; re-reads the CURRENT
        snapshot (grown between batches by the foreachBatch sink itself,
        simulating an upstream dim load racing the stream)."""

        def __init__(self):
            self.next_batch = 0

        def __call__(self):
            hi = 10 * self.next_batch + 6  # keys 0 .. hi-1 exist
            return spark.createDataFrame(
                [(i,) for i in range(hi)], "pk long"
            )

    state = PkState()
    got = {}

    def sink(orphans, batch_id):
        got[batch_id] = sorted((r.row_id, r.fk) for r in orphans.collect())
        state.next_batch += 1

    for rows in batches:
        spark.createDataFrame(rows, "row_id string, fk long").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    q = (
        spark.readStream.schema("row_id string, fk long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            keyref_orphans_foreach_batch(["fk"], state, ["pk"], sink)
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(got) == 3
    # batch k's PK snapshot held 0..10k+5, so fks 10k+6..10k+9 are orphans
    for k in range(3):
        want = sorted((f"r{k}_{j}", k * 10 + j) for j in range(6, 10))
        assert got[k] == want, (k, got[k])


def test_keyref_orphans_per_batch_agrees_with_batch_operator(spark, tmp_path):
    """With a FIXED pk snapshot, the union of per-batch orphans equals
    the batch operator run over the whole table — shared code, proven on
    shared data (null fks are absent tuples in both)."""
    src = str(tmp_path / "facts2")
    rows = [(f"r{i}", None if i % 7 == 0 else i % 20) for i in range(40)]
    for lo in (0, 20):
        spark.createDataFrame(rows[lo: lo + 20], "row_id string, fk long").coalesce(
            1
        ).write.mode("append").parquet(src)

    pk_df = spark.createDataFrame([(i,) for i in range(0, 20, 2)], "pk long")
    collected = []

    q = (
        spark.readStream.schema("row_id string, fk long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            keyref_orphans_foreach_batch(
                ["fk"], lambda: pk_df, ["pk"],
                lambda orphans, bid: collected.extend(
                    (r.row_id, r.fk) for r in orphans.collect()
                ),
            )
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_orphans = sorted(
        (r.row_id, r.fk)
        for r in identity.keyref_orphans(
            spark.read.parquet(src), ["fk"], pk_df, ["pk"], broadcast_pk=True
        ).collect()
    )
    assert sorted(collected) == batch_orphans
    assert batch_orphans  # non-vacuous: odd fks are orphans
    assert all(fk is not None for _, fk in batch_orphans)  # null fks absent


def test_keyref_foreach_batch_cardinality_mismatch_raises():
    with pytest.raises(ValueError, match="cardinality"):
        keyref_orphans_foreach_batch(["a", "b"], lambda: None, ["x"], lambda d, b: None)


# --------------------------------------------------------------------------
# watermark-windowed duplicate keys
# --------------------------------------------------------------------------

def _write_dup_batches(spark, src):
    """Three 1-minute windows (one per micro-batch). Window 0: key 'a'
    x3, 'b' x1, null x2; window 1: 'b' x2, 'c' x2, 'a' x1; window 2
    (never closed): 'a' x5."""
    batches = [
        [("a", 0), ("a", 1), ("a", 2), ("b", 3), (None, 4), (None, 5)],
        [("b", 60), ("b", 61), ("c", 62), ("c", 63), ("a", 64)],
        [("a", 120 + j) for j in range(5)],
    ]
    for rows in batches:
        spark.createDataFrame(
            [(k, BASE + off) for k, off in rows], "k string, ts long"
        ).withColumn("ts", F.timestamp_seconds(F.col("ts"))).coalesce(1).write.mode(
            "append"
        ).parquet(src)


def test_duplicate_keys_stream_golden(spark, tmp_path):
    src = str(tmp_path / "dups")
    _write_dup_batches(spark, src)

    out = duplicate_keys_stream(
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        ["k"], "ts", window="1 minute", watermark="0 seconds",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dup_golden")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("SELECT * FROM dup_golden").collect()
    got = sorted(
        (int((r.window_start.timestamp() - BASE) // 60), r.k, r.dup_count)
        for r in rows
    )
    # window 0: only 'a' duplicated (nulls are absent tuples, 'b' unique);
    # window 1: 'b' and 'c'; window 2 stays open (no emission)
    assert got == [(0, "a", 3), (1, "b", 2), (1, "c", 2)]


def test_duplicate_keys_stream_agrees_with_batch(spark, tmp_path):
    """Per closed window, the streaming rows equal
    identity.duplicate_values scoped by the same tumbling window on the
    same data — the shared tuple semantics, proven."""
    src = str(tmp_path / "dups2")
    _write_dup_batches(spark, src)

    out = duplicate_keys_stream(
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        ["k"], "ts", window="1 minute", watermark="0 seconds",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dup_agree")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_rows = {
        (r.window_start, r.k): r.dup_count
        for r in spark.sql("SELECT * FROM dup_agree").collect()
    }

    batch = spark.read.parquet(src).withColumn(
        "w", F.window(F.col("ts"), "1 minute").getField("start")
    )
    batch_rows = {
        (r["w"], r["k"]): r["dup_count"]
        for r in identity.duplicate_values(batch, ["k"], scope_col="w").collect()
    }
    assert stream_rows  # closed windows only
    for key, n in stream_rows.items():
        assert batch_rows[key] == n, key


def test_duplicate_keys_stream_multi_column_and_scope(spark, tmp_path):
    """Composite key tuples + a scope column; a tuple with ANY null field
    never counts (XSD absent-tuple semantics)."""
    src = str(tmp_path / "dups3")
    rows = [
        ("s1", "x", 1, 0), ("s1", "x", 1, 1),      # dup in scope s1
        ("s2", "x", 1, 2),                           # same tuple, other scope
        ("s1", "y", None, 3), ("s1", "y", None, 4),  # null field: absent
        ("s1", "z", 2, 60),                          # window 1 (closes window 0)
    ]
    spark.createDataFrame(
        [(s, a, b, BASE + off) for s, a, b, off in rows],
        "scope string, a string, b long, ts long",
    ).withColumn("ts", F.timestamp_seconds(F.col("ts"))).coalesce(1).write.parquet(src)

    out = duplicate_keys_stream(
        spark.readStream.schema("scope string, a string, b long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        ["a", "b"], "ts", window="1 minute", watermark="0 seconds",
        scope_col="scope",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dup_scope")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        (r.scope, r.a, r.b, r.dup_count)
        for r in spark.sql("SELECT * FROM dup_scope").collect()
    ]
    assert got == [("s1", "x", 1, 2)]

    # the batch operator on composite keys where most tuples hold a NULL
    # field: only complete tuples count, scoped or not, salted or not
    many = [
        (s, a, b) for s in ("s1", "s2") for a in ("x", None) for b in (1, None)
    ] * 3 + [("s1", "x", 1), ("s1", None, None)]
    batch = spark.createDataFrame(many, "scope string, a string, b long")
    complete = [r for r in many if None not in r[1:]]
    for scope_col, key in (("scope", lambda r: r), (None, lambda r: r[1:])):
        want = {k: n for k, n in Counter(map(key, complete)).items() if n > 1}
        for salt in (0, 3):
            dups = identity.duplicate_values(
                batch, ["a", "b"], scope_col=scope_col, salt_partitions=salt
            )
            got = {tuple(r)[:-1]: r.dup_count for r in dups.collect()}
            assert got == want, (scope_col, salt)
    assert want == {("x", 1): 7}


def test_duplicate_keys_stream_empty_columns_raises(spark):
    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="columns"):
        duplicate_keys_stream(df, [], "timestamp")
