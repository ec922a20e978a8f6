"""Streaming GOLDEN tests (round-2 verdict item #9): deterministic
micro-batches (one parquet file per trigger) driven to completion with
processAllAvailable, asserted against EXACT expected rows derived
independently in plain Python — the streaming counterpart of the
fixtures.tsv manifest (reference testfiles manifest,
tests/test_factory.py:116-193)."""

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.engine import ValidationEngine
from xmlschema_spark.rules import Rule, RuleSet
from xmlschema_spark.streaming import validate_stream
from xmlschema_spark.streaming.validate import windowed_verdicts

# three micro-batches of 40 rows each; every field a pure function of i,
# so the golden expectations below are re-derivable by hand
BATCHES = [list(range(0, 40)), list(range(40, 80)), list(range(80, 120))]


def _row(i: int) -> tuple:
    return (
        i,  # id
        float(i % 17),  # value — v_max(12) violated iff i % 17 > 12
        f"p{i % 2}",  # pt
        i % 13,  # dup_key — 40 rows mod 13 ⇒ duplicates within a batch
        # ts: minute-aligned base, batch k → tumbling window k
        1_700_000_040 + (i // 40) * 60 + (i % 40),
    )


def _write_batches(spark, src: str) -> None:
    for k, ids in enumerate(BATCHES):
        spark.createDataFrame(
            [_row(i) for i in ids], "id long, value double, pt string, dup_key long, ts long"
        ).withColumn("ts", F.timestamp_seconds(F.col("ts"))).coalesce(1).write.mode(
            "append"
        ).parquet(src)


def _stream(spark, src: str):
    return (
        spark.readStream.schema(
            "id long, value double, pt string, dup_key long, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _engine():
    return ValidationEngine(
        RuleSet(
            [
                Rule("v_max", "max", "value", {"value": 12}),
                Rule("dup_unique", "unique", "", {"columns": ["dup_key"]}),
            ]
        ),
        id_col="id",
        partition_col="pt",
    )


def test_validate_stream_golden_rows(spark, tmp_path):
    """Exact expected violation rows across three deterministic
    micro-batches: v_max per row, unique per duplicated VALUE per batch
    (identities.py:217-221 semantics, scope = micro-batch)."""
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    _write_batches(spark, src)

    q = validate_stream(_engine(), _stream(spark, src), sink, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(sink)

    # golden: v_max — one row per input row with i % 17 > 12
    want_vmax = {str(i) for b in BATCHES for i in b if i % 17 > 12}
    got_vmax = {
        r.row_id for r in out.filter(F.col("rule_id") == "v_max").collect()
    }
    assert got_vmax == want_vmax

    # golden: unique — one violation per duplicated dup_key VALUE per batch
    want_dups = set()
    for k, ids in enumerate(BATCHES):
        seen: dict[int, int] = {}
        for i in ids:
            seen[i % 13] = seen.get(i % 13, 0) + 1
        for v, n in seen.items():
            if n > 1:
                want_dups.add((f"stream-{k}", str(v), n))
    got = out.filter(F.col("rule_id") == "dup_unique").collect()
    assert {(r.run_id, r.value) for r in got} == {(a, b) for a, b, _ in want_dups}
    # exactly one row per duplicated value per batch — never per duplicate row
    assert len(got) == len(want_dups)


def test_windowed_verdicts_golden_rows(spark, tmp_path):
    """Exact per-(window, partition) verdict rows: batch k's event times
    all fall in tumbling window k; the watermark (advanced batch-over-
    batch by maxFilesPerTrigger=1) releases windows 0 and 1 in append
    mode. Counts are exact functions of the generator."""
    src = str(tmp_path / "src")
    _write_batches(spark, src)

    eng = ValidationEngine(
        RuleSet([
            Rule("v_max", "max", "value", {"value": 12}),
            # a warning that fires on most rows must not count toward FAIL
            Rule("v_warn", "max", "value", {"value": 5}, severity="warning"),
        ]),
        id_col="id",
        partition_col="pt",
    )
    wv = windowed_verdicts(
        eng, _stream(spark, src), "ts", window="1 minute", watermark="0 seconds"
    )
    q = (
        wv.writeStream.outputMode("append")
        .format("memory")
        .queryName("wv_golden")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("SELECT * FROM wv_golden").collect()
    got = {
        (r.window_start.isoformat(), r.partition_id): (
            r.status,
            r.rows_checked,
            r.violation_count,
        )
        for r in rows
    }

    import datetime

    want = {}
    for k, ids in enumerate(BATCHES[:2]):  # window 2 stays open (no later watermark)
        start = datetime.datetime.fromtimestamp(
            1_700_000_040 + k * 60, datetime.timezone.utc
        ).replace(tzinfo=None)
        for pt in ("p0", "p1"):
            sel = [i for i in ids if f"p{i % 2}" == pt]
            viol = sum(1 for i in sel if i % 17 > 12)
            want[(start.isoformat(), pt)] = (
                "FAIL" if viol else "PASS",
                len(sel),
                viol,
            )
    assert got == want


def test_session_stats_stream_golden_rows(spark, tmp_path):
    """Streaming sessionization golden: two users with hand-placed gaps
    across two micro-batches; a far-future heartbeat advances the
    watermark so every real session closes and is emitted (append mode).
    Expectations derived by hand from the gap rule, including the exact
    30s boundary: session_window merges ADJACENT ranges, so a gap of
    exactly `gap` stays in the session — identical to batch sessionize's
    strict > test (new session only when the gap exceeds the threshold)."""
    from xmlschema_spark.streaming import session_stats_stream

    src = str(tmp_path / "src")
    base = 1_700_000_000
    batches = [
        # (user, ts_offset)
        [(1, 0), (1, 10), (2, 0)],           # u1 session A (0,10); u2 session (0)
        [(1, 40), (1, 70), (2, 200)],        # 10->40 is exactly gap=30s: NEW session
        [(9, 100_000)],                      # heartbeat: watermark passes everything
    ]
    for rows in batches:
        spark.createDataFrame(
            [(u, base + off) for u, off in rows], "user_id long, ts long"
        ).withColumn("ts", F.timestamp_seconds(F.col("ts"))).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = session_stats_stream(stream, "user_id", "ts", gap="30 seconds", watermark="10 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_golden")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.session_start, r.n_events, r.duration_sec)
        for r in spark.sql("SELECT * FROM sess_golden").collect()
    }
    from datetime import datetime, timezone

    def fmt(off):
        return datetime.fromtimestamp(base + off, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

    # u1 gaps: 10s, 30s (exact boundary -> merges), 30s -> one 4-event
    # session spanning 70s; u2 gap 200s > 30s -> two singletons
    want = {
        (1, fmt(0), 4, 70),
        (2, fmt(0), 1, 0),
        (2, fmt(200), 1, 0),
    }
    assert got == want

    # cross-check: the batch operator over the SAME events yields the same
    # sessions (plus the heartbeat's own session, which streaming correctly
    # keeps open/unemitted)
    from xmlschema_spark.operators.curation import session_stats

    batch_df = spark.createDataFrame(
        [(u, base + off) for rows in batches for u, off in rows],
        "user_id long, ts long",
    ).withColumn("ts", F.timestamp_seconds(F.col("ts")))
    batch = {
        (r.user_id, r.session_start, r.n_events, r.duration_sec)
        for r in session_stats(batch_df, "user_id", "ts", gap_sec=30).collect()
    }
    assert batch == want | {(9, fmt(100_000), 1, 0)}
