"""Structured-Streaming validation: continuous analog of the reference's
lazy single-pass mode.

The reference's "streaming" is ``iterparse`` with ``elem.clear()`` —
subtree-at-a-time, bounded memory, one pass
(/root/reference/xmlschema/resources.py:544-590). The Spark-native
re-expression is a Structured Streaming pipeline: ``readStream`` →
the SAME compiled wide rule projection → violation rows continuously
appended, with set-level rules (unique/keyref) evaluated per micro-batch
via ``foreachBatch`` (cross-batch global uniqueness is a stateful
aggregation the engine intentionally scopes per batch + checkpointed
run-level reconciliation — see checkpoint.py for the batch path).

Row-level rules are fully streaming-safe: they are stateless projections,
so watermarks are unnecessary. Event-time windowed verdict aggregation
uses the standard watermark + window pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmlschema_spark.engine import ValidationEngine


def streaming_row_violations(
    engine: ValidationEngine, stream_df: DataFrame, run_id: str = "stream"
) -> DataFrame:
    """Apply the compiled row-rule projection to a streaming DataFrame.

    Returns a streaming DataFrame of violation rows (same schema as the
    batch engine) — stateless, so any output mode/sink works.
    """
    return engine.row_violations(stream_df, run_id=run_id)


def validate_stream(
    engine: ValidationEngine,
    stream_df: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    run_id: str = "stream",
    trigger_seconds: int | None = None,
):
    """End-to-end streaming validation query: violations appended to a
    parquet sink with exactly-once semantics via the streaming checkpoint.

    Set-level rules run per micro-batch inside ``foreachBatch`` (each
    batch is a normal DataFrame, so the identical batch operators apply —
    uniqueness scope = micro-batch).
    """
    set_rules = engine.ruleset.set_rules

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        parts = [engine.row_violations(batch_df, run_id=f"{run_id}-{batch_id}")]
        if set_rules:
            parts += engine.set_violations(batch_df, run_id=f"{run_id}-{batch_id}")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("append").parquet(sink_path)

    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(process_batch)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def windowed_verdicts(
    engine: ValidationEngine,
    stream_df: DataFrame,
    time_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    run_id: str = "stream",
) -> DataFrame:
    """Event-time windowed verdict aggregation with late-data handling:
    per (window, partition) violation counts → PASS/FAIL, emitted once the
    watermark passes (standard watermark + windowed agg pattern)."""
    # row_violations drops the time column, so the per-row error total is
    # projected from the source with the time column kept beside it
    wide = stream_df.withWatermark(time_col, watermark).select(
        time_col,
        F.col(engine.partition_col).alias("partition_id"),
        engine._row_errors().alias("__viol"),
    )
    return (
        wide.groupBy(F.window(time_col, window).alias("win"), "partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows_checked"),
            F.sum("__viol").alias("violation_count"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "partition_id",
            F.when(F.col("violation_count") > 0, F.lit("FAIL")).otherwise(F.lit("PASS")).alias("status"),
            "rows_checked",
            "violation_count",
        )
    )
