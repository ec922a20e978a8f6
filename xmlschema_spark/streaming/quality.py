"""Streaming data-quality monitor: per-event-time-window completeness +
volume verdicts over a continuous ingest.

The streaming face of ``operators.checks.completeness`` /
``checks.volume_anomaly``: ONE watermark-bounded windowed aggregation
computes the row count and per-column null counts for each tumbling
event-time window, and the long-form pivot + verdicts are stateless
projections AFTER the agg (group-cardinality, closed-window rows only —
never the stream). State per window is a fixed-width buffer of
len(columns)+1 longs, dropped once the watermark passes the window end,
so a 10^12-event stream holds state proportional to open windows, not
history. The aggregation list, the pivot and the null / distinct
verdicts are the batch column-quality core in ``operators/checks.py``
(``_quality_aggs``, ``_pivot``, ``_null_verdicts``,
``_distinct_verdicts``), keyed here by the window bounds instead of
group columns; its NULL / NaN conventions hold here too.

Verdicts against EXPLICIT pinned expectations (``max_null_frac``,
``min_rows``) rather than the batch operator's median±MAD: a robust
center over all windows would require unbounded state; the streaming
contract is "alert when this window violates the declared expectation",
the batch contract is "find the windows that violate the table's own
distribution" — run the batch check over the sink for the latter.

Reference analog: the one-pass lazy iterparse mode
(resources.py:544-590) — incremental bookkeeping emitted as the pass
moves, never a rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmlschema_spark.operators.checks import (
    _check_args,
    _distinct_counter,
    _distinct_verdicts,
    _null_verdicts,
    _pivot,
    _quality_aggs,
)


def quality_monitor_stream(
    stream_df: DataFrame,
    ts_col: str,
    columns: list[str],
    window: str = "1 hour",
    watermark: str = "2 hours",
    max_null_frac: float = 0.0,
    min_rows: int = 1,
    distinct_rsd: float | None = None,
) -> DataFrame:
    """Streaming DataFrame (append mode) of one row per CLOSED window and
    checked column: ``window_start, window_end, column, n_rows, n_null,
    null_frac, is_incomplete, is_low_volume`` — the per-window quality
    line an operator alerts on. ``is_incomplete`` = null_frac >
    ``max_null_frac`` (strict, the batch completeness rule);
    ``is_low_volume`` = n_rows < ``min_rows`` (per window, repeated on
    every column row of that window).

    ``distinct_rsd`` (e.g. ``0.05``) additionally tracks per-column
    cardinality in the SAME stateful aggregation via
    ``approx_count_distinct`` — a fixed-width HyperLogLog++ buffer per
    open window (exact ``count_distinct`` would need unbounded per-value
    state; HLL is the only streaming-safe cardinality sketch, and the
    same dial batch ``checks.distinctness(exact=False)`` uses, so the
    streaming tail and a batch backfill over the sink agree on the
    estimator). Adds ``n_distinct`` and ``is_constant`` (n_distinct <= 1
    on a window with non-null rows — the dead-upstream-join symptom,
    live per window)."""
    _check_args(columns=columns, max_null_frac=max_null_frac)
    if min_rows < 0:
        raise ValueError(f"min_rows must be >= 0, got {min_rows}")
    if distinct_rsd is not None and not 0.0 < distinct_rsd < 1.0:
        raise ValueError(f"distinct_rsd must be in (0, 1), got {distinct_rsd}")
    distinct = None if distinct_rsd is None else _distinct_counter(False, distinct_rsd)
    agg = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("__w"))
        .agg(*_quality_aggs(columns, distinct))
    )
    bounds = [F.col("__w.start").alias("window_start"), F.col("__w.end").alias("window_end")]
    out = _null_verdicts(_pivot(agg, bounds, columns), max_null_frac)
    nd = [] if distinct is None else ["n_distinct"]
    if nd:
        out = _distinct_verdicts(out, 0.0)
    return out.select(
        "window_start", "window_end", "column", "n_rows", "n_null", *nd,
        "null_frac", "is_incomplete",
        (F.col("n_rows") < F.lit(int(min_rows))).alias("is_low_volume"),
        *(["is_constant"] if nd else []),
    )
