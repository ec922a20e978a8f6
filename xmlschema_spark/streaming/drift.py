"""Streaming distribution-drift monitoring: event-time windowed PSI of a
numeric column against a batch-computed reference histogram.

No reference analog (the reference validates static documents); this is
the streaming face of ``operators.drift`` — the watermark + windowed-agg
pattern from ``streaming.validate`` applied to drift instead of verdicts.

Execution shape (append-mode compatible — ONE stateful aggregation):
the per-bucket counts of each window are accumulated as ``bins``
conditional-sum columns inside a single windowed agg (map-side partial
aggregation applies), and the Σ (p−q)·ln(p/q) arithmetic is a stateless
projection over those columns. The reference histogram is a few dozen
floats shipped in the plan as literals (see
:func:`xmlschema_spark.operators.drift.reference_histogram`).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmlschema_spark.operators.drift import _EPS, _bucket


def _windowed_histogram(
    stream_df: DataFrame,
    column: str,
    time_col: str,
    reference: tuple[float, float, list[float]],
    window_duration: str,
    watermark: str,
):
    """The one stateful windowed aggregation both monitors share:
    ``column`` bucketed on the reference grid, one conditional count per
    bucket. Returns ``(agg, ps, total)`` — the aggregated stream, the
    epsilon-smoothed window proportion of each bucket, and the window's
    non-NULL row count, the last two as Columns over ``agg``."""
    lo, hi, ref_p = reference
    bins = len(ref_p)
    bucket = _bucket(column, lo, hi, bins)
    counts = [
        F.sum(F.when(bucket == i, 1).otherwise(0)).alias(f"__n{i}")
        for i in range(bins)
    ]
    agg = (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window_duration).alias("window"))
        .agg(*counts)
    )
    total = sum((F.col(f"__n{i}") for i in range(bins)), F.lit(0))
    ps = [F.col(f"__n{i}") / F.greatest(total, F.lit(1)) + F.lit(_EPS) for i in range(bins)]
    return agg, ps, total


def windowed_psi(
    stream_df: DataFrame,
    column: str,
    time_col: str,
    reference: tuple[float, float, list[float]],
    window_duration: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming DataFrame of ``(window, psi, n)`` rows — one per closed
    event-time window, emitted once the watermark passes (late rows
    within the watermark are folded in before emission).

    ``reference`` is ``(lo, hi, ref_p)`` from
    :func:`~xmlschema_spark.operators.drift.reference_histogram`, computed
    on a batch reference table; buckets use the same bounds so the two
    histograms are comparable.
    """
    ref_p = reference[2]
    agg, ps, total = _windowed_histogram(
        stream_df, column, time_col, reference, window_duration, watermark
    )
    terms = []
    for p, r in zip(ps, ref_p):
        q = F.lit(r + _EPS)
        terms.append((p - q) * (F.log(p) - F.lit(math.log(r + _EPS))))
    psi = sum(terms[1:], terms[0])
    return agg.select("window", psi.alias("psi"), total.cast("long").alias("n"))


def windowed_divergence(
    stream_df: DataFrame,
    column: str,
    time_col: str,
    reference: tuple[float, float, list[float]],
    metric: str = "chi2",
    window_duration: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming ``(window, <metric>, n)`` rows — the streaming face of
    :func:`xmlschema_spark.operators.drift.divergence`, same execution
    shape as :func:`windowed_psi` (ONE stateful windowed aggregation of
    ``bins`` conditional counts; the metric arithmetic is a stateless
    projection with the reference proportions inlined as literals).

    ``metric``: ``"chi2"`` (Pearson homogeneity statistic,
    ``n · Σ (p−q)²/q`` — sample-size-aware) or ``"jsd"``
    (Jensen–Shannon divergence, symmetric, bounded [0, ln 2]). Smoothing
    matches the batch operator: both histograms epsilon-shifted on the
    full bucket grid.
    """
    if metric not in ("chi2", "jsd"):
        raise ValueError(f"unknown divergence metric {metric!r}")
    ref_p = reference[2]
    agg, ps, total = _windowed_histogram(
        stream_df, column, time_col, reference, window_duration, watermark
    )
    terms = []
    for p, r in zip(ps, ref_p):
        q = r + _EPS  # python float: folds to a literal per bucket
        if metric == "chi2":
            terms.append((p - F.lit(q)) * (p - F.lit(q)) / F.lit(q))
        else:
            m = (p + F.lit(q)) / F.lit(2.0)
            terms.append(
                F.lit(0.5) * p * (F.log(p) - F.log(m))
                + F.lit(0.5) * F.lit(q) * (F.lit(math.log(q)) - F.log(m))
            )
    stat = sum(terms[1:], terms[0])
    if metric == "chi2":
        stat = total.cast("double") * stat
    return agg.select("window", stat.alias(metric), total.cast("long").alias("n"))
