"""Distribution-drift checks per partition: the histogram family (PSI,
chi2, JSD, W1) and KS.

No reference analog — a north-star addition (SURVEY.md §2.8): each
partition's distribution of a numeric column is compared against a
reference distribution (by default the whole table's).

- **Histogram drift** (:func:`psi`, :func:`divergence`): one shared core,
  ``_histogram_drift`` — ONE distributed (partition, bucket) histogram
  aggregation, the metric arithmetic driver-side in numpy on the tiny
  result, and a distributed skeleton-join SQL fallback above a cell cap.
  The metrics differ only in their final formula. The driver-side scores
  come back as a LocalRelation (``compiler.local_frame``): a consumer
  that unions or collects them starts no Spark task for them.
- **KS** uses ``applyInPandas`` per partition (vectorized numpy, no
  per-row Python): exact empirical CDF vs a reference CDF evaluated on a
  quantile grid. Grid is computed once (approx_percentile, one pass) and
  shipped in the closure — a few hundred floats.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xmlschema_spark.compiler import local_frame

_EPS = 1e-6


def _bucket(column: str, lo: float, hi: float, bins: int) -> Column:
    """The bucket of ``column`` on the ``bins``-wide grid over [lo, hi]:
    values outside the bounds clamp to the edge buckets, NULL values get a
    NULL bucket."""
    span = (hi - lo) or 1.0
    return F.when(
        F.col(column).isNotNull(),
        F.least(
            F.greatest(F.floor((F.col(column) - F.lit(lo)) / F.lit(span) * bins), F.lit(0)),
            F.lit(bins - 1),
        ),
    )


def _bounds(df: DataFrame, column: str) -> tuple:
    """(min, max) of ``column`` as doubles; (None, None) when it has no
    non-NULL value."""
    return df.agg(F.min(column).cast("double"), F.max(column).cast("double")).first()


def _bucket_counts(df: DataFrame, column: str, bucket: Column, bins: int) -> np.ndarray:
    """Per-bucket counts of the non-NULL ``column`` values of ``df``: one
    map-side-combined count aggregation, collected as a ``bins`` array."""
    counts = np.zeros(bins)
    for r in (
        df.select(column)
        .filter(F.col(column).isNotNull())
        .groupBy(bucket.alias("__bucket"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    ):
        counts[int(r["__bucket"])] += r["__n"]
    return counts


def _driver_value(metric: str, p0: np.ndarray, q0: np.ndarray, n, width: float):
    """``metric`` of one partition on the driver, from its bucket
    proportions ``p0``, the reference's ``q0``, its non-NULL count ``n``
    and the bucket width."""
    p, q = p0 + _EPS, q0 + _EPS
    if metric == "psi":
        return np.sum((p - q) * np.log(p / q))
    if metric == "chi2":
        return n * np.sum((p - q) ** 2 / q)
    if metric == "jsd":
        m = (p + q) / 2.0
        return 0.5 * np.sum(p * np.log(p / m)) + 0.5 * np.sum(q * np.log(q / m))
    return np.sum(np.abs(np.cumsum(p0 - q0))) * width


def _sql_value(metric: str, p0: Column, q0: Column, n: Column, width: float) -> Column:
    """``metric`` as one aggregate over a partition's ``bins`` grid rows —
    the fallback's twin of :func:`_driver_value`. w1 reads the cumulative
    gap ``__cumdiff`` the fallback adds for it."""
    p, q = p0 + F.lit(_EPS), q0 + F.lit(_EPS)
    if metric == "psi":
        return F.sum((p - q) * F.log(p / q))
    if metric == "chi2":
        return n * F.sum((p - q) * (p - q) / q)
    if metric == "jsd":
        m = (p + q) / F.lit(2.0)
        return F.lit(0.5) * F.sum(p * F.log(p / m)) + F.lit(0.5) * F.sum(q * F.log(q / m))
    return F.sum(F.abs(F.col("__cumdiff"))) * F.lit(width)


def _histogram_drift(
    df: DataFrame,
    column: str,
    partition_col: str,
    metric: str,
    bins: int,
    reference: DataFrame | None,
    max_collected_cells: int,
) -> DataFrame:
    """(partition, ``metric``) for every partition of ``df`` — the one
    execution of the histogram drift family.

    Conventions: buckets are laid on the ``bins`` grid over ``df``'s
    [min, max] of ``column`` (:func:`_bucket`); the reference's values
    outside it clamp to the edge buckets. NULL values are not counted, but
    their rows keep the partition present: a partition with no non-NULL
    value compares an all-zero histogram. Both proportion vectors are
    epsilon-shifted (``_EPS``) on the full grid before psi/chi2/jsd, so a
    bucket with mass on one side only contributes a finite term; w1 works
    on the unshifted proportions. An empty or all-NULL ``column`` gives no
    rows.

    Execution (see :func:`psi` for why): the bounds, then ONE distributed
    (partition, bucket) count aggregation collected to the driver (plus
    one bucket count of ``reference`` when given) and the metric in numpy
    on that tiny histogram; above ``max_collected_cells`` cells, the
    distributed :func:`_skeleton_drift` plan instead."""
    schema = df.select(partition_col).schema.add(metric, "double")
    lo, hi = _bounds(df, column)
    if lo is None:
        return local_frame(df.sparkSession, [], schema)
    bucket = _bucket(column, lo, hi, bins)
    width = ((hi - lo) or 1.0) / bins
    hist_rows = (
        df.groupBy(F.col(partition_col).alias("__part"), bucket.alias("__bucket"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .limit(max_collected_cells + 1)
        .collect()
    )
    if len(hist_rows) > max_collected_cells:
        return _skeleton_drift(
            df, column, partition_col, metric, bucket, bins, reference, width
        )
    if reference is None:
        ref_counts = np.zeros(bins)  # the pooled partition counts, summed below
    else:
        ref_counts = _bucket_counts(reference, column, bucket, bins)
    parts: dict = {}
    for r in hist_rows:
        counts = parts.setdefault(r["__part"], np.zeros(bins))
        if r["__bucket"] is not None:
            counts[int(r["__bucket"])] += r["__n"]
            if reference is None:
                ref_counts[int(r["__bucket"])] += r["__n"]
    q0 = ref_counts / max(ref_counts.sum(), 1)
    out = []
    for part, counts in parts.items():
        n = counts.sum()
        out.append((part, float(_driver_value(metric, counts / max(n, 1), q0, n, width))))
    return local_frame(df.sparkSession, out, schema)


def _skeleton_drift(df, column, partition_col, metric, bucket, bins, reference, width):
    """The distributed fallback of :func:`_histogram_drift`: partition and
    reference histograms left-joined onto a (partition × bucket) skeleton,
    so a bucket missing on either side still contributes its term."""
    ref = reference if reference is not None else df
    ref_hist = (
        ref.select(column)
        .filter(F.col(column).isNotNull())
        .groupBy(bucket.alias("__bucket"))
        .agg(F.count(F.lit(1)).alias("ref_n"))
    )
    # proportion via a 1-row total cross-join (a global window would funnel
    # the histogram through a single partition)
    ref_total = ref_hist.agg(F.sum("ref_n").alias("__total"))
    ref_hist = ref_hist.crossJoin(ref_total).withColumn(
        "ref_p", F.col("ref_n") / F.col("__total")
    )
    part_hist = (
        df.select(partition_col, column)
        .filter(F.col(column).isNotNull())
        .groupBy(partition_col, bucket.alias("__bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("n_part", F.sum("n").over(Window.partitionBy(partition_col)))
        .withColumn("p", F.col("n") / F.col("n_part"))
    )
    skeleton = (
        df.select(partition_col)
        .distinct()
        .crossJoin(
            df.sparkSession.range(bins).select(F.col("id").cast("long").alias("__bucket"))
        )
    )
    joined = (
        skeleton.join(part_hist, [partition_col, "__bucket"], "left")
        .join(ref_hist.select("__bucket", "ref_p"), "__bucket", "left")
    )
    p0 = F.coalesce(F.col("p"), F.lit(0.0))
    q0 = F.coalesce(F.col("ref_p"), F.lit(0.0))
    if metric == "w1":
        # cumulative CDF gap per bucket, then one agg — the window runs
        # over the bins-row grid per partition key, not over raw rows
        joined = joined.withColumn(
            "__cumdiff",
            F.sum(p0 - q0).over(Window.partitionBy(partition_col).orderBy("__bucket")),
        )
    n_part = F.coalesce(F.max("n_part"), F.lit(0))
    return joined.groupBy(partition_col).agg(
        _sql_value(metric, p0, q0, n_part, width).alias(metric)
    )


def psi(
    df: DataFrame,
    column: str,
    partition_col: str,
    bins: int = 10,
    reference: DataFrame | None = None,
    max_collected_cells: int = 200_000,
) -> DataFrame:
    """Population Stability Index per partition vs reference
    → (partition, psi). reference=None ⇒ the whole table.

    Execution: ONE distributed aggregation produces the (partition, bucket)
    histogram; the PSI arithmetic runs driver-side in numpy because the
    histogram is tiny (n_partitions × bins). This collapses what would be a
    6-stage chain of micro-shuffles (skeleton cross-join, window, three
    joins) into a single shuffle — the fixed-latency chain dominated suite
    wall time. If the histogram exceeds ``max_collected_cells`` (pathological
    partition cardinality), we fall back to the fully distributed SQL plan.
    """
    return _histogram_drift(
        df, column, partition_col, "psi", bins, reference, max_collected_cells
    )


def divergence(
    df: DataFrame,
    column: str,
    partition_col: str,
    metric: str = "chi2",
    bins: int = 10,
    reference: DataFrame | None = None,
    max_collected_cells: int = 200_000,
) -> DataFrame:
    """Histogram-divergence drift per partition vs reference
    → (partition, <metric>). ``metric``:

    - ``"chi2"`` — Pearson's chi-squared statistic
      ``n_part · Σ_b (p_b − q_b)² / q_b`` (the classic homogeneity test
      against the reference proportions; scales with partition size, so
      it doubles as a sample-size-aware drift alarm).
    - ``"jsd"`` — Jensen–Shannon divergence
      ``½·Σ p·ln(p/m) + ½·Σ q·ln(q/m)`` with ``m = (p+q)/2`` —
      symmetric, bounded [0, ln 2], comparable across partitions of any
      size.
    - ``"w1"`` — first Wasserstein (earth mover's) distance between the
      binned distributions, ``Σ_b |CDF_p(b) − CDF_q(b)| · bin_width`` —
      the only metric here expressed in the UNITS OF ``column`` ("the
      partition's values sit on average 3.2 units away from reference"),
      which makes thresholds physically interpretable and, unlike
      PSI/chi2/JSD, penalizes far-apart mass more than adjacent-bucket
      wobble. Needs no epsilon smoothing (cumulative differences are
      finite with zero masses).

    Same smoothing and execution as :func:`psi` (the shared core
    ``_histogram_drift``): ONE distributed (partition, bucket) count
    aggregation, metric arithmetic driver-side in numpy on the tiny
    histogram, distributed SQL fallback above ``max_collected_cells``
    (w1's fallback adds a per-partition cumulative-sum window over the
    ``bins``-row grid before the final agg). ``reference=None`` compares
    each partition against the whole table.
    """
    if metric not in ("chi2", "jsd", "w1"):
        raise ValueError(f"unknown divergence metric {metric!r}")
    return _histogram_drift(
        df, column, partition_col, metric, bins, reference, max_collected_cells
    )


def ks_exact(
    df: DataFrame,
    column: str,
    partition_col: str,
    reference: DataFrame | None = None,
    quantize_scale: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic per partition vs
    reference → (partition, ks, n) as a PURE Catalyst plan (counts +
    window cumulative sums) — no UDF.

    Unlike :func:`ks` (approx-quantile grid + grouped-map pandas UDF),
    this is exact on the (optionally quantized) values and uses integer
    count arithmetic until the final division, so results are
    bit-deterministic across engines — DuckDB-oracle verifiable.
    Intended for discrete or quantized columns: pass ``quantize_scale=s``
    to bin continuous data at 10^-s resolution (``floor(x * 10^s)``),
    which also bounds the distinct-value skeleton.

    Scale shape: the heavy aggregations are map-side-combined counts
    keyed by (partition, value); everything after runs on distinct-value
    cardinality, not row cardinality. The reference-CDF cumsum uses a
    global ordered window — a single-partition funnel over only the
    distinct (quantized) values, fine whenever that cardinality is
    bounded (the point of ``quantize_scale``).

    The supremum |F_part − F_ref| is evaluated at every distinct value of
    either side (both empirical CDFs only jump there), so the statistic
    is exact for the quantized distributions.
    """
    ref = reference if reference is not None else df

    def _pv(d: DataFrame, with_part: bool) -> DataFrame:
        v = F.col(column)
        if quantize_scale is not None:
            v = F.floor(v * F.lit(float(10**quantize_scale))).cast("long")
        cols = [v.alias("__v")]
        if with_part:
            cols.insert(0, F.col(partition_col).alias("__part"))
        return d.select(*cols).filter(F.col(column).isNotNull())

    part_counts = _pv(df, True).groupBy("__part", "__v").agg(
        F.count(F.lit(1)).alias("__np")
    )
    if reference is None:
        ref_counts = part_counts.groupBy("__v").agg(F.sum("__np").alias("__nr"))
    else:
        ref_counts = _pv(ref, False).groupBy("__v").agg(
            F.count(F.lit(1)).alias("__nr")
        )

    # all jump points: distinct values of either side
    values = part_counts.select("__v").union(ref_counts.select("__v")).distinct()
    # reference CDF at each value (distinct-value-sized frame; ordered
    # window is a deliberate single-partition funnel over few rows)
    w_ref = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    ref_cdf = (
        values.join(ref_counts, "__v", "left")
        .withColumn("__cum_r", F.sum(F.coalesce("__nr", F.lit(0))).over(w_ref))
        .crossJoin(ref_counts.agg(F.sum("__nr").alias("__nref")))
        .select("__v", "__cum_r", "__nref")
    )
    # per-partition CDF on the (partitions × values) skeleton
    skeleton = part_counts.select("__part").distinct().crossJoin(values)
    w_p = (
        Window.partitionBy("__part")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("__part")
    grid = (
        skeleton.join(part_counts, ["__part", "__v"], "left")
        .withColumn("__cum_p", F.sum(F.coalesce("__np", F.lit(0))).over(w_p))
        .withColumn("__n", F.sum(F.coalesce("__np", F.lit(0))).over(w_all))
        .join(ref_cdf, "__v")
    )
    return grid.groupBy(F.col("__part").alias(partition_col)).agg(
        F.max(
            F.abs(
                F.col("__cum_p") / F.col("__n") - F.col("__cum_r") / F.col("__nref")
            )
        ).alias("ks"),
        F.first("__n").alias("n"),
    )


def ks(
    df: DataFrame,
    column: str,
    partition_col: str,
    reference: DataFrame | None = None,
    grid_size: int = 201,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per partition vs reference
    → (partition, ks, n). The evaluation grid comes from an approx-quantile
    sketch (one pass); the reference CDF is then computed EXACTLY at the
    deduped grid points (one more wide-agg pass over the reference — ≤
    ``grid_size`` conditional averages, map-side combined). The per-
    partition CDF is exact inside a grouped-map pandas UDF.

    Approximation therefore lives only in grid *placement*: the statistic
    is the true sup|F_part − F_ref| restricted to the grid. On a discrete
    column where every distinct value carries ≥ (1/(grid_size−1) ×
    sketch-error margin) of mass — e.g. any quantized column with ~1%+
    per value — every jump point is provably on the grid and the result
    equals :func:`ks_exact` bit-for-bit (both sides reduce to the same
    integer-count divisions), which is how the driver oracle certifies
    this path."""
    ref = reference if reference is not None else df
    ref_vals = ref.select(column).filter(F.col(column).isNotNull())
    probs = [i / (grid_size - 1) for i in range(grid_size)]
    grid = ref_vals.agg(
        F.percentile_approx(column, probs, 10_000).alias("q")
    ).first()["q"]
    out_schema = (
        T.StructType().add(partition_col, "string").add("ks", "double").add("n", "long")
    )
    if grid is None:
        return local_frame(df.sparkSession, [], out_schema)
    uniq = sorted(set(grid))
    cdf_row = ref_vals.agg(
        *[
            F.avg((F.col(column) <= F.lit(g)).cast("double")).alias(f"c{i}")
            for i, g in enumerate(uniq)
        ]
    ).first()
    grid_arr = np.asarray(uniq, dtype=np.float64)
    ref_cdf = np.asarray([cdf_row[f"c{i}"] for i in range(len(uniq))])

    def _ks_one(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[column].to_numpy(dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if len(vals) == 0:
            stat = float("nan")
        else:
            emp = np.searchsorted(np.sort(vals), grid_arr, side="right") / len(vals)
            stat = float(np.max(np.abs(emp - ref_cdf)))
        return pd.DataFrame(
            {partition_col: [pdf[partition_col].iloc[0]], "ks": [stat], "n": [len(vals)]}
        )

    return (
        df.select(partition_col, column)
        .filter(F.col(column).isNotNull())
        .groupBy(partition_col)
        .applyInPandas(_ks_one, schema=out_schema)
    )


def reference_histogram(
    df: DataFrame, column: str, bins: int = 10
) -> tuple[float, float, list[float]]:
    """Batch-side reference for streaming drift: ``(lo, hi, ref_p)`` with
    ``ref_p`` the per-bucket proportions of the non-null values. One
    pass for bounds + one map-side-combined count agg; the result is a
    few dozen floats, meant to be shipped in a closure to
    :func:`xmlschema_spark.streaming.windowed_psi`."""
    lo, hi = _bounds(df, column)
    if lo is None:
        raise ValueError(f"reference for {column!r} is empty / all-null")
    counts = _bucket_counts(df, column, _bucket(column, lo, hi, bins), bins)
    return float(lo), float(hi), (counts / max(counts.sum(), 1)).tolist()


# Benford first-digit expected frequencies, log10(1 + 1/d), emitted as
# full-precision literals so the Spark plan and any SQL oracle parse the
# SAME correctly-rounded doubles (no cross-engine log() ULP concerns).
BENFORD_EXPECTED = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    mad_threshold: float = 0.015,
) -> DataFrame:
    """Benford's-law conformance per group: the distribution of FIRST
    significant digits of ``value_col`` (rows with value >= 1; amounts,
    counts, sizes — naturally scale-spanning positives) against the
    analytic expectation P(d) = log10(1 + 1/d), with the group verdict
    ``is_anomalous`` = mean absolute deviation over the 9 digits above
    ``mad_threshold`` (Nigrini's 0.015 = "marginal conformance" bound).
    Unlike PSI/KS/W1 (two-sample, drift BETWEEN partitions) this tests
    each group against a fixed analytic reference — the fabricated-data
    / broken-upstream-generator detector.

    Returns one row per (group, digit 1..9): n, n_total, obs_freq,
    exp_freq, abs_dev, mad, is_anomalous — zero-count digits included
    (MAD over a digit the group never produced is exactly the deviation
    Benford punishes, so the skeleton is semantic, not cosmetic).

    Plan: the table is scanned and shuffled ONCE — a grouped count on
    (group, first_digit), partial map-side, shuffling at most
    9 x group-cardinality rows. The 9-digit skeleton comes from
    exploding a 9-element literal against the distinct groups of that
    counts table (group-cardinality, not data-cardinality), and the
    per-group total/MAD are windows over exactly-9-row partitions —
    bounded regardless of data volume. First-digit extraction is exact
    integer/string arithmetic (substring of the floored value's decimal
    form), not float log10 — engines agree bit-for-bit."""
    if mad_threshold <= 0:
        raise ValueError(f"mad_threshold must be > 0, got {mad_threshold}")
    gcols = list(group_cols or [])
    v = F.col(value_col)
    digit = F.substring(
        F.floor(v).cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = (
        df.filter(v.isNotNull() & (v >= 1))
        .withColumn("__digit", digit)
        .groupBy(*gcols, "__digit")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    groups = counts.select(*gcols).distinct() if gcols else counts.limit(1).select()
    skeleton = groups.withColumn(
        "digit", F.explode(F.sequence(F.lit(1), F.lit(9)))
    )
    joined = skeleton.join(
        counts.withColumnRenamed("__digit", "digit"),
        on=[*gcols, "digit"],
        how="left",
    ).withColumn("n", F.coalesce(F.col("__n"), F.lit(0)))
    wg = Window.partitionBy(*gcols) if gcols else Window.partitionBy(F.lit(1))
    exp_freq = F.when(
        F.col("digit") == 1, F.lit(BENFORD_EXPECTED[1])
    )
    for d in range(2, 10):
        exp_freq = exp_freq.when(
            F.col("digit") == d, F.lit(BENFORD_EXPECTED[d])
        )
    out = (
        joined.withColumn("n_total", F.sum("n").over(wg))
        .withColumn("obs_freq", F.col("n") / F.col("n_total"))
        .withColumn("exp_freq", exp_freq)
        .withColumn("abs_dev", F.abs(F.col("obs_freq") - F.col("exp_freq")))
        .withColumn("mad", F.avg("abs_dev").over(wg))
        .withColumn(
            "is_anomalous", F.col("mad") > F.lit(float(mad_threshold))
        )
    )
    return out.select(
        *gcols,
        "digit",
        "n",
        "n_total",
        "obs_freq",
        "exp_freq",
        "abs_dev",
        "mad",
        "is_anomalous",
    )


def corr_drift(
    df: DataFrame,
    x_col: str,
    y_col: str,
    part_col: str,
    threshold: float = 0.1,
) -> DataFrame:
    """Cross-column relationship drift: per-partition Pearson correlation
    of (x, y) vs the whole table's, flagged when the absolute difference
    exceeds ``threshold``. The univariate drift metrics (PSI/KS/W1/chi2/
    JSD/Benford) can all pass while a BROKEN JOIN or unit mixup flips
    the relationship BETWEEN columns — this is the detector for that
    failure class.

    Returns one row per partition: part, n (non-null pairs), r_part,
    r_global, abs_diff, is_drifted. Degenerate partitions (zero variance
    in either column, or < 2 pairs) get NULL r_part and are never
    flagged.

    Plan: the table is scanned and shuffled ONCE — a grouped agg of the
    five co-moment sums (n, Σx, Σy, Σx², Σy², Σxy), partial map-side.
    The global sums are an unpartitioned WINDOW over those group rows
    (one single-partition exchange of group-cardinality fixed-width
    rows — the accepted bounded pattern, see ks_exact — which REUSES
    the agg output instead of re-planning the scan the way a second
    aggregate consumer would), so global and per-partition r derive
    from the same pass: no second scan, no persist, no driver math.
    r is computed from the raw sums (n·Σxy − Σx·Σy over the √ product)
    rather than a built-in corr so any engine replays the identical
    closed-form arithmetic."""
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    ok = (
        x.isNotNull() & y.isNotNull() & ~F.isnan(x) & ~F.isnan(y)
    )
    sums = (
        df.filter(ok)
        .groupBy(F.col(part_col).alias("part"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy"),
        )
    )

    def _r(n, sx, sy, sxx, syy, sxy):
        num = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        return F.when(
            (n >= F.lit(2)) & (vx > 0) & (vy > 0),
            num / (F.sqrt(vx) * F.sqrt(vy)),
        )

    w = Window.partitionBy()
    out = (
        sums.withColumn(
            "r_global",
            _r(
                F.sum("n").over(w), F.sum("sx").over(w), F.sum("sy").over(w),
                F.sum("sxx").over(w), F.sum("syy").over(w), F.sum("sxy").over(w),
            ),
        )
        .withColumn(
            "r_part",
            _r(
                F.col("n"), F.col("sx"), F.col("sy"),
                F.col("sxx"), F.col("syy"), F.col("sxy"),
            ),
        )
        .withColumn("abs_diff", F.abs(F.col("r_part") - F.col("r_global")))
        .withColumn(
            "is_drifted",
            F.coalesce(F.col("abs_diff") > F.lit(float(threshold)), F.lit(False)),
        )
    )
    return out.select(
        "part", "n", "r_part", "r_global", "abs_diff", "is_drifted"
    )
