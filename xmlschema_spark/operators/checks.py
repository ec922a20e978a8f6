"""Dataset-shape quality checks: functional dependencies, time-series
gaps, and per-partition volume anomalies.

These are the table-level integrity checks a validation run asserts
BETWEEN rows — the scaled analogs of the reference's cross-row identity
machinery (xs:unique/xs:key bind a determinant tuple to at most one row,
/root/reference/xmlschema/validators/identities.py; a functional
dependency binds it to at most one VALUE), and of its occurrence
counting over ordered content (a time-gap check is "maxOccurs of
silence" over the event timeline). The volume check is the per-partition
verdict idea (engine.py) applied to row counts themselves.

Scale notes are per-function; the common theme: the event-scale table is
touched by exactly one shuffle (a keyed agg or a keyed window), and
everything downstream operates on group-cardinality rows.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _event_us(ts_col: str) -> Column:
    """Event time as integer microseconds. ``try_cast`` makes a value that
    does not parse as a timestamp (a malformed string) NULL, so it is
    treated exactly like a NULL event time instead of aborting the query
    under ANSI casts; TIMESTAMP / TIMESTAMP_NTZ columns read unchanged."""
    return F.unix_micros(F.col(ts_col).try_cast("timestamp"))


# ---------------------------------------------------------------------------
# Column-quality core: completeness, distinctness, quality_report,
# volume_anomaly, freshness and streaming.quality_monitor_stream are
# projections of these pieces.
#
# NULL / NaN conventions, for every operator built on the core:
# - NULL is the only missing value: ``count(col)`` skips it, so
#   n_null = n_rows - n_nonnull. NaN and +-Inf are ordinary non-NULL values
#   (counted non-null; exact ``count_distinct`` counts NaN as one value).
# - A group exists only if it has a row, so n_rows >= 1 and null_frac is
#   always defined. Zero input rows give zero output rows of the same
#   schema.
# - A column with no non-NULL value has distinct_frac NULL and is neither
#   constant nor low-cardinality.
# - An event time that is NULL or does not parse (``_event_us``) is
#   skipped by ``max``; a group with no valid event time has NULL
#   last_event_us / age_us / is_stale.
# ---------------------------------------------------------------------------


def _check_args(
    *,
    group_cols: list[str] | None = None,
    columns: list[str] | None = None,
    no_columns: str = "columns must name at least one column",
    max_null_frac: float | None = None,
    min_distinct_frac: float | None = None,
    ts_col: str | None = None,
    now: str | None = None,
    max_age_sec: int | None = None,
    **positive: float | None,
) -> None:
    """The family's argument checks; an argument left at ``None`` is not
    checked. ``positive`` names further arguments that must be > 0."""
    if group_cols is not None and not group_cols:
        raise ValueError("group_cols must name at least one column")
    if columns is not None and not columns:
        raise ValueError(no_columns)
    overlap = set(columns or ()) & set(group_cols or ())
    if overlap:
        raise ValueError(f"columns overlap group_cols: {sorted(overlap)}")
    if max_null_frac is not None and not 0.0 <= max_null_frac < 1.0:
        raise ValueError(f"max_null_frac must be in [0, 1), got {max_null_frac}")
    if min_distinct_frac is not None and not 0.0 <= min_distinct_frac <= 1.0:
        raise ValueError(
            f"min_distinct_frac must be in [0, 1], got {min_distinct_frac}"
        )
    if ts_col is not None and (now is None or max_age_sec is None):
        raise ValueError("ts_col requires explicit now and max_age_sec")
    for name, value in {"max_age_sec": max_age_sec, **positive}.items():
        if value is not None and value <= 0:
            raise ValueError(f"{name} must be > 0, got {value}")


def _distinct_counter(exact: bool, rsd: float):
    """Exact ``count_distinct`` (Expand, collapsed map-side before the
    exchange) or HyperLogLog++ at relative error ``rsd`` (fixed-width
    buffer, no Expand: the 10^12-row and the streaming-safe dial)."""
    if exact:
        return lambda c: F.count_distinct(F.col(c))
    return lambda c: F.approx_count_distinct(c, rsd)


def _quality_aggs(columns: list[str], distinct=None, extra=()) -> list[Column]:
    """The one grouped aggregation: ``__n`` rows, ``__nn_i`` non-NULL per
    column, ``__nd_i`` distinct per column when a ``distinct`` counter is
    given, then any ``extra`` aggregates. The buffer is fixed-width, so
    the shuffle carries group-cardinality rows."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    aggs += [F.count(F.col(c)).alias(f"__nn_{i}") for i, c in enumerate(columns)]
    if distinct is not None:
        aggs += [distinct(c).alias(f"__nd_{i}") for i, c in enumerate(columns)]
    return aggs + list(extra)


def _pivot(g: DataFrame, keys: list, columns: list[str], carry=()) -> DataFrame:
    """Long form of the aggregation result ``g``: one row per key x
    column with ``keys``, ``column``, ``n_rows``, ``n_nonnull``,
    ``n_distinct`` (when ``g`` counted distincts), then the ``carry``
    columns. ``keys`` are whatever the caller grouped by (group columns in
    batch, the window's bounds in streaming). The inline runs on the
    group-cardinality rows, never on the data."""
    distinct = "__nd_0" in g.columns
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nn_{i}").alias("n_nonnull"),
                *([F.col(f"__nd_{i}").alias("n_distinct")] if distinct else []),
            )
            for i, c in enumerate(columns)
        ]
    )
    return g.select(*keys, F.inline(rows), *carry)


def _null_verdicts(frame: DataFrame, max_null_frac: float) -> DataFrame:
    """``n_null``, ``null_frac`` and ``is_incomplete`` (strict >)."""
    return (
        frame.withColumn("n_null", F.col("n_rows") - F.col("n_nonnull"))
        .withColumn("null_frac", F.col("n_null") / F.col("n_rows"))
        .withColumn("is_incomplete", F.col("null_frac") > F.lit(float(max_null_frac)))
    )


def _distinct_verdicts(frame: DataFrame, min_distinct_frac: float) -> DataFrame:
    """``distinct_frac`` = n_distinct / n_nonnull, ``is_constant`` (a
    non-NULL column stuck on one value) and ``is_low_cardinality``
    (distinct_frac < ``min_distinct_frac``)."""
    nonnull = F.col("n_nonnull") > 0
    return (
        frame.withColumn(
            "distinct_frac", F.when(nonnull, F.col("n_distinct") / F.col("n_nonnull"))
        )
        .withColumn("is_constant", nonnull & (F.col("n_distinct") <= 1))
        .withColumn(
            "is_low_cardinality",
            F.coalesce(
                F.col("distinct_frac") < F.lit(float(min_distinct_frac)), F.lit(False)
            ),
        )
    )


def _median(c: Column) -> Column:
    return F.percentile(c, F.lit(0.5))


def _approx_median(c: Column) -> Column:
    return F.approx_percentile(c, F.lit(0.5), F.lit(10_000))


def _mad_flag(g: DataFrame, n: str, k: float, median, names: tuple) -> DataFrame:
    """``g`` plus the median of column ``n`` over all rows, its median
    absolute deviation and the flag |n - median| > k * MAD, named
    ``names`` = (median, mad, flag). Both statistics come back as
    broadcast 1-row cross joins (no driver collect); ``median`` is the
    percentile function. ``g`` is read three times: persist it first."""
    med, mad, flag = names
    with_med = g.crossJoin(F.broadcast(g.agg(median(F.col(n)).alias(med))))
    dev = F.abs(F.col(n) - F.col(med))
    return with_med.crossJoin(F.broadcast(with_med.agg(median(dev).alias(mad)))).withColumn(
        flag, dev > F.lit(float(k)) * F.col(mad)
    )


def _materialized(out: DataFrame, cached: DataFrame) -> DataFrame:
    """Persist and count ``out`` (group-cardinality rows), then release
    the ``cached`` input it was built from."""
    out = out.persist()
    out.count()
    cached.unpersist()
    return out


def _age(last_us: Column, now: str, max_age_sec: int) -> list[Column]:
    """``age_us`` of the newest event ``last_us`` at ``now`` and
    ``is_stale`` (strict >), exact integer microseconds."""
    age = F.unix_micros(F.lit(now).cast("timestamp")) - last_us
    return [age.alias("age_us"), (age > max_age_sec * 1_000_000).alias("is_stale")]


def fd_violations(
    df: DataFrame,
    determinants: list[str],
    dependent: str,
) -> DataFrame:
    """Groups where the functional dependency ``determinants -> dependent``
    fails: the determinant tuple maps to more than one distinct dependent
    value. Returns one row per violating group with ``n_values`` (distinct
    dependent count) and the ``min_value`` / ``max_value`` witnesses.

    Plan: ONE grouped aggregation. ``count(distinct)`` with grouping keys
    plans as two hash aggregates — partial distinct collapse on
    (determinants, dependent) map-side, then the count — so the shuffle
    carries distinct combinations, not rows. No window, no join, no
    driver data."""
    if not determinants:
        raise ValueError("determinants must name at least one column")
    if dependent in determinants:
        raise ValueError(f"dependent {dependent!r} is itself a determinant")
    return (
        df.groupBy(*determinants)
        .agg(
            F.countDistinct(dependent).alias("n_values"),
            F.min(dependent).alias("min_value"),
            F.max(dependent).alias("max_value"),
        )
        .filter(F.col("n_values") > 1)
    )


def time_gaps(
    df: DataFrame,
    scope_col: str,
    ts_col: str,
    min_gap_sec: int,
    tiebreak_col: str | None = None,
    split_by: str | None = None,
) -> DataFrame:
    """Silent periods: per scope (user, device, partition …), consecutive
    events whose separation exceeds ``min_gap_sec``. Returns
    (scope, gap_start_us, gap_end_us, gap_us) — exact integer microseconds
    (the sessionize convention; second-floored arithmetic mis-places gaps
    that straddle the threshold by < 1 s).

    Default plan: ONE window per scope (lag + filter, a single shuffle on
    ``scope_col``). Hot scopes are real at 10^12 events, so ``split_by``
    ("day", "month", … any ``date_trunc`` unit) selects the scale path:
    the lag window runs within (scope, time-bucket) — no window partition
    outgrows one bucket of one scope — and cross-bucket gaps fall out of a
    SECOND lag over the per-(scope, bucket) min/max summary (one row per
    non-empty bucket; within a scope every event of bucket b precedes
    every event of bucket b+1, so the only cross-bucket consecutive pair
    is (last of previous non-empty bucket, first of current)). Both paths
    produce IDENTICAL rows (golden-tested on boundary-straddling
    fixtures). Unlike sessionize's split there is no index to stitch —
    gaps compose by plain union."""
    if min_gap_sec <= 0:
        raise ValueError(f"min_gap_sec must be > 0, got {min_gap_sec}")
    us = _event_us(ts_col)
    by_time = [us] + ([F.col(tiebreak_col)] if tiebreak_col else [])

    def _gaps(frame: DataFrame, part: list[str], order, last, first) -> DataFrame:
        # consecutive (last, first) pairs per scope (+ part) in ``order``
        w = Window.partitionBy(scope_col, *part).orderBy(*order)
        return (
            frame.select(
                F.col(scope_col),
                F.lag(last).over(w).alias("gap_start_us"),
                first.alias("gap_end_us"),
            )
            .withColumn("gap_us", F.col("gap_end_us") - F.col("gap_start_us"))
            .filter(F.col("gap_us") > min_gap_sec * 1_000_000)
        )

    if split_by is None:
        return _gaps(df, [], by_time, us, us)

    bucketed = df.withColumn(
        "__split", F.date_trunc(split_by, F.timestamp_micros(us))
    )
    within = _gaps(bucketed, ["__split"], by_time, us, us)
    summary = bucketed.groupBy(scope_col, "__split").agg(
        F.min(us).alias("__first_us"), F.max(us).alias("__last_us")
    )
    boundary = _gaps(
        summary, [], ["__split"], F.col("__last_us"), F.col("__first_us")
    )
    return within.unionByName(boundary)


def freshness(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    now: str,
    max_age_sec: int,
) -> DataFrame:
    """Per-partition data freshness: the newest event in each group, its
    age relative to ``now`` (an EXPLICIT ISO timestamp — determinism and
    oracle-replay forbid wall-clock reads), and ``is_stale`` when the age
    exceeds ``max_age_sec``. The ingest-liveness verdict: a partition
    whose feed silently stopped fails loudly even though every row it
    has is valid. One grouped agg (partial map-side), exact integer-µs
    age arithmetic."""
    _check_args(group_cols=group_cols, max_age_sec=max_age_sec)
    last_us = F.max(_event_us(ts_col))
    return df.groupBy(*group_cols).agg(
        last_us.alias("last_event_us"), *_age(last_us, now, max_age_sec)
    )


def schema_drift(before, after) -> list:
    """Column-level schema changes between two table versions: rows
    (change, column, before_type, after_type) for added / removed /
    retyped columns. Metadata-only — reads ``df.schema``, touches zero
    data, so it runs in milliseconds on a 10^12-row table. The
    validation-run pre-flight: rule compilation targets a schema, and a
    silently retyped column fails here instead of deep inside a plan.

    Accepts DataFrames or StructTypes; returns a plain list of dicts
    (driver-side catalog data, not a distributed result)."""
    def fields(x):
        schema = x.schema if hasattr(x, "schema") else x
        return {f.name: f.dataType.simpleString() for f in schema.fields}

    b, a = fields(before), fields(after)
    out = []
    for name in sorted(set(b) | set(a)):
        if name not in a:
            out.append({"change": "removed", "column": name,
                        "before_type": b[name], "after_type": None})
        elif name not in b:
            out.append({"change": "added", "column": name,
                        "before_type": None, "after_type": a[name]})
        elif b[name] != a[name]:
            out.append({"change": "retyped", "column": name,
                        "before_type": b[name], "after_type": a[name]})
    return out


def volume_anomaly(
    df: DataFrame,
    group_cols: list[str],
    k: float = 3.0,
    exact: bool = True,
) -> DataFrame:
    """Per-group row counts flagged against the robust center of ALL
    groups: ``is_anomaly`` iff |n_rows − median| > k · MAD (median absolute
    deviation). The data-volume verdict of an ingest run — a partition
    that silently dropped (or doubled) its rows fails loudly even when
    every row it DOES have is individually valid.

    Plan: the event-scale table is scanned and shuffled ONCE (the grouped
    count, partial map-side) — the counts table is persisted so the
    median, MAD, and final-flag consumers read the cache instead of
    re-running the big agg (without it Catalyst plans three scans of the
    source). The robust stats come back as broadcast 1-row cross joins —
    no driver collect. The result is materialized eagerly and the counts
    cache released before returning; call ``.unpersist()`` on the
    RETURNED DataFrame when done (the ``jaccard_pairs`` /
    ``ValidationResult`` contract). ``exact=True`` uses interpolated
    ``percentile`` (deterministic, oracle-replayable — DuckDB's
    ``quantile_cont``); ``exact=False`` swaps in ``approx_percentile``
    for billion-group cardinalities where exact percentile's per-buffer
    value collection is the bottleneck."""
    _check_args(group_cols=group_cols, k=k)
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n_rows")).persist()
    out = _mad_flag(
        counts, "n_rows", k, _median if exact else _approx_median,
        ("med_n", "mad_n", "is_anomaly"),
    )
    return _materialized(out, counts)


def snapshot_diff(
    before: DataFrame,
    after: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Key-level reconciliation between two snapshots of the same table:
    one row per key that was ``added`` (in *after* only), ``removed``
    (in *before* only), or ``changed`` (present in both with at least
    one compared column differing under null-safe comparison), with
    ``changed_cols`` naming the differing columns (comma-joined, column
    order; empty for added/removed). Unchanged keys produce NO row, so
    the result is violation-cardinality — the cross-snapshot analog of
    the reference's identity machinery (xs:key binds a key tuple to one
    row; a snapshot diff asserts the binding survived re-ingest).

    Plan: ONE full-outer sort-merge join on the key columns — each side
    scans and shuffles exactly once, and per-column comparison is a
    map-side projection after the join (no second pass, no window, no
    driver data). At 10^12 rows both snapshots should be bucketed by the
    key (``sources/bucketed.py``) so the join plans with zero Exchange;
    otherwise AQE handles skewed keys. ``compare_cols`` defaults to all
    shared non-key columns (sorted), so schema drift between snapshots
    (column added/removed) is ignored here — that is ``schema_drift``'s
    job, run it first."""
    if not keys:
        raise ValueError("keys must name at least one column")
    if compare_cols is None:
        shared = set(before.columns) & set(after.columns)
        compare_cols = sorted(shared - set(keys))
    overlap = set(compare_cols) & set(keys)
    if overlap:
        raise ValueError(f"compare_cols overlap keys: {sorted(overlap)}")
    b = before.select(
        *[F.col(k).alias(f"__bk_{k}") for k in keys],
        *[F.col(c).alias(f"__b_{c}") for c in compare_cols],
        F.lit(1).alias("__in_b"),
    )
    a = after.select(
        *[F.col(k).alias(f"__ak_{k}") for k in keys],
        *[F.col(c).alias(f"__a_{c}") for c in compare_cols],
        F.lit(1).alias("__in_a"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"__bk_{k}").eqNullSafe(F.col(f"__ak_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = b.join(a, cond, "full_outer")
    diff_flags = [
        ~F.col(f"__b_{c}").eqNullSafe(F.col(f"__a_{c}")) for c in compare_cols
    ]
    status = (
        F.when(F.col("__in_b").isNull(), F.lit("added"))
        .when(F.col("__in_a").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    keep = (
        F.col("__in_b").isNull()
        | F.col("__in_a").isNull()
        | (
            F.lit(False)
            if not compare_cols
            else functools.reduce(lambda x, y: x | y, diff_flags)
        )
    )
    changed = F.when(
        F.col("__in_b").isNotNull() & F.col("__in_a").isNotNull(),
        F.concat_ws(
            ",",
            *[
                F.when(flag, F.lit(c))
                for c, flag in zip(compare_cols, diff_flags)
            ],
        ),
    ).otherwise(F.lit(""))
    return j.filter(keep).select(
        *[
            F.coalesce(F.col(f"__bk_{k}"), F.col(f"__ak_{k}")).alias(k)
            for k in keys
        ],
        status.alias("status"),
        changed.alias("changed_cols"),
    )


def sequence_regressions(
    df: DataFrame,
    scope_col: str,
    seq_col: str,
    ts_col: str,
    min_regression_sec: int = 0,
    split_every: int | None = None,
) -> DataFrame:
    """Late-arrival / ordering audit: per scope, adjacent pairs in
    ingest order (``seq_col`` ascending) where event time went BACKWARD
    by more than ``min_regression_sec`` — the batch analog of rows a
    streaming watermark of that tolerance would have dropped. Returns
    (scope, seq, ts_us, prev_ts_us, regression_us), exact integer
    microseconds (the sessionize convention).

    Default plan: ONE lag window per scope (single shuffle on
    ``scope_col``). For hot scopes, ``split_every=N`` selects the scale
    path: the lag runs within (scope, floor(seq/N)) so no window
    partition outgrows N rows, and cross-bucket pairs fall out of a
    SECOND lag over the per-(scope, bucket) summary — within a scope
    every seq of bucket b precedes bucket b+1, so the only cross-bucket
    adjacent pair is (max-seq row of the previous non-empty bucket,
    min-seq row of the current), recovered via max_by/min_by. Both
    paths produce IDENTICAL rows (``sequence_regressions`` split ≡
    single-window is golden-tested; the certified driver query runs the
    split path against a single-window oracle)."""
    if min_regression_sec < 0:
        raise ValueError(
            f"min_regression_sec must be >= 0, got {min_regression_sec}"
        )
    if split_every is not None and split_every < 2:
        raise ValueError(f"split_every must be >= 2, got {split_every}")
    us = _event_us(ts_col)

    def _regs(frame: DataFrame, part: list[str], order, seq, first, last) -> DataFrame:
        # adjacent (last, first) pairs per scope (+ part) in ``order``
        w = Window.partitionBy(scope_col, *part).orderBy(order)
        return (
            frame.select(
                F.col(scope_col),
                seq.alias(seq_col),
                first.alias("ts_us"),
                F.lag(last).over(w).alias("prev_ts_us"),
            )
            .withColumn("regression_us", F.col("prev_ts_us") - F.col("ts_us"))
            .filter(F.col("regression_us") > min_regression_sec * 1_000_000)
        )

    if split_every is None:
        return _regs(df, [], seq_col, F.col(seq_col), us, us)

    bucketed = df.withColumn(
        "__split", F.floor(F.col(seq_col) / F.lit(split_every))
    )
    within = _regs(bucketed, ["__split"], seq_col, F.col(seq_col), us, us)
    summary = bucketed.groupBy(scope_col, "__split").agg(
        F.min(seq_col).alias("__first_seq"),
        F.min_by(us, F.col(seq_col)).alias("__first_us"),
        F.max_by(us, F.col(seq_col)).alias("__last_us"),
    )
    boundary = _regs(
        summary, [], "__split", F.col("__first_seq"),
        F.col("__first_us"), F.col("__last_us"),
    )
    return within.unionByName(boundary)


def vector_checks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    max_abs: float | None = None,
) -> DataFrame:
    """Embedding-column validation: violation rows (id, rule_id) for
    ``array<float>`` payloads — the vector-typed analog of the scalar
    facet pass. Rules, all pure Catalyst (``size`` / ``exists`` /
    ``forall`` higher-order functions — one codegen'd projection, no
    explode, no shuffle, no Python):

    - ``vec_null``      — the vector itself is NULL
    - ``dim_mismatch``  — ``size(vec) != dim`` (the xs:length facet)
    - ``has_nan``       — any component is NaN
    - ``has_inf``       — any component is ±Infinity
    - ``zero_vector``   — every component == 0 (undefined direction:
      poisons cosine similarity downstream — see similarity.py's seed
      guard)
    - ``out_of_range``  — any finite component with |x| > max_abs
      (only when ``max_abs`` is given; the minInclusive/maxInclusive
      facet applied element-wise)

    All checks are exact comparisons (no float accumulation — a norm
    threshold would be summation-order-sensitive across engines), so
    the result replays bit-for-bit in any engine. Violation-cardinality
    output; one scan, filters/pruning push down around it."""
    if dim <= 0:
        raise ValueError(f"dim must be > 0, got {dim}")
    v = F.col(vec_col)
    inf = F.lit(float("inf")).cast("float")
    rules = [
        ("vec_null", v.isNull()),
        ("dim_mismatch", v.isNotNull() & (F.size(v) != dim)),
        ("has_nan", v.isNotNull() & F.exists(v, lambda x: F.isnan(x))),
        ("has_inf", v.isNotNull() & F.exists(v, lambda x: F.abs(x) == inf)),
        (
            "zero_vector",
            v.isNotNull()
            & (F.size(v) > 0)
            & F.forall(v, lambda x: x == F.lit(0.0).cast("float")),
        ),
    ]
    if max_abs is not None:
        bound = F.lit(float(max_abs)).cast("float")
        rules.append(
            (
                "out_of_range",
                v.isNotNull()
                & F.exists(
                    v,
                    lambda x: ~F.isnan(x)
                    & (F.abs(x) != inf)
                    & (F.abs(x) > bound),
                ),
            )
        )
    checks = F.array_compact(
        F.array(
            *[F.when(cond, F.lit(rule_id)) for rule_id, cond in rules]
        )
    )
    return (
        df.select(F.col(id_col), F.explode(checks).alias("rule_id"))
    )


def completeness(
    df: DataFrame,
    group_cols: list[str],
    columns: list[str] | None = None,
    max_null_frac: float = 0.0,
) -> DataFrame:
    """Per-partition completeness verdicts: for every group and checked
    column, the row count, null count, null fraction, and
    ``is_incomplete`` = ``null_frac > max_null_frac`` — the per-partition
    verdict form of the null-rate column stat (``stats.profile`` reports
    it globally; a broken upstream writer usually breaks PARTITIONS, so
    the verdict granularity is the partition, matching the volume /
    freshness checks). ``columns`` defaults to every non-group column.

    Output is long-form (one row per group x column): group cols,
    ``column``, ``n_rows``, ``n_null``, ``null_frac``, ``is_incomplete``.

    Plan: ONE grouped aggregation over the table — the shuffle carries
    group-cardinality rows of len(columns)+1 longs (count per column is
    a partial map-side agg). The long-form pivot explodes a
    len(columns)-element struct array on the POST-aggregation
    group-cardinality rows, never on the data. No window, no join, no
    driver data; at 10^12 rows this is the same single-exchange shape as
    ``volume_anomaly`` with a wider (but still fixed-width) agg buffer."""
    if columns is None:
        columns = [c for c in df.columns if c not in set(group_cols)]
    _check_args(
        group_cols=group_cols, columns=columns, no_columns="no columns to check",
        max_null_frac=max_null_frac,
    )
    g = df.groupBy(*group_cols).agg(*_quality_aggs(columns))
    return _null_verdicts(_pivot(g, group_cols, columns), max_null_frac).drop(
        "n_nonnull"
    )


def distinctness(
    df: DataFrame,
    group_cols: list[str],
    columns: list[str],
    min_distinct_frac: float = 0.0,
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-partition distinctness verdicts: for every group and checked
    column, the non-null count, distinct count, ``distinct_frac`` =
    n_distinct / n_nonnull, ``is_constant`` (a non-null column stuck on
    one value — the classic dead-upstream-join symptom) and
    ``is_low_cardinality`` (distinct_frac < ``min_distinct_frac``) —
    the cardinality sibling of :func:`completeness` (Deequ's
    ``distinctness``/``uniqueness`` family, re-expressed as partition
    verdicts).

    Output long-form: group cols, ``column``, ``n_rows``, ``n_nonnull``,
    ``n_distinct``, ``distinct_frac``, ``is_constant``,
    ``is_low_cardinality``.

    Plan: ONE grouped aggregation. ``exact=True`` uses
    ``count_distinct`` — Catalyst plans the multi-column distinct via
    Expand (len(columns)+1 rows per input row map-side, collapsed by the
    partial distinct agg BEFORE the exchange, so the shuffle carries
    distinct (group, column, value) combinations, not data). At 10^12
    rows with high-cardinality columns prefer ``exact=False``:
    ``approx_count_distinct`` (HyperLogLog++, relative error ``rsd``)
    keeps a fixed-width buffer per (group, column) and NO Expand — the
    same exact-vs-sketch dial as ``volume_anomaly``'s percentile and
    ``stats.profile``'s HLL."""
    _check_args(
        group_cols=group_cols, columns=columns, min_distinct_frac=min_distinct_frac
    )
    g = df.groupBy(*group_cols).agg(
        *_quality_aggs(columns, _distinct_counter(exact, rsd))
    )
    return _distinct_verdicts(_pivot(g, group_cols, columns), min_distinct_frac)


def quality_report(
    df: DataFrame,
    group_cols: list[str],
    columns: list[str],
    max_null_frac: float = 0.0,
    min_distinct_frac: float = 0.0,
    ts_col: str | None = None,
    now: str | None = None,
    max_age_sec: int | None = None,
    volume_k: float | None = None,
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """The one-pass quality suite: :func:`completeness`,
    :func:`distinctness`, :func:`freshness` and :func:`volume_anomaly`
    verdicts for every partition from a SINGLE scan of the table — the
    Deequ-VerificationSuite shape, and the per-partition verdict analog
    of ``ValidationEngine.validate_one_pass`` (engine.py) applied to
    dataset-shape checks instead of row facets. Running the four checks
    separately scans a 10^12-row table four times; this runs ONE grouped
    aggregation whose buffer carries every metric (count, per-column
    non-null + distinct, max event time) and derives every verdict from
    the group-cardinality result.

    Output is long-form (one row per group x checked column): group
    cols, ``column``, ``n_rows``, ``n_null``, ``null_frac``,
    ``is_incomplete``, ``n_nonnull``, ``n_distinct``, ``distinct_frac``,
    ``is_constant``, ``is_low_cardinality``, plus — when the optional
    dimensions are enabled — the group-level ``age_us`` / ``is_stale``
    (``ts_col``+``now``+``max_age_sec``) and ``is_volume_anomaly``
    (``volume_k``: |n_rows − median| > k·MAD of all groups) repeated on
    each of the group's rows.

    Plan: ONE pass over the data — a single grouped aggregation
    (``exact=True``: multi-column ``count_distinct`` via Expand,
    collapsed to distinct combinations map-side BEFORE the exchange;
    ``exact=False``: ``approx_count_distinct`` HLL buffers, no Expand —
    the 10^12-row dial, same as :func:`distinctness`). The volume
    verdict needs the median/MAD OF THE GROUPS, so with ``volume_k`` the
    group-cardinality agg result is persisted and the robust stats come
    back as broadcast 1-row joins (the :func:`volume_anomaly` shape);
    the returned result is materialized eagerly and the intermediate
    released — call ``.unpersist()`` on the RETURNED DataFrame when done
    (the ``ValidationResult`` contract). Without ``volume_k`` the plan
    is pure (no persist, no action).

    Reference analog: one traversal validating every constraint kind at
    once (validators/schema.py iter_errors walks the document ONCE for
    facets, identities and occurrence), re-expressed over partitions."""
    _check_args(
        group_cols=group_cols, columns=columns, max_null_frac=max_null_frac,
        min_distinct_frac=min_distinct_frac, ts_col=ts_col, now=now,
        max_age_sec=max_age_sec, volume_k=volume_k,
    )
    last = [] if ts_col is None else [F.max(_event_us(ts_col)).alias("__last_us")]
    g = df.groupBy(*group_cols).agg(
        *_quality_aggs(columns, _distinct_counter(exact, rsd), last)
    )
    carry = [] if ts_col is None else _age(F.col("__last_us"), now, max_age_sec)
    flagged = g
    if volume_k is not None:
        flagged = _mad_flag(
            g.persist(), "__n", volume_k, _median,
            ("__med_n", "__mad_n", "is_volume_anomaly"),
        )
        carry.append(F.col("is_volume_anomaly"))
    out = _distinct_verdicts(
        _null_verdicts(_pivot(flagged, group_cols, columns, carry), max_null_frac),
        min_distinct_frac,
    )
    return out if volume_k is None else _materialized(out, g)
