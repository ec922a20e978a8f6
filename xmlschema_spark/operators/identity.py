"""Identity constraints at scale: xs:unique / xs:key / xs:keyref.

Reference semantics (/root/reference/xmlschema/validators/identities.py):

- unique/key count selected field tuples with a Counter and report one
  violation **per duplicated value**, not per row (identities.py:198-221).
- key additionally requires every field non-null (identities.py:140-141).
- keyref builds the referenced key set and reports each tuple not found
  in it ("Key not found", identities.py:290-318).
- Scope: the reference checks within the declaring element's subtree
  (elements.py:546-551); our scopes are 'partition' and 'table'.

Spark mapping: hash aggregation with automatic partial (map-side) combine,
plus an explicit salted two-phase variant for hot keys, and a left-anti
join (broadcast when the PK side is small) for keyref. AQE skew handling
is enabled in session.py for the sort-merge fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_values(
    df: DataFrame,
    columns: list[str],
    scope_col: str | None = None,
    salt_partitions: int = 0,
) -> DataFrame:
    """Values of ``columns`` appearing more than once → one row per
    duplicated value: (scope?, *columns, dup_count).

    XSD unique semantics: tuples containing a NULL field are *absent*
    tuples, never duplicates (get_fields returns None for empties,
    identities.py:128-151) — so null-containing tuples are filtered out.

    ``salt_partitions`` > 0 forces an explicit two-phase aggregation:
    phase 1 groups by (key, salt) — salt = current scan partition — so a
    pathologically hot key is pre-reduced before the shuffle; phase 2
    re-aggregates by key. With salt=0 we rely on Catalyst's partial hash
    aggregation, which performs the same map-side combine; the explicit
    form exists because at 10^12 rows a hot phash (e.g. a sentinel value)
    can still overflow a single partial-agg hash map.
    """
    keys = [F.col(c) for c in columns]
    group = ([F.col(scope_col)] if scope_col else []) + keys
    # all fields must be present to form a tuple
    tuples = df
    for c in keys:
        tuples = tuples.filter(c.isNotNull())

    if salt_partitions > 0:
        salt = F.pmod(F.spark_partition_id(), F.lit(salt_partitions)).alias("__salt")
        partial = tuples.groupBy(*group, salt).agg(F.count(F.lit(1)).alias("__c"))
        counts = partial.groupBy(*group).agg(F.sum("__c").alias("dup_count"))
    else:
        counts = tuples.groupBy(*group).agg(F.count(F.lit(1)).alias("dup_count"))
    return counts.filter(F.col("dup_count") > 1)


def key_null_rows(df: DataFrame, columns: list[str], id_col: str) -> DataFrame:
    """xs:key requires all fields non-null (identities.py:140-141):
    rows with any null key field → (id, null_columns)."""
    any_null = None
    for c in columns:
        cond = F.col(c).isNull()
        any_null = cond if any_null is None else (any_null | cond)
    nulls = F.array_compact(
        F.array(*[F.when(F.col(c).isNull(), F.lit(c)) for c in columns])
    )
    return df.filter(any_null).select(
        F.col(id_col).alias("row_id"), nulls.alias("null_columns")
    )


def keyref_orphans(
    fk_df: DataFrame,
    fk_columns: list[str],
    pk_df: DataFrame,
    pk_columns: list[str],
    broadcast_pk: bool | None = None,
) -> DataFrame:
    """Referential integrity: fk tuples with no matching pk tuple
    ("Key not found", identities.py:298-318) → the orphan fk rows.

    Field cardinality must match (parse_refer check, identities.py:274-275).
    NULL-containing fk tuples are absent tuples → not orphans.
    ``broadcast_pk`` None = let Catalyst/AQE decide; True forces a
    broadcast (dimension-sized PK sides); False forces shuffle join
    (AQE skew-join splits hot fk keys).
    """
    if len(fk_columns) != len(pk_columns):
        raise ValueError(
            f"field cardinality mismatch: {fk_columns} vs {pk_columns} "
            "(cf. identities.py:274-275)"
        )
    pk_keys = pk_df.select(
        *[F.col(p).alias(f) for f, p in zip(fk_columns, pk_columns)]
    ).dropDuplicates(fk_columns)
    if broadcast_pk:
        pk_keys = F.broadcast(pk_keys)
    fk = fk_df
    for c in fk_columns:
        fk = fk.filter(F.col(c).isNotNull())
    return fk.join(pk_keys, on=fk_columns, how="left_anti")


def keyref_coverage(
    fk_df: DataFrame,
    fk_columns: list[str],
    pk_df: DataFrame,
    pk_columns: list[str],
    group_cols: list[str],
    max_orphan_frac: float = 0.0,
    broadcast_pk: bool | None = None,
) -> DataFrame:
    """Per-partition referential-integrity VERDICTS — the rollup form of
    :func:`keyref_orphans`: for every group, how many fk rows resolve
    against the key set, how many are orphans or carry a NULL-component
    tuple (absent per the reference's rule, identities.py:298-318,
    counted separately here so a partition full of NULL fks cannot
    silently "pass"), and ``is_broken`` = orphan_frac >
    ``max_orphan_frac``. The keyref analog of
    :func:`~xmlschema_spark.operators.checks.completeness`: row-level
    orphan output answers "which rows", this answers "which PARTITIONS
    did a broken upstream join/load corrupt".

    Output: group cols, ``n_rows``, ``n_null_fk``, ``n_orphans``,
    ``orphan_frac`` (over non-null fk rows; NULL when the group has
    none), ``is_broken``.

    Plan: ONE scan of the fact side — a LEFT join against the
    deduplicated key tuples (broadcast when the dim fits —
    ``broadcast_pk`` as in :func:`keyref_orphans`; AQE skew-split
    otherwise) immediately collapsed by a grouped agg with map-side
    partials, so the exchange after the join carries group-cardinality
    rows. No second pass, no row-level materialization."""
    if len(fk_columns) != len(pk_columns):
        raise ValueError(
            f"field cardinality mismatch: {fk_columns} vs {pk_columns} "
            "(cf. identities.py:274-275)"
        )
    if not group_cols:
        raise ValueError("group_cols must name at least one column")
    if not 0.0 <= max_orphan_frac < 1.0:
        raise ValueError(
            f"max_orphan_frac must be in [0, 1), got {max_orphan_frac}"
        )
    pk_keys = (
        pk_df.select(*[F.col(p).alias(f) for f, p in zip(fk_columns, pk_columns)])
        .dropDuplicates(fk_columns)
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_pk:
        pk_keys = F.broadcast(pk_keys)
    null_fk = F.col(fk_columns[0]).isNull()
    for c in fk_columns[1:]:
        null_fk = null_fk | F.col(c).isNull()
    joined = fk_df.join(pk_keys, on=fk_columns, how="left").select(
        *group_cols,
        null_fk.alias("__null_fk"),
        (~null_fk & F.col("__hit").isNull()).alias("__orphan"),
    )
    g = joined.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("__null_fk").cast("long")).alias("n_null_fk"),
        F.sum(F.col("__orphan").cast("long")).alias("n_orphans"),
    )
    nonnull = F.col("n_rows") - F.col("n_null_fk")
    return (
        g.withColumn(
            "orphan_frac", F.when(nonnull > 0, F.col("n_orphans") / nonnull)
        )
        .withColumn(
            "is_broken",
            F.coalesce(
                F.col("orphan_frac") > F.lit(float(max_orphan_frac)), F.lit(False)
            ),
        )
    )
