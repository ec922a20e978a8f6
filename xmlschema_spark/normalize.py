"""Normalization / repair pass — the engine's analog of the reference's
*decode* side (lexical → value space with fill/normalize hooks).

The reference decodes values while validating: whiteSpace normalization
(simple_types.py:310-328), default/fixed fill for missing values
(elements.py:502-509, attributes.py:233-236), and ``to_python`` casts
(builtins.py:219-247) with ``filler``/``fill_missing`` hooks
(schema.py:1022-1055). Batch-engine equivalent: one projection producing
the cleansed table:

- ``whitespace``: replace/collapse string columns,
- ``default``: ``coalesce(col, lit(default))``,
- ``cast``: ``try_cast`` to the target type (nulls where the lexical form
  is invalid — pair with a ``type`` rule to *report* those rows).

All driver-compiled ``Column`` expressions: one pass, codegen-fused.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmlschema_spark.compiler import _q, whitespace_normalize


def normalize_table(
    df: DataFrame,
    whitespace: dict[str, str] | None = None,
    defaults: dict[str, Any] | None = None,
    casts: dict[str, str] | None = None,
    renames: dict[str, str] | None = None,
) -> DataFrame:
    """Apply column renames, whiteSpace normalization, default fill, and
    lexical casts as ONE projection. Order per column mirrors the
    reference's decode chain: normalize → fill default → cast
    (simple_types.py:310-342).

    ``renames`` maps alternate input names to canonical ones — the
    substitution-group analog (alternate element names accepted for a
    head, elements.py:282-332): downstream rules target canonical names
    regardless of which alias the source used.
    """
    if renames:
        clash = set(renames.values()) & {
            f.name for f in df.schema.fields if f.name not in renames
        }
        if clash:
            raise ValueError(f"rename targets already present: {sorted(clash)}")
        for src, dst in renames.items():
            if src in df.columns:
                df = df.withColumnRenamed(src, dst)
    exprs = []
    whitespace = whitespace or {}
    defaults = defaults or {}
    casts = casts or {}
    for field in df.schema.fields:
        c = F.col(field.name)
        if field.name in whitespace:
            c = F.expr(whitespace_normalize(_q(field.name), whitespace[field.name]))
        if field.name in defaults:
            c = F.coalesce(c, F.lit(defaults[field.name]))
        if field.name in casts:
            c = c.try_cast(casts[field.name])
        exprs.append(c.alias(field.name))
    return df.select(*exprs)
