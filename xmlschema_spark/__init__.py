"""xmlschema_spark — a PySpark-native schema + constraint validation engine.

Re-expresses the validation *model* of the reference ``xmlschema`` package
(W3C XSD facets, occurrence/cardinality, identity constraints, assertions;
see /root/reference/xmlschema/validators/) as declarative rules compiled
into Spark SQL predicates and vectorized pandas/Arrow UDF batch checks over
DataFrames of image+caption pairs — designed for 10^12-row Iceberg tables,
tested at parquet small scale.

Architecture (Spark-first, not a port):

- ``rules``      — the rule table (the analog of an XSD document).
- ``compiler``   — rule → Spark SQL predicate text (the analog of
                   ``XsdSimpleType.validators``; one wide projection).
- ``engine``     — ``validate()``: scan → wide rule pass → violations +
                   per-partition verdicts, strict/lax/skip modes.
- ``operators``  — set-level ops: identity (unique/key/keyref), stats,
                   drift (KS/PSI), dedup, similarity, text analysis.
- ``functions``  — deterministic image codec + phash (no external libs),
                   XSD-regex translation.
- ``sources``    — synthetic image+caption table generator; rules loader.
- ``checkpoint`` — per-partition checkpoint/resume state.
- ``streaming``  — Structured Streaming row-rule validation.
"""

from xmlschema_spark.session import get_spark
from xmlschema_spark.rules import Rule, RuleSet, register_rule_kind
from xmlschema_spark.engine import ValidationEngine, ValidationResult
from xmlschema_spark.normalize import normalize_table
from xmlschema_spark.report import format_report, register_formatter

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "Rule",
    "RuleSet",
    "register_rule_kind",
    "ValidationEngine",
    "ValidationResult",
    "normalize_table",
    "format_report",
    "register_formatter",
    "__version__",
]
