"""Rule-table IO — the analog of the reference's schema-document loader
(include/import handling, /root/reference/xmlschema/validators/schema.py:726-902),
minus XML: rules live as JSON documents or as a Spark DataFrame matching
FIXTURES.md §1.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from xmlschema_spark.compiler import local_frame
from xmlschema_spark.rules import Rule, RuleSet

RULES_DF_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.StringType()),
        T.StructField("rule_kind", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("params", T.StringType()),  # JSON-encoded
        T.StructField("gate", T.StringType()),
        T.StructField("scope", T.StringType()),
        T.StructField("severity", T.StringType()),
    ]
)


def load_rules_json(path: str | Path) -> RuleSet:
    return RuleSet.from_json(Path(path).read_text())


def rules_to_df(spark: SparkSession, ruleset: RuleSet) -> DataFrame:
    rows = [
        (r.rule_id, r.kind, r.column, json.dumps(r.params), r.gate, r.scope, r.severity)
        for r in ruleset
    ]
    return local_frame(spark, rows, RULES_DF_SCHEMA)


def rules_json_to_df(spark: SparkSession, path: str | Path) -> DataFrame:
    """LENIENT load of a rules JSON document into the rules-DF shape —
    no ``Rule`` objects are constructed, so a malformed document (unknown
    kind, bad severity, duplicate rule_id…) loads fine and its defects
    become violation ROWS from :func:`validate_rules_document`, instead
    of a Python exception at parse time. The strict path stays
    :func:`load_rules_json`."""
    raw = json.loads(Path(path).read_text())
    rows = [
        (
            d.get("rule_id"),
            d.get("kind"),
            d.get("column"),
            json.dumps(d["params"]) if d.get("params") is not None else None,
            d.get("gate"),
            d.get("scope"),
            d.get("severity"),
        )
        for d in raw
    ]
    return local_frame(spark, rows, RULES_DF_SCHEMA)


def meta_ruleset() -> RuleSet:
    """Rules for rule tables — the engine's META-schema, expressed in the
    engine's own rule language and validated by the engine itself (the
    analog of the reference validating every schema document against its
    bundled meta-schema, validators/schema.py:350-354,603-614). Built at
    call time so kinds registered via ``register_rule_kind`` count as
    known."""
    from xmlschema_spark.rules import ALL_KINDS, CUSTOM_ROW_KINDS, SET_KINDS

    kinds = sorted(ALL_KINDS | set(CUSTOM_ROW_KINDS))
    set_kinds_sql = ", ".join(f"'{k}'" for k in sorted(SET_KINDS))
    # row kinds that target a concrete column (assertion_sql and the
    # dataset kinds carry their targets in params/sql instead)
    columned = sorted(k for k in kinds if k not in SET_KINDS
                      and k not in ("assertion_sql", "stats_profile"))
    columned_sql = ", ".join(f"'{k}'" for k in columned)
    R = Rule
    return RuleSet(
        [
            R("meta_id_not_null", "not_null", "rule_id"),
            R("meta_id_pattern", "pattern", "rule_id",
              {"patterns": [r"[A-Za-z_][A-Za-z0-9_.\-]*"]}),
            # UPA analog: one identity per rule — duplicate rule_ids are
            # the violation, not a loader crash
            R("meta_id_unique", "key", "", {"columns": ["rule_id"]}, scope="table"),
            R("meta_kind_known", "enumeration", "rule_kind", {"values": kinds}),
            R("meta_scope_enum", "enumeration", "scope",
              {"values": ["row", "partition", "table"]},
              gate="scope IS NOT NULL"),
            R("meta_severity_enum", "enumeration", "severity",
              {"values": ["error", "warning"]},
              gate="severity IS NOT NULL"),
            R("meta_params_json_object", "assertion_sql", "",
              {"sql": "params IS NULL OR (params LIKE '{%' "
                      "AND get_json_object(params, '$') IS NOT NULL)"}),
            R("meta_set_kind_no_column", "assertion_sql", "",
              {"sql": f"rule_kind IS NULL OR rule_kind NOT IN ({set_kinds_sql}) "
                      "OR coalesce(`column`, '') = ''"}),
            R("meta_row_kind_has_column", "assertion_sql", "",
              {"sql": f"rule_kind IS NULL OR rule_kind NOT IN ({columned_sql}) "
                      "OR coalesce(`column`, '') != ''"}),
            R("meta_set_kind_has_columns_param", "assertion_sql", "",
              {"sql": f"rule_kind IS NULL OR rule_kind NOT IN ({set_kinds_sql}) "
                      "OR get_json_object(params, '$.columns[0]') IS NOT NULL"}),
        ]
    )


def validate_rules_document(spark: SparkSession, source, run_id: str = "meta"):
    """Validate a rules DOCUMENT against :func:`meta_ruleset` using the
    ValidationEngine itself — declarative meta-validation a user can
    extend by appending to the returned ruleset (vs the hardcoded
    compile-time checks in rules.py, which still guard the strict path).

    ``source``: a JSON path (loaded leniently via
    :func:`rules_json_to_df`), a ``RuleSet``, or a DataFrame already in
    the rules-DF shape. Returns the engine's ``ValidationResult``:
    violations keyed by the offending ``rule_id``, one ``__rules__``
    partition verdict."""
    from pyspark.sql import functions as F

    from xmlschema_spark.engine import ValidationEngine

    if isinstance(source, (str, Path)):
        df = rules_json_to_df(spark, source)
    elif isinstance(source, RuleSet):
        df = rules_to_df(spark, source)
    else:
        df = source
    df = df.withColumn("part", F.lit("__rules__"))
    eng = ValidationEngine(meta_ruleset(), id_col="rule_id", partition_col="part")
    return eng.validate(df, run_id=run_id)


def default_image_ruleset() -> RuleSet:
    """The engine's default constraint suite for the image+caption table —
    the analog of a complete XSD for it (FIXTURES.md §2 families)."""
    R = Rule
    return RuleSet(
        [
            R("id_not_null", "not_null", "image_id"),
            R("bytes_not_null", "not_null", "bytes"),
            R("fmt_not_null", "not_null", "fmt"),
            R("id_pattern", "pattern", "image_id", {"patterns": [r"img_[0-9a-f]{1,32}"]}),
            R("fmt_enum", "enumeration", "fmt", {"values": ["png", "jpeg", "webp", "bmp"]}),
            R("w_range", "min", "w", {"value": 1}),
            R("w_max", "max", "w", {"value": 65535}),
            R("h_range", "min", "h", {"value": 1}),
            R("h_max", "max", "h", {"value": 65535}),
            R("caption_len", "max_length", "caption", {"value": 512}),
            R(
                "pixel_budget",
                "assertion_sql",
                "",
                {"sql": "w * h BETWEEN 1 AND 100000000"},
            ),
            R(
                "bytes_budget",
                "assertion_sql",
                "",
                {"sql": "length(bytes) <= w * h * 4 + 1024"},
            ),
            # metadata-column lexical rules (one per round-2 rule kind)
            R("created_tz", "explicit_timezone", "created_at", {"value": "required"}),
            R("animated_bool", "xsd_boolean", "animated"),
            R("tag_qname", "qname", "tag"),
            R("icc_hex_ok", "hex_binary", "icc_hex"),
            R("exif_b64_ok", "base64_binary", "exif_b64"),
            R(
                "flags_list",
                "list_items",
                "flags",
                {"item_pattern": "[a-z]+", "min_items": 1, "max_items": 4},
            ),
            R("retention_dur", "duration", "retention", {"variant": "dayTime"}),
            R("id_unique", "key", "", {"columns": ["image_id"]}, scope="table"),
            R(
                "phash_unique",
                "unique",
                "",
                {"columns": ["phash"], "salt_partitions": 16},
                scope="table",
                severity="warning",
            ),
            R("decode", "decode_image", "bytes", {"psnr_db": 40.0}),
            R("phash_ok", "phash_consistency", "phash", {}),
            R(
                "w_drift",
                "drift_psi",
                "w",
                {"column": "w", "threshold": 0.25, "bins": 10},
                scope="partition",
                severity="warning",
            ),
        ]
    )
