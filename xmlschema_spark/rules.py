"""Declarative rule model — the engine's analog of a compiled XSD schema.

A rule table (FIXTURES.md §1) plays the role the reference's XSD component
graph plays after ``XsdGlobals.build()``
(/root/reference/xmlschema/validators/globals_.py:398-474): a fixed,
validated catalog of constraints, compiled once on the driver and then
immutable during validation.

Rule kinds mirror SURVEY.md §1.3:

- row-level (facet analogs, validators/facets.py): ``not_null, type,
  length, min_length, max_length, min, max, min_exclusive, max_exclusive,
  total_digits, fraction_digits, pattern, enumeration, fixed, occurs,
  assertion_sql``
- set-level (identity-constraint analogs, validators/identities.py):
  ``unique, key, keyref``
- dataset-level additions (north star): ``stats_profile, drift_ks,
  drift_psi, decode_image, phash_consistency``

Compile-time checks mirror the reference's parse-time checks:
facet-applicability whitelists (builtins.py:39-61, checked at
simple_types.py:144-146) and facet-consistency (simple_types.py:134-228).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

ROW_KINDS = frozenset(
    {
        "not_null",
        "type",
        "length",
        "min_length",
        "max_length",
        "min",
        "max",
        "min_exclusive",
        "max_exclusive",
        "total_digits",
        "fraction_digits",
        "pattern",
        "enumeration",
        "fixed",
        "occurs",
        "assertion_sql",
        "whitespace",
        "finite",
        "type_union",
        "list_items",
        "explicit_timezone",
        "xsd_boolean",
        "qname",
        "hex_binary",
        "base64_binary",
        "duration",
    }
)
# idref = same-table keyref sugar: IDREF values must pair with an xs:ID
# column of the SAME table (builtins.py:328-341)
SET_KINDS = frozenset({"unique", "key", "keyref", "idref"})
DATASET_KINDS = frozenset(
    {"stats_profile", "drift_ks", "drift_psi", "decode_image", "phash_consistency"}
)
ALL_KINDS = ROW_KINDS | SET_KINDS | DATASET_KINDS

# Extension surface — the analog of the reference accepting plain callables
# as facet validators (builtins.py:586-599): a registered kind maps to a
# ``fn(rule) -> Column`` returning True where the row SATISFIES the rule.
CUSTOM_ROW_KINDS: dict[str, Any] = {}


def register_rule_kind(name: str, compile_fn, reason_fn=None) -> None:
    """Register a custom row-level rule kind. ``compile_fn(rule)`` must
    return a boolean Spark Column (True = row passes); ``reason_fn(rule)``
    optionally returns the violation reason string.

    A custom kind is a Column lane: where the built-in kinds compile to
    Spark SQL text that the engine splices into one ``selectExpr``, the
    engine binds each custom kind's Column on its own, at a few py4j round
    trips per Column operation ``compile_fn`` makes."""
    if name in ALL_KINDS:
        raise RuleCompileError(f"cannot shadow built-in rule kind {name!r}")
    CUSTOM_ROW_KINDS[name] = (compile_fn, reason_fn)

# Facet applicability per Spark dtype class — the analog of STRING_FACETS /
# DECIMAL_FACETS / etc. in /root/reference/xmlschema/validators/builtins.py:39-61.
_LENGTH_KINDS = {"length", "min_length", "max_length"}
_RANGE_KINDS = {"min", "max", "min_exclusive", "max_exclusive"}
_DIGIT_KINDS = {"total_digits", "fraction_digits"}

_APPLICABLE: dict[str, frozenset[str]] = {
    "string": frozenset(
        _LENGTH_KINDS | _RANGE_KINDS
        | {"pattern", "enumeration", "whitespace", "type_union", "list_items",
           "explicit_timezone", "xsd_boolean", "qname",
           "hex_binary", "base64_binary", "duration"}
    ),
    "binary": frozenset(_LENGTH_KINDS),
    "numeric": frozenset(_RANGE_KINDS | _DIGIT_KINDS | {"enumeration", "finite"}),
    "temporal": frozenset(_RANGE_KINDS | {"enumeration"}),
    "boolean": frozenset({"enumeration"}),
    "array": frozenset({"occurs", "length", "min_length", "max_length"}),
    "other": frozenset(),
}
_ANY_TYPE_KINDS = frozenset({"not_null", "type", "fixed", "assertion_sql"})


def _dtype_class(spark_type_name: str) -> str:
    t = spark_type_name.lower()
    if t.startswith(("decimal", "double", "float", "int", "bigint", "smallint", "tinyint", "long", "short", "byte")):
        return "numeric"
    if t in ("string", "varchar", "char"):
        return "string"
    if t == "binary":
        return "binary"
    if t.startswith(("timestamp", "date", "interval")):
        return "temporal"
    if t == "boolean":
        return "boolean"
    if t.startswith("array"):
        return "array"
    return "other"


class RuleCompileError(ValueError):
    """Rule-table validation failure (the analog of XMLSchemaParseError)."""


@dataclass(frozen=True)
class Rule:
    """One constraint. ``params`` are kind-specific:

    - range/length/digits: ``{"value": <number>}``
    - pattern: ``{"patterns": [xsd_regex, ...]}`` (any-match, facets.py:621-624)
    - enumeration: ``{"values": [...]}``
    - fixed: ``{"value": ...}``
    - occurs: ``{"min": k, "max": k|None}`` (None = unbounded)
    - assertion_sql: ``{"sql": "<boolean spark-sql expr>"}``
    - unique/key: ``{"columns": [...]}`` (key ⇒ also not-null, identities.py:140-141)
    - keyref: ``{"columns": [...], "refer_table": str, "refer_columns": [...]}``
    - drift_*: ``{"column": str, "threshold": float, "bins": int}``
    - decode_image / phash_consistency: ``{"psnr_db": 40.0}``
    """

    rule_id: str
    kind: str
    column: str = ""
    params: dict[str, Any] = field(default_factory=dict)
    gate: str | None = None  # SQL predicate; rule applies only where true (CTA analog)
    scope: str = "row"  # row | partition | table
    severity: str = "error"  # error | warning

    def __post_init__(self):
        if self.kind not in ALL_KINDS and self.kind not in CUSTOM_ROW_KINDS:
            raise RuleCompileError(f"{self.rule_id}: unknown rule kind {self.kind!r}")
        if self.severity not in ("error", "warning"):
            raise RuleCompileError(f"{self.rule_id}: bad severity {self.severity!r}")
        if self.scope not in ("row", "partition", "table"):
            raise RuleCompileError(f"{self.rule_id}: bad scope {self.scope!r}")

    def param(self, key: str, default=None):
        return self.params.get(key, default)


@dataclass
class RuleSet:
    """Validated, ordered collection of rules for one target table."""

    rules: list[Rule]

    def __post_init__(self):
        seen = set()
        for r in self.rules:
            if r.rule_id in seen:
                # UPA analog: two rules may not claim the same identity
                # (validators/models.py:186-224 checks determinism at parse).
                raise RuleCompileError(f"duplicate rule_id {r.rule_id!r}")
            seen.add(r.rule_id)

    def __iter__(self):
        return iter(self.rules)

    def __len__(self):
        return len(self.rules)

    def of_kinds(self, kinds) -> list[Rule]:
        return [r for r in self.rules if r.kind in kinds]

    @property
    def row_rules(self) -> list[Rule]:
        return self.of_kinds(ROW_KINDS | set(CUSTOM_ROW_KINDS))

    @property
    def set_rules(self) -> list[Rule]:
        return self.of_kinds(SET_KINDS)

    @property
    def dataset_rules(self) -> list[Rule]:
        return self.of_kinds(DATASET_KINDS)

    def validate_against_schema(self, schema) -> None:
        """Compile-time applicability check: rule kind × column dtype, the
        analog of the reference's admitted-facets check
        (simple_types.py:144-146). Raises RuleCompileError.

        Nested paths resolve like Catalyst does: dots walk struct fields
        (``meta.price``); for ``each=True`` rules the array element type
        (plus optional ``params.field``) is what the facet applies to."""
        fields = {f.name: f.dataType.simpleString() for f in schema.fields}

        def resolve(path: str, each: bool, each_field: str | None):
            """(dtype simpleString, found): dots walk struct fields;
            each=True additionally requires an ArrayType and descends to
            the element (plus optional field drill-in). found=False when a
            segment is missing or each hits a non-array."""
            from pyspark.sql.types import ArrayType, StructType

            dt = schema
            for p in path.split("."):
                if not isinstance(dt, StructType) or p not in dt.fieldNames():
                    return None, False
                dt = dt[p].dataType
            if each:
                if not isinstance(dt, ArrayType):
                    return None, False
                dt = dt.elementType
                for p in str(each_field).split(".") if each_field else []:
                    if not isinstance(dt, StructType) or p not in dt.fieldNames():
                        return None, False
                    dt = dt[p].dataType
            return dt.simpleString(), True

        for r in self.rules:
            if r.kind in _ANY_TYPE_KINDS or r.kind in DATASET_KINDS or r.kind in CUSTOM_ROW_KINDS:
                cols = [r.column] if r.column else []
            elif r.kind in SET_KINDS:
                cols = list(r.param("columns", []))
                if not cols:
                    raise RuleCompileError(f"{r.rule_id}: {r.kind} needs params.columns")
                if r.kind == "idref":
                    # same-table reference: the ID side must exist here too
                    cols += list(r.param("refer_columns", []))
            else:
                cols = [r.column]
                if not r.column:
                    raise RuleCompileError(f"{r.rule_id}: {r.kind} needs a column")
            each = bool(r.param("each")) if r.params else False
            for c in cols:
                if not c:
                    continue
                if r.kind in ROW_KINDS and ("." in c or each):
                    leaf, found = resolve(c, each, r.param("field"))
                    if not found:
                        raise RuleCompileError(
                            f"{r.rule_id}: column {c!r} not in schema "
                            f"{sorted(fields)} (nested paths walk struct "
                            "fields; each=True needs an array column)"
                        )
                elif c in fields:
                    leaf = fields[c]
                else:
                    raise RuleCompileError(
                        f"{r.rule_id}: column {c!r} not in schema {sorted(fields)}"
                    )
            if r.kind in ROW_KINDS and r.kind not in _ANY_TYPE_KINDS and r.column:
                cls = _dtype_class(leaf)
                if r.kind not in _APPLICABLE[cls]:
                    raise RuleCompileError(
                        f"{r.rule_id}: facet {r.kind!r} not applicable to "
                        f"{cls} column {r.column!r} (cf. builtins.py:39-61)"
                    )
        self._check_consistency()

    def _check_consistency(self) -> None:
        """Facet-consistency checks, analog of simple_types.py:199-228:
        min ≤ max (empty range if a bound is exclusive and lo == hi),
        minLength ≤ maxLength, exact length vs min/maxLength conflicts,
        fractionDigits ≤ totalDigits — per (column, gate) group."""
        by_target: dict[tuple, dict[str, Any]] = {}
        for r in self.rules:
            if r.kind in _RANGE_KINDS | _LENGTH_KINDS | _DIGIT_KINDS:
                # each=True element facets target a different value space
                # than facets on the array column itself (e.g. min_length
                # on every word vs max_length on the word COUNT) — they
                # must not be merged into one consistency group
                tgt = (
                    r.column, r.gate,
                    bool(r.param("each")), r.param("field"),
                )
                by_target.setdefault(tgt, {})[r.kind] = r.param("value")
        for (col, _gate, _each, _field), kinds in by_target.items():
            lo = kinds.get("min", kinds.get("min_exclusive"))
            hi = kinds.get("max", kinds.get("max_exclusive"))
            exclusive = "min_exclusive" in kinds or "max_exclusive" in kinds
            if lo is not None and hi is not None:
                if lo > hi:
                    raise RuleCompileError(f"column {col!r}: min {lo} > max {hi}")
                if exclusive and lo == hi:
                    # e.g. minExclusive == maxInclusive admits no value
                    # (simple_types.py:199-218 raises the same way)
                    raise RuleCompileError(
                        f"column {col!r}: exclusive bound makes range ({lo}, {hi}) empty"
                    )
            if (
                kinds.get("min_length") is not None
                and kinds.get("max_length") is not None
                and kinds["min_length"] > kinds["max_length"]
            ):
                raise RuleCompileError(f"column {col!r}: minLength > maxLength")
            if kinds.get("length") is not None:
                exact = kinds["length"]
                if kinds.get("min_length") is not None and exact < kinds["min_length"]:
                    raise RuleCompileError(f"column {col!r}: length {exact} < minLength")
                if kinds.get("max_length") is not None and exact > kinds["max_length"]:
                    raise RuleCompileError(f"column {col!r}: length {exact} > maxLength")
            if (
                kinds.get("total_digits") is not None
                and kinds.get("fraction_digits") is not None
                and kinds["fraction_digits"] > kinds["total_digits"]
            ):
                # fractionDigits must not exceed totalDigits
                # (facets consistency, simple_types.py:219-228)
                raise RuleCompileError(
                    f"column {col!r}: fractionDigits > totalDigits"
                )

    def check_restriction_of(self, base: "RuleSet") -> None:
        """Derivation-by-restriction check: every value admitted by THIS
        ruleset must also be admitted by ``base`` — i.e. this set only
        narrows. The rule-table analog of the reference's restriction
        machinery (groups.py:339-416 ``is_restriction`` for particles,
        xsdbase.py:789-799 ``has_occurs_restriction`` for occurrence
        bounds, and the facet-derivation consistency in
        simple_types.py:199-228). Raises :class:`RuleCompileError` with
        every violation found.

        Checked per (column, gate) target:

        - numeric bounds may only tighten (inclusive→exclusive at the
          same value counts as tightening; dropping a base bound is a
          violation);
        - minLength may only rise, maxLength only fall; an exact base
          ``length`` must be kept verbatim;
        - totalDigits / fractionDigits may only fall;
        - enumeration values must be a subset of the base's;
        - a base ``fixed`` value must be kept verbatim;
        - ``not_null`` / ``occurs`` cardinality may only tighten
          (required cannot become optional, max occurs cannot rise);
        - non-comparable base facets (pattern, assertion_sql, whitespace,
          type casts…) must reappear with identical params — in XSD a
          restriction inherits them, so dropping one widens the type.
        """
        errs: list[str] = []

        def _by_target(rs: "RuleSet") -> dict[tuple, dict[str, Rule]]:
            out: dict[tuple, dict[str, Rule]] = {}
            for r in rs.rules:
                # element-scope (each/field) facets are a separate target
                # from facets on the column itself (same reasoning as in
                # _check_consistency)
                tgt = (r.column, r.gate, bool(r.param("each")), r.param("field"))
                out.setdefault(tgt, {})[r.kind] = r
            return out

        mine, theirs = _by_target(self), _by_target(base)
        _COMPARABLE = {
            "min", "max", "min_exclusive", "max_exclusive", "min_length",
            "max_length", "length", "total_digits", "fraction_digits",
            "enumeration", "fixed", "not_null", "occurs",
        }

        for target, b_kinds in theirs.items():
            col = (
                f"column {target[0]!r}"
                + (f" (gate {target[1]!r})" if target[1] else "")
                + (" (each element" + (f".{target[3]}" if target[3] else "") + ")" if target[2] else "")
            )
            d_kinds = mine.get(target, {})

            def _bound(kinds, lo: bool):
                """(value, exclusive) of the lower/upper bound, or None."""
                inc, exc = ("min", "min_exclusive") if lo else ("max", "max_exclusive")
                if exc in kinds:
                    return kinds[exc].param("value"), True
                if inc in kinds:
                    return kinds[inc].param("value"), False
                return None

            for lo in (True, False):
                b, d = _bound(b_kinds, lo), _bound(d_kinds, lo)
                name = "lower" if lo else "upper"
                if b is not None and d is None:
                    errs.append(f"{col}: base {name} bound {b[0]} dropped")
                elif b is not None and d is not None:
                    bv, bex = b
                    dv, dex = d
                    wider = (dv < bv if lo else dv > bv) or (
                        dv == bv and bex and not dex
                    )
                    if wider:
                        errs.append(
                            f"{col}: {name} bound {'('+str(dv) if dex else '['+str(dv)}"
                            f" widens base {'('+str(bv) if bex else '['+str(bv)}"
                        )

            for kind, cmp_ok in (
                ("min_length", lambda b, d: d >= b),
                ("max_length", lambda b, d: d <= b),
                ("total_digits", lambda b, d: d <= b),
                ("fraction_digits", lambda b, d: d <= b),
            ):
                if kind in b_kinds:
                    if kind not in d_kinds:
                        errs.append(f"{col}: base {kind} dropped")
                    elif not cmp_ok(
                        b_kinds[kind].param("value"), d_kinds[kind].param("value")
                    ):
                        errs.append(
                            f"{col}: {kind} {d_kinds[kind].param('value')} widens "
                            f"base {b_kinds[kind].param('value')}"
                        )

            if "length" in b_kinds:
                if (
                    "length" not in d_kinds
                    or d_kinds["length"].param("value") != b_kinds["length"].param("value")
                ):
                    errs.append(f"{col}: exact base length must be kept verbatim")
            if "enumeration" in b_kinds:
                b_vals = set(b_kinds["enumeration"].param("values", []))
                if "enumeration" not in d_kinds:
                    errs.append(f"{col}: base enumeration dropped")
                else:
                    extra = set(d_kinds["enumeration"].param("values", [])) - b_vals
                    if extra:
                        errs.append(
                            f"{col}: enumeration adds values {sorted(extra)} "
                            "not in base"
                        )
            if "fixed" in b_kinds and (
                "fixed" not in d_kinds
                or d_kinds["fixed"].param("value") != b_kinds["fixed"].param("value")
            ):
                errs.append(f"{col}: base fixed value must be kept verbatim")
            if "not_null" in b_kinds and "not_null" not in d_kinds:
                errs.append(f"{col}: base required (not_null) cannot become optional")
            if "occurs" in b_kinds:
                if "occurs" not in d_kinds:
                    errs.append(f"{col}: base occurs bounds dropped")
                else:
                    b_min = b_kinds["occurs"].param("min", 0)
                    b_max = b_kinds["occurs"].param("max")  # None = unbounded
                    d_min = d_kinds["occurs"].param("min", 0)
                    d_max = d_kinds["occurs"].param("max")
                    # xsdbase.py:789-799 has_occurs_restriction
                    if d_min < b_min or (
                        b_max is not None and (d_max is None or d_max > b_max)
                    ):
                        errs.append(
                            f"{col}: occurs [{d_min}, {d_max}] widens base "
                            f"[{b_min}, {b_max}]"
                        )

            for kind, b_rule in b_kinds.items():
                if kind in _COMPARABLE:
                    continue
                d_rule = d_kinds.get(kind)
                if d_rule is None or d_rule.params != b_rule.params:
                    errs.append(
                        f"{col}: inherited base facet {kind!r} must reappear "
                        "with identical params (restriction may add facets, "
                        "not drop or alter inherited ones)"
                    )

        if errs:
            raise RuleCompileError(
                "not a valid restriction of base:\n  " + "\n  ".join(errs)
            )

    def to_json(self) -> str:
        return json.dumps(
            [
                {
                    "rule_id": r.rule_id,
                    "kind": r.kind,
                    "column": r.column,
                    "params": r.params,
                    "gate": r.gate,
                    "scope": r.scope,
                    "severity": r.severity,
                }
                for r in self.rules
            ],
            indent=2,
        )

    @classmethod
    def from_json(cls, text: str) -> "RuleSet":
        return cls([Rule(**d) for d in json.loads(text)])
