"""Rule compiler: each row-level rule → one Spark SQL boolean ``Column``.

This is the engine's analog of the reference's per-type validator lists
(``XsdSimpleType.validators`` collected at
/root/reference/xmlschema/validators/simple_types.py:105-132 and run per
value at :330-342) — except compiled ONCE into a single wide projection
that Catalyst fuses into one whole-stage-codegen pass over the scan.

Null semantics follow XSD: facets constrain the *value space*, so a NULL
passes every facet except ``not_null`` (presence is an occurrence
constraint, xsdbase.py:783-784, not a facet). Gated rules (the
type-alternatives/CTA analog, elements.py:778-792) only fire where the
gate predicate holds.

Everything here is JVM-side Catalyst expressions — no Python UDFs. The
pandas-UDF rule kinds (decode_image, phash_consistency) live in
``operators/multimodal.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from xmlschema_spark.functions.xsd_regex import (
    NCNAME_CHAR_INNER,
    NCNAME_START_INNER,
    XsdRegexError,
    xsd_patterns_to_java,
    xsd_patterns_to_python,
)
from xmlschema_spark.rules import CUSTOM_ROW_KINDS, Rule, RuleCompileError


def _pattern_fallback_udf(patterns: list[str]):
    """Arrow-batched pandas UDF for XSD patterns the Java-regex lane
    rejects. Translation (and its failures) happen HERE, at rule-compile
    time; per-batch work is pandas' vectorized ``str.fullmatch``."""
    py_re = xsd_patterns_to_python(patterns)
    # lambda form: `from __future__ import annotations` stringifies type
    # hints, which pandas_udf's signature inference rejects
    return F.pandas_udf(
        lambda s: s.str.fullmatch(py_re).astype("boolean"), "boolean"
    )


def whitespace_normalize(col: Column, mode: str) -> Column:
    """XSD whiteSpace facet normalization (facets.py:96-129):
    ``replace`` maps tab/LF/CR to space; ``collapse`` additionally folds
    runs and trims; ``preserve`` is identity."""
    if mode == "preserve":
        return col
    if mode == "replace":
        return F.translate(col, "\t\n\r", "   ")
    if mode == "collapse":
        # exactly the XML whitespace set tab/LF/CR/space (facets.py:96-129)
        # — NOT \s, which would also fold \f and \v the spec preserves
        return F.trim(F.regexp_replace(col, "[\\t\\n\\r ]+", " "))
    raise RuleCompileError(f"bad whiteSpace mode {mode!r}")


def _passes_when_null(col: Column, ok: Column) -> Column:
    """Facet semantics: NULL is not a facet violation."""
    return col.isNull() | ok


def _np(ok: Column) -> Column:
    """Single-reference form of the NULL-passes facet semantics, for
    predicates that PROPAGATE null from the value column (comparisons,
    rlike/regexp chains, isin over non-null lists, length/size):
    the predicate is NULL exactly when the value is NULL, so
    ``coalesce(pred, TRUE)`` == ``col.isNull() | pred`` while referencing
    the value expression ONCE instead of twice. That matters when the
    rule column is a COMPUTED expression (a parsed interval, a nested
    extraction): Catalyst evaluates it per reference — conditional
    branches defeat both CollapseProject's reuse guard and codegen
    subexpression elimination (measured 2x on a duration-parse rule) —
    so halving references halves the dominant cost. Kinds whose
    predicate is non-null for a NULL value (try_cast.isNotNull forms,
    UDF lanes) keep :func:`_passes_when_null`."""
    return F.coalesce(ok, F.lit(True))


def compile_row_rule(rule: Rule) -> Column:
    """Return a boolean Column: True ⇔ the row SATISFIES the rule.

    Nested data (SURVEY §1.2 — the reference maps complex types to
    ``StructType`` / ``ArrayType(StructType)``, converters.py:264-288):

    - struct fields: ``column="a.b"`` resolves naturally via Catalyst's
      dotted-path field extraction; every kind works unchanged.
    - array elements: ``params.each=True`` applies the kind to EVERY
      element of the array column via ``forall`` (one codegen expression,
      no explode → no row blowup); optional ``params.field="f"`` (dotted
      ok) drills into struct elements. NULL array passes (value-space
      facet semantics); a NULL *element* passes every kind except
      ``not_null`` — the nillable-item analog.
    """
    each = bool(rule.param("each")) if rule.params else False
    if each:
        if not rule.column:
            raise RuleCompileError(f"{rule.rule_id}: each=True needs a column")
        if rule.kind == "assertion_sql" or rule.kind in CUSTOM_ROW_KINDS:
            raise RuleCompileError(
                f"{rule.rule_id}: {rule.kind} does not support each=True "
                "(row-scoped expression, not an element facet)"
            )
        arr = F.col(rule.column)
        field = rule.param("field")

        def elem_value(x):
            if not field:
                return x
            v = x
            for part in str(field).split("."):
                v = v[part]
            return v

        # pandas-UDF lanes can't run inside a higher-order function —
        # _scalar_ok(allow_udf=False) raises at compile time instead of
        # failing at plan time
        ok = _passes_when_null(
            arr, F.forall(arr, lambda x: _scalar_ok(rule, elem_value(x), allow_udf=False))
        )
    else:
        ok = _scalar_ok(rule, F.col(rule.column) if rule.column else None)

    if rule.gate:
        # CTA analog: rows outside the gate trivially satisfy the rule.
        ok = ~F.coalesce(F.expr(rule.gate).cast("boolean"), F.lit(False)) | ok
    return ok


def _scalar_ok(rule: Rule, c: Column, allow_udf: bool = True) -> Column:
    """The per-value predicate for one rule kind over value column ``c``
    (a top-level column, a struct field path, or a ``forall`` lambda
    variable when called from the ``each`` lane)."""
    k = rule.kind

    if k == "not_null":
        ok = c.isNotNull()
    elif k == "type":
        # lexical-space cast check, analog of to_python decoders
        # (builtins.py:219-247): cast failure ⇒ type violation.
        target = rule.param("type")
        if not target:
            raise RuleCompileError(f"{rule.rule_id}: type rule needs params.type")
        ok = _passes_when_null(c, c.try_cast(target).isNotNull())
    elif k == "length":
        ok = _np(F.length(c) == int(rule.param("value")))
    elif k == "min_length":
        ok = _np(F.length(c) >= int(rule.param("value")))
    elif k == "max_length":
        ok = _np(F.length(c) <= int(rule.param("value")))
    elif k == "min":
        ok = _np(c >= F.lit(rule.param("value")))
    elif k == "max":
        ok = _np(c <= F.lit(rule.param("value")))
    elif k == "min_exclusive":
        ok = _np(c > F.lit(rule.param("value")))
    elif k == "max_exclusive":
        ok = _np(c < F.lit(rule.param("value")))
    elif k == "total_digits":
        # Reference formula (facets.py:421-423):
        #   len([d for d in str(x).strip('0') if d.isdigit()])
        # i.e. strip '0' chars from BOTH ends of the RAW lexical form
        # FIRST, then count remaining digit chars. Order matters for
        # decimals with an all-zero fraction: '10.00'.strip('0') == '10.'
        # -> 2 digits (the interior zero survives because stripping stops
        # at the '.' and the '1'), whereas stripping [-.] first would
        # wrongly give '1' -> 1 digit.
        s = c.cast("string")
        stripped = F.regexp_replace(F.regexp_replace(s, "0+$", ""), "^0+", "")
        sig = F.regexp_replace(stripped, "[^0-9]", "")
        ok = _np(F.length(sig) <= int(rule.param("value")))
    elif k == "fraction_digits":
        s = c.cast("string")
        frac = F.when(
            s.contains("."),
            F.length(F.regexp_replace(F.substring_index(s, ".", -1), "0+$", "")),
        ).otherwise(F.lit(0))
        ok = _np(frac <= int(rule.param("value")))
    elif k == "pattern":
        patterns = rule.param("patterns") or [rule.param("pattern")]
        if not patterns or patterns[0] is None:
            raise RuleCompileError(f"{rule.rule_id}: pattern rule needs params.patterns")
        try:
            java_re = xsd_patterns_to_java(list(patterns))
            ok = _np(c.rlike(java_re))
        except XsdRegexError:
            if not allow_udf:
                raise RuleCompileError(
                    f"{rule.rule_id}: pattern needs the Python-re fallback, "
                    "which cannot run inside each=True (no UDFs in "
                    "higher-order functions)"
                )
            # automatic fallback for constructs Java regex can't express
            # (the reference translates the FULL dialect to Python regex,
            # regex.py:249-357; we cover the Java-expressible subset in
            # codegen and route the remainder through an Arrow-batched
            # pandas UDF on Python's re — SURVEY §4 fallback, now wired
            # in rather than advised in an error message).
            ok = _passes_when_null(c, _pattern_fallback_udf(list(patterns))(c))
    elif k == "enumeration":
        values = rule.param("values")
        if not values:
            raise RuleCompileError(f"{rule.rule_id}: enumeration needs params.values")
        if any(v is None for v in values):
            ok = _passes_when_null(c, c.isin(*values))
        else:
            ok = _np(c.isin(*values))
    elif k == "fixed":
        ok = _np(c == F.lit(rule.param("value")))
    elif k == "occurs":
        lo = int(rule.param("min", 0))
        hi = rule.param("max")
        ok = F.size(c) >= lo if hi is None else F.size(c).between(lo, int(hi))
        ok = _np(ok)
    elif k == "assertion_sql":
        sql = rule.param("sql")
        if not sql:
            raise RuleCompileError(f"{rule.rule_id}: assertion_sql needs params.sql")
        # XsdAssert semantics (assertions.py:69-72): non-true ⇒ violation,
        # so a NULL assertion result fails (coalesce to false).
        ok = F.coalesce(F.expr(sql).cast("boolean"), F.lit(False))
    elif k == "type_union":
        # XsdUnion analog (simple_types.py:887-898): value is valid iff it
        # decodes as at least one member type — first-match-wins cascade
        # of try_cast; validity only needs "any member succeeds".
        types = rule.param("types")
        if not types:
            raise RuleCompileError(f"{rule.rule_id}: type_union needs params.types")
        any_ok = None
        for t in types:
            cast_ok = c.try_cast(t).isNotNull()
            any_ok = cast_ok if any_ok is None else (any_ok | cast_ok)
        ok = _passes_when_null(c, any_ok)
    elif k == "list_items":
        # XsdList analog (simple_types.py:726-732): whitespace-separated
        # items, each valid against the item type/pattern; forall keeps it
        # one codegen expression.
        delimiter = rule.param("delimiter", "[\\t\\n\\r ]+")
        items = F.filter(
            F.split(c, delimiter), lambda x: F.length(x) > 0
        )
        item_type = rule.param("item_type")
        item_pattern = rule.param("item_pattern")
        checks = []
        if item_type:
            checks.append(lambda x: x.try_cast(item_type).isNotNull())
        if item_pattern:
            java_re = xsd_patterns_to_java([item_pattern])
            checks.append(lambda x: x.rlike(java_re))
        if not checks:
            raise RuleCompileError(
                f"{rule.rule_id}: list_items needs item_type and/or item_pattern"
            )
        item_ok = lambda x: checks[0](x) if len(checks) == 1 else (checks[0](x) & checks[1](x))  # noqa: E731
        all_ok = F.forall(items, item_ok)
        lo = rule.param("min_items")
        hi = rule.param("max_items")
        if lo is not None:
            all_ok = all_ok & (F.size(items) >= int(lo))
        if hi is not None:
            all_ok = all_ok & (F.size(items) <= int(hi))
        ok = _passes_when_null(c, all_ok)
    elif k == "finite":
        # finite_number_validator analog (builtins.py:66-71): not NaN/Inf
        ok = _np(~F.isnan(c) & ~c.isin(float("inf"), float("-inf")))
    elif k == "whitespace":
        # the whiteSpace facet as a *check*: the stored value must already
        # be in normalized form (normalization itself lives in normalize.py)
        mode = rule.param("mode", "collapse")
        ok = _np(c == whitespace_normalize(c, mode))
    elif k == "explicit_timezone":
        # XSD 1.1 explicitTimezone facet (facets.py:458-487): the
        # reference checks tzinfo on the DECODED datetime; we check the
        # lexical form — XSD timezones are exactly 'Z' or (+|-)hh:mm
        # at the end of the dateTime/time/date lexical space.
        value = rule.param("value", "optional")
        has_tz = c.rlike("(Z|[+-][0-9]{2}:[0-9]{2})$")
        if value == "required":
            ok = _np(has_tz)
        elif value == "prohibited":
            ok = _np(~has_tz)
        elif value == "optional":
            ok = F.lit(True)
        else:
            raise RuleCompileError(
                f"{rule.rule_id}: explicit_timezone value must be one of "
                "('required', 'prohibited', 'optional') (facets.py:478-480)"
            )
    elif k == "xsd_boolean":
        # strict XSD boolean lexical space (boolean_to_python,
        # builtins.py:160-166): exactly {'true','1','false','0'} after
        # whiteSpace collapse — narrower than Spark's boolean cast,
        # which also accepts 'yes'/'no'/'t'/'f' etc.
        v = whitespace_normalize(c, "collapse")
        ok = _np(v.isin("true", "false", "1", "0"))
    elif k == "hex_binary":
        # even-length hex lexical space (hex_binary_validator,
        # builtins.py:139-141)
        ok = _np(c.rlike("^([0-9a-fA-F]{2})*$"))
    elif k == "base64_binary":
        # charset + strict-decodability (base64_binary_validator,
        # builtins.py:144-155): the reference strips whitespace then
        # b64decodes strictly; the equivalent lexical check is canonical
        # alphabet, 4-char groups, and valid '='-padding — one codegen
        # regex instead of a decode attempt.
        v = F.regexp_replace(c, "[\\t\\n\\r ]+", "")
        ok = _np(
            v.rlike(
                "^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
            )
        )
    elif k == "duration":
        # xs:duration / dayTimeDuration / yearMonthDuration lexical space
        # (builtins.py:243-248,507-518); value-space comparison happens on
        # the decoded interval column (functions/durations.py) with the
        # ordinary range facets.
        from xmlschema_spark.functions.durations import DURATION_VARIANTS

        variant = rule.param("variant", "any")
        if variant not in DURATION_VARIANTS:
            raise RuleCompileError(
                f"{rule.rule_id}: duration variant must be one of "
                f"{sorted(DURATION_VARIANTS)}"
            )
        ok = _np(c.rlike(f"^{DURATION_VARIANTS[variant]}$"))
    elif k == "qname":
        # xs:QName lexical check (qname_validator, builtins.py:74-76):
        # NCName(':'NCName)? — NCName = name chars minus ':', using the
        # full XML 1.0 NameStartChar/NameChar ranges shared with \i/\c
        # (xsd_regex.py — same BMP ranges as the reference regex.py:38-45,
        # so Greek/Cyrillic/CJK names are accepted).
        ncname = f"[{NCNAME_START_INNER}][{NCNAME_CHAR_INNER}]*"
        ok = _np(c.rlike(f"^(?:{ncname}:)?{ncname}$"))
    elif k in CUSTOM_ROW_KINDS:
        compile_fn, _ = CUSTOM_ROW_KINDS[k]
        ok = compile_fn(rule)
    else:
        raise RuleCompileError(f"{rule.rule_id}: {k} is not a row-level kind")
    return ok


def violation_reason(rule: Rule) -> str:
    """Human-readable reason string, analog of
    XMLSchemaValidationError.reason (exceptions.py:182-232)."""
    p = rule.params
    base = {
        "not_null": f"value of {rule.column!r} is missing (required)",
        "type": f"value of {rule.column!r} is not castable to {p.get('type')}",
        "length": f"length of {rule.column!r} != {p.get('value')}",
        "min_length": f"length of {rule.column!r} < {p.get('value')}",
        "max_length": f"length of {rule.column!r} > {p.get('value')}",
        "min": f"value of {rule.column!r} < {p.get('value')}",
        "max": f"value of {rule.column!r} > {p.get('value')}",
        "min_exclusive": f"value of {rule.column!r} <= {p.get('value')}",
        "max_exclusive": f"value of {rule.column!r} >= {p.get('value')}",
        "total_digits": f"{rule.column!r} exceeds totalDigits {p.get('value')}",
        "fraction_digits": f"{rule.column!r} exceeds fractionDigits {p.get('value')}",
        "pattern": f"value of {rule.column!r} does not match pattern(s)",
        "enumeration": f"value of {rule.column!r} not in enumeration",
        "fixed": f"value of {rule.column!r} != fixed value {p.get('value')!r}",
        "occurs": f"cardinality of {rule.column!r} outside [{p.get('min', 0)}, {p.get('max')}]",
        "assertion_sql": f"assertion failed: {p.get('sql')}",
        "whitespace": f"value of {rule.column!r} not whiteSpace-{p.get('mode', 'collapse')} normalized",
        "finite": f"value of {rule.column!r} is NaN or infinite",
        "type_union": f"value of {rule.column!r} matches no union member type {p.get('types')}",
        "list_items": f"list items of {rule.column!r} fail the item constraints",
        "explicit_timezone": f"timezone {p.get('value', 'optional')} for {rule.column!r}",
        "xsd_boolean": f"value of {rule.column!r} not in boolean lexical space {{true,1,false,0}}",
        "qname": f"value of {rule.column!r} is not an xs:QName",
        "duration": f"value of {rule.column!r} is not an xs:duration ({p.get('variant', 'any')})",
        "hex_binary": f"value of {rule.column!r} is not even-length hex",
        "base64_binary": f"value of {rule.column!r} is not base64",
    }.get(rule.kind, rule.kind)
    if rule.kind in CUSTOM_ROW_KINDS:
        _, reason_fn = CUSTOM_ROW_KINDS[rule.kind]
        base = reason_fn(rule) if reason_fn else f"custom rule {rule.kind} failed"
    if rule.params and rule.param("each"):
        field = rule.param("field")
        base += f" [each element{'.' + field if field else ''}]"
    if rule.gate:
        base += f" [where {rule.gate}]"
    return base

