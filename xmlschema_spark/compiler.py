"""Rule compiler: each row-level rule → one Spark SQL boolean expression,
as text.

This is the engine's analog of the reference's per-type validator lists
(``XsdSimpleType.validators`` collected at
/root/reference/xmlschema/validators/simple_types.py:105-132 and run per
value at :330-342) — except compiled ONCE into a single wide projection
that Catalyst fuses into one whole-stage-codegen pass over the scan.

Every built-in kind compiles to SQL text: parameters become the typed
literals ``F.lit`` would make (:func:`_lit`), column names go through one
quoting helper (:func:`_q`), ``each=True`` becomes ``forall(arr, __e -> …)``
and a gate wraps the text. The engine splices the texts of a whole rule
set into one ``selectExpr`` per output, so its plans cost a few JVM round
trips instead of several per ``Column`` operation.

The same literals build driver-side result rows: :func:`local_frame`
turns a Python list into a ``SELECT … FROM VALUES`` that Catalyst plans
as a ``LocalRelation``.

Two lanes stay ``Column``s, because they run Python or user code: the
pattern fallback (:func:`_pattern_fallback_udf`, a pandas UDF for XSD
patterns Java regex cannot express) and the kinds added with
``register_rule_kind`` (``lang_expected``, the container-header families).

Null semantics follow XSD: facets constrain the *value space*, so a NULL
passes every facet except ``not_null`` (presence is an occurrence
constraint, xsdbase.py:783-784, not a facet). Gated rules (the
type-alternatives/CTA analog, elements.py:778-792) only fire where the
gate predicate holds.
"""

from __future__ import annotations

import datetime
import decimal
import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xmlschema_spark.functions.xsd_regex import (
    NCNAME_CHAR_INNER,
    NCNAME_START_INNER,
    XsdRegexError,
    xsd_patterns_to_java,
    xsd_patterns_to_python,
)
from xmlschema_spark.rules import CUSTOM_ROW_KINDS, Rule, RuleCompileError

# the XML whitespace set tab/LF/CR/space, as a regex
_XML_WS = "[\\t\\n\\r ]+"
# the length and range facets: each compares one value with params.value
_COMPARE = {
    "length": "=", "min_length": ">=", "max_length": "<=",
    "min": ">=", "max": "<=", "min_exclusive": ">", "max_exclusive": "<",
}


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


def _q(name: str) -> str:
    """A column name as SQL text, read the way ``F.col`` reads it: dots
    split struct-field paths, a backtick-quoted part keeps its dots, and
    a doubled backtick inside one is a literal backtick."""
    parts, cur, quoted, i = [], "", False, 0
    while i < len(name):
        ch = name[i]
        if quoted and ch == "`" and name[i + 1 : i + 2] == "`":
            cur, i = cur + "`", i + 1
        elif ch == "`" and (quoted or not cur):
            quoted = not quoted
        elif ch == "." and not quoted:
            parts, cur = parts + [cur], ""
        else:
            cur += ch
        i += 1
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts + [cur])


def _lit(v) -> str:
    """A Python value as the SQL literal ``F.lit`` would make of it. A
    string with a quote or backslash goes in as its UTF-8 bytes, so its
    value does not depend on ``spark.sql.parser.escapedStringLiterals``."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, decimal.Decimal):
        return f"{v}BD"
    if isinstance(v, datetime.datetime):  # a naive one is local time, as for F.lit
        return f"TIMESTAMP '{v.astimezone().isoformat()}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, datetime.timedelta):
        us = v // datetime.timedelta(microseconds=1)
        d, us_ = divmod(abs(us), 86_400_000_000)
        s = datetime.timedelta(microseconds=us_)
        return f"INTERVAL '{'-' if us < 0 else ''}{d} {s}' DAY TO SECOND"
    if isinstance(v, str):
        if "'" in v or "\\" in v:
            return f"CAST(X'{v.encode().hex()}' AS STRING)"
        return f"'{v}'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    raise RuleCompileError(f"no SQL literal for {v!r}")


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-side rows, as one
    ``SELECT … FROM VALUES`` of :func:`_lit` literals. Catalyst folds it
    into a ``LocalRelation``: collecting it launches no job, and an empty
    one (``LIMIT 0``) is pruned from a union. ``createDataFrame`` over a
    Python list instead plans a PythonRDD scan, which runs
    ``defaultParallelism`` Python worker tasks whenever it executes."""
    names = [f"`{f.name.replace('`', '``')}`" for f in schema.fields]
    types = [f.dataType.simpleString() for f in schema.fields]
    if not rows:
        cols = ", ".join(f"CAST(NULL AS {t}) AS {n}" for t, n in zip(types, names))
        return spark.sql(f"SELECT {cols} LIMIT 0")
    cols = ", ".join(f"CAST(c{i} AS {t}) AS {n}" for i, (t, n) in enumerate(zip(types, names)))
    values = ", ".join(f"({', '.join(map(_lit, r))})" for r in rows)
    aliases = ", ".join(f"c{i}" for i in range(len(names)))
    return spark.sql(f"SELECT {cols} FROM VALUES {values} AS t({aliases})")


def whitespace_normalize(v: str, mode: str) -> str:
    """XSD whiteSpace facet normalization (facets.py:96-129) of the SQL
    expression ``v``: ``replace`` maps tab/LF/CR to space; ``collapse``
    additionally folds runs and trims; ``preserve`` is identity."""
    if mode == "preserve":
        return v
    if mode == "replace":
        return f"translate({v}, '\t\n\r', '   ')"
    if mode == "collapse":
        # exactly the XML whitespace set tab/LF/CR/space (facets.py:96-129)
        # — NOT \s, which would also fold \f and \v the spec preserves
        return f"trim(regexp_replace({v}, {_lit(_XML_WS)}, ' '))"
    raise RuleCompileError(f"bad whiteSpace mode {mode!r}")


def _passes_when_null(c: str, ok: str) -> str:
    """Facet semantics: NULL is not a facet violation."""
    return f"({c} IS NULL OR {ok})"


def _np(ok: str) -> str:
    """Single-reference form of the NULL-passes facet semantics, for
    predicates that PROPAGATE null from the value column (comparisons,
    rlike/regexp chains, IN over non-null lists, length):
    the predicate is NULL exactly when the value is NULL, so
    ``coalesce(pred, true)`` == ``c IS NULL OR pred`` while referencing
    the value expression ONCE instead of twice. That matters when the
    rule column is a COMPUTED expression (a parsed interval, a nested
    extraction): Catalyst evaluates it per reference — conditional
    branches defeat both CollapseProject's reuse guard and codegen
    subexpression elimination (measured 2x on a duration-parse rule) —
    so halving references halves the dominant cost. Kinds whose
    predicate is non-null for a NULL value (try_cast IS NOT NULL forms,
    UDF lanes) keep :func:`_passes_when_null`."""
    return f"coalesce({ok}, true)"


def _holds(sql: str) -> str:
    """A user's SQL condition (an assertion, a gate) holds: NULL counts as
    false. The newlines end a trailing ``--`` comment in ``sql``."""
    return f"coalesce(CAST((\n{sql}\n) AS BOOLEAN), false)"


def compile_row_rule(rule: Rule) -> Column:
    """Return a boolean Column: True ⇔ the row SATISFIES the rule — the
    SQL text of :func:`_row_ok` parsed, or its Column lane."""
    ok = _row_ok(rule)
    return F.expr(ok) if isinstance(ok, str) else ok


def _row_ok(rule: Rule) -> str | Column:
    """The rule's predicate — True ⇔ the row SATISFIES it — as SQL text,
    or as a Column for the UDF lanes (the pattern fallback and
    registered kinds).

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
        arr = _q(rule.column)
        field = rule.param("field")
        elem = "__e" + ("." + _q(str(field)) if field else "")
        # pandas-UDF lanes can't run inside a higher-order function —
        # _scalar_ok(allow_udf=False) raises at compile time instead of
        # failing at plan time
        elem_ok = _scalar_ok(rule, elem, allow_udf=False)
        ok = _passes_when_null(arr, f"forall({arr}, __e -> {elem_ok})")
    else:
        ok = _scalar_ok(rule, _q(rule.column) if rule.column else None)

    if rule.gate:
        # CTA analog: rows outside the gate trivially satisfy the rule.
        if isinstance(ok, str):
            return f"(NOT {_holds(rule.gate)} OR {ok})"
        return F.expr(f"NOT {_holds(rule.gate)}") | ok
    return ok


def _scalar_ok(rule: Rule, c: str, allow_udf: bool = True) -> str | Column:
    """The per-value predicate for one rule kind over the SQL expression
    ``c`` (a top-level column, a struct field path, or the ``forall``
    lambda variable when called from the ``each`` lane)."""
    k = rule.kind

    if k == "not_null":
        ok = f"({c} IS NOT NULL)"
    elif k == "type":
        # lexical-space cast check, analog of to_python decoders
        # (builtins.py:219-247): cast failure ⇒ type violation.
        target = rule.param("type")
        if not target:
            raise RuleCompileError(f"{rule.rule_id}: type rule needs params.type")
        ok = _passes_when_null(c, f"try_cast({c} AS {target}) IS NOT NULL")
    elif k in _COMPARE:
        if k.endswith("length"):
            ok = _np(f"(length({c}) {_COMPARE[k]} {int(rule.param('value'))})")
        else:
            ok = _np(f"({c} {_COMPARE[k]} {_lit(rule.param('value'))})")
    elif k == "total_digits":
        # Reference formula (facets.py:421-423):
        #   len([d for d in str(x).strip('0') if d.isdigit()])
        # i.e. strip '0' chars from BOTH ends of the RAW lexical form
        # FIRST, then count remaining digit chars. Order matters for
        # decimals with an all-zero fraction: '10.00'.strip('0') == '10.'
        # -> 2 digits (the interior zero survives because stripping stops
        # at the '.' and the '1'), whereas stripping [-.] first would
        # wrongly give '1' -> 1 digit.
        stripped = f"regexp_replace(regexp_replace(CAST({c} AS STRING), '0+$', ''), '^0+', '')"
        sig = f"regexp_replace({stripped}, '[^0-9]', '')"
        ok = _np(f"(length({sig}) <= {int(rule.param('value'))})")
    elif k == "fraction_digits":
        s = f"CAST({c} AS STRING)"
        frac = (
            f"CASE WHEN contains({s}, '.') THEN length(regexp_replace("
            f"substring_index({s}, '.', -1), '0+$', '')) ELSE 0 END"
        )
        ok = _np(f"({frac} <= {int(rule.param('value'))})")
    elif k == "pattern":
        patterns = rule.param("patterns") or [rule.param("pattern")]
        if not patterns or patterns[0] is None:
            raise RuleCompileError(f"{rule.rule_id}: pattern rule needs params.patterns")
        try:
            ok = _np(f"rlike({c}, {_lit(xsd_patterns_to_java(list(patterns)))})")
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
            ok = F.expr(f"{c} IS NULL") | _pattern_fallback_udf(list(patterns))(F.expr(c))
    elif k == "enumeration":
        # a NULL member would make IN NULL for every non-member, and
        # NULL is not a facet violation anyway: only the others count
        values = [v for v in rule.param("values") or [] if v is not None]
        if not values:
            raise RuleCompileError(f"{rule.rule_id}: enumeration needs params.values")
        ok = _np(f"({c} IN ({', '.join(map(_lit, values))}))")
    elif k == "fixed":
        ok = _np(f"({c} = {_lit(rule.param('value'))})")
    elif k == "occurs":
        # not _np: with spark.sql.ansi.enabled=false, size(NULL) is -1,
        # not NULL, so the coalesce would fail a NULL array
        hi = rule.param("max")
        ok = f"size({c}) >= {int(rule.param('min', 0))}"
        if hi is not None:
            ok = f"{ok} AND size({c}) <= {int(hi)}"
        ok = _passes_when_null(c, f"({ok})")
    elif k == "assertion_sql":
        sql = rule.param("sql")
        if not sql:
            raise RuleCompileError(f"{rule.rule_id}: assertion_sql needs params.sql")
        # XsdAssert semantics (assertions.py:69-72): non-true ⇒ violation,
        # so a NULL assertion result fails (coalesce to false).
        ok = _holds(sql)
    elif k == "type_union":
        # XsdUnion analog (simple_types.py:887-898): value is valid iff it
        # decodes as at least one member type — first-match-wins cascade
        # of try_cast; validity only needs "any member succeeds".
        types = rule.param("types")
        if not types:
            raise RuleCompileError(f"{rule.rule_id}: type_union needs params.types")
        any_ok = " OR ".join(f"try_cast({c} AS {t}) IS NOT NULL" for t in types)
        ok = _passes_when_null(c, f"({any_ok})")
    elif k == "list_items":
        # XsdList analog (simple_types.py:726-732): whitespace-separated
        # items, each valid against the item type/pattern; forall keeps it
        # one codegen expression.
        delimiter = rule.param("delimiter", _XML_WS)
        items = f"filter(split({c}, {_lit(delimiter)}, -1), __i -> length(__i) > 0)"
        checks = []
        if rule.param("item_type"):
            checks.append(f"try_cast(__i AS {rule.param('item_type')}) IS NOT NULL")
        if rule.param("item_pattern"):
            item_re = xsd_patterns_to_java([rule.param("item_pattern")])
            checks.append(f"rlike(__i, {_lit(item_re)})")
        if not checks:
            raise RuleCompileError(
                f"{rule.rule_id}: list_items needs item_type and/or item_pattern"
            )
        all_ok = [f"forall({items}, __i -> {' AND '.join(checks)})"]
        for p, op in (("min_items", ">="), ("max_items", "<=")):
            if rule.param(p) is not None:
                all_ok.append(f"size({items}) {op} {int(rule.param(p))}")
        ok = _passes_when_null(c, f"({' AND '.join(all_ok)})")
    elif k == "finite":
        # finite_number_validator analog (builtins.py:66-71): not NaN/Inf
        ok = _np(f"(NOT isnan({c}) AND NOT ({c} IN ({_lit(math.inf)}, {_lit(-math.inf)})))")
    elif k == "whitespace":
        # the whiteSpace facet as a *check*: the stored value must already
        # be in normalized form (normalization itself lives in normalize.py)
        ok = _np(f"({c} = {whitespace_normalize(c, rule.param('mode', 'collapse'))})")
    elif k == "explicit_timezone":
        # XSD 1.1 explicitTimezone facet (facets.py:458-487): the
        # reference checks tzinfo on the DECODED datetime; we check the
        # lexical form — XSD timezones are exactly 'Z' or (+|-)hh:mm
        # at the end of the dateTime/time/date lexical space.
        value = rule.param("value", "optional")
        has_tz = f"rlike({c}, '(Z|[+-][0-9]{{2}}:[0-9]{{2}})$')"
        if value == "required":
            ok = _np(has_tz)
        elif value == "prohibited":
            ok = _np(f"(NOT {has_tz})")
        elif value == "optional":
            ok = "true"
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
        ok = _np(f"({whitespace_normalize(c, 'collapse')} IN ('true', 'false', '1', '0'))")
    elif k == "hex_binary":
        # even-length hex lexical space (hex_binary_validator,
        # builtins.py:139-141)
        ok = _np(f"rlike({c}, '^([0-9a-fA-F]{{2}})*$')")
    elif k == "base64_binary":
        # charset + strict-decodability (base64_binary_validator,
        # builtins.py:144-155): the reference strips whitespace then
        # b64decodes strictly; the equivalent lexical check is canonical
        # alphabet, 4-char groups, and valid '='-padding — one codegen
        # regex instead of a decode attempt.
        b64 = "'^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$'"
        ok = _np(f"rlike(regexp_replace({c}, {_lit(_XML_WS)}, ''), {b64})")
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
        ok = _np(f"rlike({c}, {_lit(f'^{DURATION_VARIANTS[variant]}$')})")
    elif k == "qname":
        # xs:QName lexical check (qname_validator, builtins.py:74-76):
        # NCName(':'NCName)? — NCName = name chars minus ':', using the
        # full XML 1.0 NameStartChar/NameChar ranges shared with \i/\c
        # (xsd_regex.py — same BMP ranges as the reference regex.py:38-45,
        # so Greek/Cyrillic/CJK names are accepted).
        ncname = f"[{NCNAME_START_INNER}][{NCNAME_CHAR_INNER}]*"
        ok = _np(f"rlike({c}, {_lit(f'^(?:{ncname}:)?{ncname}$')})")
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

