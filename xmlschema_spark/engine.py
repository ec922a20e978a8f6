"""ValidationEngine — one compiled check list → violations + verdicts.

Lifecycle (the Spark re-expression of ``schema.validate()``, reference
validators/schema.py:946-1020, per SURVEY.md §3.2, whose ``iter_errors``
walks a document once for every constraint kind):

1. the constructor compiles the rule set once (the analog of
   XsdGlobals.build) into ONE check list: for each row rule, and for the
   decode and phash rules, a ``bad`` predicate, the violation reason and
   the value a violation reports, all as Spark SQL text (a ``bad``
   predicate is a ``Column`` only for the compiler's UDF lanes), so the
   constructor makes no JVM call. Row checks read the input row; decode
   and phash checks read the output of the one ``decode_check`` wiring
   (an Arrow ``mapInArrow`` UDF). Every consumer splices the texts into
   one ``selectExpr`` or a few ``F.expr`` calls, so a plan costs a few
   dozen py4j round trips, not several per rule;
2. every consumer reads that list:
   - violation detail rows: one explode over the failing checks of each
     input row (row rules) or decoded row (decode / phash rules);
   - :meth:`ValidationEngine.validate_one_pass`: per-check 0/1 sums in one
     aggregation;
   - the streaming verdicts: the per-row error total;
3. set-level rules (unique/key/keyref) run as hash aggregations /
   left-anti joins and drift rules as per-partition scores; their rows go
   through the same violation-row builder. Rows built on the driver (drift
   scores, an empty violation set) are LocalRelations
   (``compiler.local_frame``), never a ``createDataFrame`` over a Python
   list, whose PythonRDD scan would start Python worker tasks;
4. verdicts: per-partition PASS/FAIL + counts + the PSVI validity, from one
   builder for ``validate`` and ``validate_one_pass`` alike.

Validation modes mirror XSD_VALIDATION_MODES (xsdbase.py:24,674-705):
``strict`` fail-fast (first violation only), ``lax`` collect everything,
``skip`` no checks (stats only).

Violation rows mirror XMLSchemaValidationError{validator, obj, reason,
path} (exceptions.py:182-232); verdict rows carry the PSVI validity
triple collapsed to PASS/FAIL per partition (xsdbase.py:62-92).
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xmlschema_spark.compiler import _lit, _q, _row_ok, local_frame, violation_reason
from xmlschema_spark.operators import drift as drift_ops
from xmlschema_spark.operators import identity as id_ops
from xmlschema_spark.operators import multimodal as mm_ops
from xmlschema_spark.operators import stats as stats_ops
from xmlschema_spark.operators import text as _text_ops  # noqa: F401 —
# imported for its side effect: registers the lang_expected rule kind
# (the same pattern multimodal uses for header_consistent)
from xmlschema_spark.rules import Rule, RuleSet

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.StringType()),
        T.StructField("rule_id", T.StringType()),
        T.StructField("row_id", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("severity", T.StringType()),
    ]
)


class _Check(NamedTuple):
    """One compiled check: a violation wherever ``bad`` holds. ``value``
    and ``reason`` are SQL text, and so is ``bad`` but for a UDF lane's."""

    rule: Rule
    bad: str | Column
    column: str  # the violation row's ``column`` label
    value: str  # the value the violation row reports
    reason: str


class _OnePassPlan(NamedTuple):
    """:meth:`ValidationEngine.validate_one_pass`'s Columns for one input
    schema and stats column list: all of the plan but its DataFrame and
    its ``run_id`` literal."""

    pre: list[Column] | None  # decode_check's input projection; None: no decode
    passthrough: list[str] | None  # the columns carried through decode_check
    group: Column  # the partition_id grouping key
    aggs: list[Column]
    out: list[Column]  # the verdict and stat projection after ``run_id``


_NULL = "CAST(NULL AS STRING)"
_DECODE_REASON = (
    "concat_ws('; ', "
    "CASE WHEN NOT decode_ok THEN concat('decode failed: ', coalesce(`error`, '')) END, "
    "CASE WHEN decode_ok AND NOT fmt_match THEN 'container fmt != declared fmt' END, "
    "CASE WHEN decode_ok AND NOT dims_match THEN 'decoded dims != declared (w,h)' END, "
    "CASE WHEN decode_ok AND NOT psnr_ok THEN "
    "concat('psnr below threshold: ', CAST(round(psnr, 2) AS STRING)) END)"
)


def _cast(x: str | Column, to: str) -> Column:
    return F.expr(f"CAST({x} AS {to})") if isinstance(x, str) else x.cast(to)


def _error_total(counts: Iterable[tuple[_Check, str]]) -> str:
    """The (check, count) counts of the error-severity checks summed: the
    one FAIL count every verdict reads (warnings never fail a partition)."""
    errors = [n for c, n in counts if c.rule.severity == "error"]
    return f"({' + '.join(errors)})" if errors else "0"


def _violation_rows(df: DataFrame, **fields: str) -> DataFrame:
    """Project ``df`` onto VIOLATION_SCHEMA: the one place its eight fields
    are assembled, each given as SQL text."""
    return df.selectExpr(*[f"{fields[f.name]} AS `{f.name}`" for f in VIOLATION_SCHEMA.fields])


def _exploded(
    df: DataFrame, run_id: str, checks: list[_Check], row_id: str, partition_id: str
) -> DataFrame:
    """One violation row per (row of ``df``, check whose ``bad`` holds)."""
    structs = []
    for c in checks:
        v = (
            f"named_struct('rule_id', {_lit(c.rule.rule_id)}, 'column', {_lit(c.column)}, "
            f"'value', {c.value}, 'reason', {c.reason}, 'severity', {_lit(c.rule.severity)})"
        )
        if isinstance(c.bad, Column):
            structs.append(F.when(c.bad, F.expr(v)))
        else:
            structs.append(f"CASE WHEN {c.bad} THEN {v} END")
    # Plan-shape rules learned the hard way (each measured ~2-6x wall
    # on a computed-column rule suite like the interval parse):
    # - no filter(size(__v) > 0) before the explode: explode (not
    #   explode_outer) already emits zero rows for an empty array, and
    #   a size() pre-filter collapses into the projection, DUPLICATING
    #   the entire rule-struct array expression per row;
    # - the explode lives in the SAME select that builds the array: a
    #   separate project of __v followed by explode("__v") keeps the
    #   Generate's child materializing the full struct array alongside
    #   the generator (measured 6x slower than the inline form).
    keys = [f"{row_id} AS row_id", f"{partition_id} AS partition_id"]
    if all(isinstance(v, str) for v in structs):
        exploded = df.selectExpr(*keys, f"explode(array_compact(array({', '.join(structs)}))) AS v")
    else:  # a UDF lane's struct joins the same array
        structs = [F.expr(v) if isinstance(v, str) else v for v in structs]
        exploded = df.select(
            *map(F.expr, keys), F.explode(F.array_compact(F.array(*structs))).alias("v")
        )
    return _violation_rows(
        exploded, run_id=_lit(run_id), partition_id="partition_id", row_id="row_id",
        **{k: f"v.`{k}`" for k in ("rule_id", "column", "value", "reason", "severity")},
    )


def _verdict_cols(n_viol: str, n_rows: str, metrics: str, attempted: str) -> list[str]:
    """The one verdict projection over per-partition counts, after its
    leading ``run_id`` literal: PASS/FAIL and the PSVI
    ``validation_attempted`` / ``validity`` (xsdbase.py:62-92).

    skip mode is attempted='none' → validity='notKnown' (NOT a clean
    PASS), strict mode that stopped at the first hit is 'partial', and an
    empty scope with nothing checked is 'notKnown' rather than 'valid'."""
    if attempted == "none":
        validity = "'notKnown'"
    elif attempted == "partial":
        # strict stopped at the first hit: partitions with no recorded
        # violation were not fully assessed — notKnown, not valid
        validity = f"CASE WHEN {n_viol} > 0 THEN 'invalid' ELSE 'notKnown' END"
    else:
        validity = (
            f"CASE WHEN {n_viol} > 0 THEN 'invalid' WHEN {n_rows} = 0 THEN 'notKnown' "
            "ELSE 'valid' END"
        )
    return [
        "partition_id",
        f"CASE WHEN {n_viol} > 0 THEN 'FAIL' ELSE 'PASS' END AS status",
        f"{n_rows} AS rows_checked",
        f"CAST({n_viol} AS BIGINT) AS violation_count",
        f"{metrics} AS metrics",
        f"'{attempted}' AS validation_attempted",
        f"{validity} AS validity",
    ]


@dataclass
class ValidationResult:
    run_id: str
    violations: DataFrame
    verdicts: DataFrame
    stats: DataFrame | None = None
    mode: str = "lax"

    def unpersist(self) -> None:
        """Release the persisted violations. Without this, a later
        identical run would silently serve Spark's plan-matching cache."""
        self.violations.unpersist()


class ValidationEngine:
    """Compiled validator for one table shape.

    ``id_col`` identifies rows in violation output (the analog of the
    error's element path); ``partition_col`` is the verdict/checkpoint
    scope (the Iceberg partition analog, cf. reference per-subtree scope
    at elements.py:546-551).
    """

    def __init__(
        self,
        ruleset: RuleSet,
        id_col: str = "image_id",
        partition_col: str = "part",
    ):
        self.ruleset = ruleset
        self.id_col = id_col
        self.partition_col = partition_col
        # the compiled check list: the row checks, then the checks that
        # read decode_check's output (only the first decode and the first
        # phash rule count)
        self._checks = []
        for r in ruleset.row_rules:
            ok = _row_ok(r)
            self._checks.append(_Check(
                r, f"NOT ({ok})" if isinstance(ok, str) else ~ok, r.column or "",
                f"CAST({_q(r.column)} AS STRING)" if r.column else _NULL,
                _lit(violation_reason(r)),
            ))
        self._n_row = len(self._checks)
        dec, ph = (
            next((r for r in ruleset.dataset_rules if r.kind == k), None)
            for k in ("decode_image", "phash_consistency")
        )
        self._decode_args = None
        if dec or ph:
            self._decode_args = dict(
                psnr_db=float((dec or ph).param("psnr_db", 40.0)),
                check_phash=ph is not None,
                phash_max_hamming_lossy=int(ph.param("max_hamming_lossy", 20)) if ph else 20,
            )
        if dec:
            bad = "NOT (decode_ok AND dims_match AND fmt_match AND psnr_ok)"
            self._checks.append(_Check(dec, bad, "bytes", _NULL, _DECODE_REASON))
        if ph:
            reason = _lit("stored phash != phash of decoded pixels")
            self._checks.append(_Check(ph, "decode_ok AND NOT phash_match", "phash", _NULL, reason))
        self._one_pass_plans: dict[tuple, _OnePassPlan] = {}

    def _row_errors(self) -> Column:
        """Per input row: how many error-severity row checks fail."""
        checks = self._checks[: self._n_row]
        total = F.expr(_error_total(
            (c, f"CAST({c.bad} AS BIGINT)") for c in checks if isinstance(c.bad, str)
        ))
        lanes = [c.bad for c in checks if isinstance(c.bad, Column) and c.rule.severity == "error"]
        return sum((bad.cast("long") for bad in lanes), total)

    # ------------------------------------------------------------------ row

    def row_violations(self, df: DataFrame, run_id: str) -> DataFrame:
        """One scan; every rule a boolean; failures exploded to rows. No
        row rules: an empty LocalRelation, which Catalyst prunes from the
        violation union."""
        if not self._n_row:
            return local_frame(df.sparkSession, [], VIOLATION_SCHEMA)
        return _exploded(
            df, run_id, self._checks[: self._n_row],
            row_id=f"CAST({_q(self.id_col)} AS STRING)",
            partition_id=f"CAST({_q(self.partition_col)} AS STRING)",
        )

    # ------------------------------------------------------------------ set

    def set_violations(
        self, df: DataFrame, run_id: str, secondary: dict[str, DataFrame] | None = None
    ) -> list[DataFrame]:
        """unique / key / keyref violations, reference duplicate semantics:
        one violation per duplicated VALUE (identities.py:217-221)."""
        out: list[DataFrame] = []
        secondary = secondary or {}
        for r in self.ruleset.set_rules:
            cols = list(r.param("columns", []))
            values = ", ".join(["'|'"] + [f"CAST({_q(c)} AS STRING)" for c in cols])
            values = f"concat_ws({values})"
            scope = self.partition_col if r.scope == "partition" else None
            rule = dict(run_id=_lit(run_id), rule_id=_lit(r.rule_id), severity=_lit(r.severity))
            if r.kind in ("unique", "key"):
                dups = id_ops.duplicate_values(
                    df, cols, scope_col=scope,
                    salt_partitions=int(r.param("salt_partitions", 0)),
                )
                reason = _lit(f"duplicated value for {r.kind} constraint ({r.rule_id}): x")
                out.append(_violation_rows(
                    dups, **rule,
                    partition_id=f"CAST({_q(scope)} AS STRING)" if scope else "'__table__'",
                    row_id=values, column=_lit(",".join(cols)), value=values,
                    reason=f"concat({reason}, CAST(dup_count AS STRING))",
                ))
                if r.kind == "key":
                    out.append(_violation_rows(
                        id_ops.key_null_rows(df, cols, self.id_col), **rule,
                        partition_id="'__table__'", row_id="CAST(row_id AS STRING)",
                        column="concat_ws(',', null_columns)", value=_NULL,
                        reason=_lit("missing key field (key fields are required)"),
                    ))
            elif r.kind in ("keyref", "idref"):
                if r.kind == "idref":
                    # IDREF → xs:ID pairing sugar (builtins.py:328-341):
                    # a same-table keyref, no secondary needed
                    ref_name = "<same table>"
                    pk_df = df
                else:
                    ref_name = r.param("refer_table")
                    pk_df = secondary.get(ref_name)
                    if pk_df is None:
                        raise ValueError(
                            f"{r.rule_id}: keyref refers to table {ref_name!r}; "
                            f"pass it via secondary={{'{ref_name}': df}}"
                        )
                orphans = id_ops.keyref_orphans(
                    df, cols, pk_df, list(r.param("refer_columns", cols)),
                    broadcast_pk=r.param("broadcast_pk"),
                )
                out.append(_violation_rows(
                    orphans, **rule,
                    partition_id=f"CAST({_q(self.partition_col)} AS STRING)",
                    row_id=f"CAST({_q(self.id_col)} AS STRING)", column=_lit(",".join(cols)),
                    value=values, reason=_lit(f"key not found in {ref_name} (keyref {r.rule_id})"),
                ))
        return out

    # -------------------------------------------------------------- dataset

    def dataset_violations(self, df: DataFrame, run_id: str) -> list[DataFrame]:
        out: list[DataFrame] = []
        if self._decode_args is not None:
            # the partition column rides through the UDF — joining it back
            # by id afterwards would cost a broadcast + join
            decoded = mm_ops.decode_check(
                df, id_col=self.id_col, passthrough=[self.partition_col], **self._decode_args
            )
            out.append(_exploded(
                decoded, run_id, self._checks[self._n_row:], row_id="image_id",
                partition_id=f"coalesce(CAST({_q(self.partition_col)} AS STRING), '__table__')",
            ))
        for r in self.ruleset.dataset_rules:
            if r.kind in ("drift_ks", "drift_psi"):
                col = r.param("column") or r.column
                threshold = float(r.param("threshold", 0.2))
                if r.kind == "drift_psi":
                    scores = drift_ops.psi(df, col, self.partition_col, bins=int(r.param("bins", 10)))
                    stat_col = "psi"
                else:
                    scores = drift_ops.ks(df, col, self.partition_col)
                    stat_col = "ks"
                out.append(_violation_rows(
                    scores.filter(f"{stat_col} > {_lit(threshold)}"),
                    run_id=_lit(run_id), rule_id=_lit(r.rule_id), severity=_lit(r.severity),
                    partition_id=f"CAST({_q(self.partition_col)} AS STRING)", row_id=_NULL,
                    column=_lit(col), value=f"CAST(round({stat_col}, 6) AS STRING)",
                    reason=_lit(f"{stat_col} drift above {threshold} vs reference"),
                ))
        return out

    # ----------------------------------------------------------------- main

    def validate(
        self,
        df: DataFrame,
        run_id: str = "run0",
        mode: str = "lax",
        secondary: dict[str, DataFrame] | None = None,
        with_stats: bool = True,
    ) -> ValidationResult:
        if mode not in ("strict", "lax", "skip"):
            raise ValueError(f"bad mode {mode!r} (XSD_VALIDATION_MODES, xsdbase.py:24)")
        spark = df.sparkSession

        stats_df = None
        if with_stats or mode == "skip":
            profile_cols = [
                f.name for f in df.schema.fields if f.name != self.partition_col
            ]
            stats_df = stats_ops.profile(df, profile_cols)

        if mode == "skip":
            # skip decodes raw, checks nothing (simple_types.py:334,518-523)
            empty = local_frame(spark, [], VIOLATION_SCHEMA)
            verdicts = self._verdicts(df, empty, run_id, attempted="none")
            return ValidationResult(run_id, empty, verdicts, stats_df, mode)

        if mode == "strict":
            # fail-fast, like validation='strict' raising at the first
            # yield (xsdbase.py:698-701): branches are evaluated in cost
            # order — the cheap row-rule scan first, then the set-level
            # shuffles, then the dataset-level decode UDFs — and each
            # later branch is not even PLAN-BUILT unless every earlier
            # one came back clean. A lazy union + limit(1) would let
            # Spark evaluate the expensive branches before finding a row.
            branch_makers = [
                lambda: [self.row_violations(df, run_id)],
                lambda: self.set_violations(df, run_id, secondary),
                lambda: self.dataset_violations(df, run_id),
            ]
            violations = local_frame(spark, [], VIOLATION_SCHEMA)
            for make in branch_makers:
                hit_found = False
                for branch in make():
                    # deterministic "first": min (rule_id, row_id) within the
                    # first failing branch. A rule table has no document order
                    # (the reference raises at the first error in document
                    # order, xsdbase.py:698-701), so a defined total order is
                    # the distributed analog — the same input always reports
                    # the same violation, which a bare limit(1) does not
                    # guarantee. orderBy+limit compiles to
                    # TakeOrderedAndProject (per-partition top-1, driver
                    # merge), NOT a global sort — same cost shape as limit(1).
                    hit = branch.orderBy("rule_id", "row_id").limit(1).persist()
                    if hit.take(1):
                        violations = hit
                        hit_found = True
                        break
                    hit.unpersist()
                if hit_found:
                    break
            verdicts = self._verdicts(
                df, violations, run_id,
                attempted="partial" if hit_found else "full",
            )
            return ValidationResult(run_id, violations, verdicts, stats_df, mode)

        # violations are consumed at least twice (caller sink + verdict
        # aggregation) — persist so the wide pass / decode UDFs / joins run
        # once. Violations are tiny relative to the input scan, so this
        # holds at 10^12-row scale where recomputing the scan would not.
        violations = self._lax_violations(df, run_id, secondary).persist()
        verdicts = self._verdicts(df, violations, run_id)
        return ValidationResult(run_id, violations, verdicts, stats_df, mode)

    def _lax_violations(
        self, df: DataFrame, run_id: str, secondary: dict[str, DataFrame] | None = None
    ) -> DataFrame:
        """Every violation of lax mode, unpersisted: the union of the row,
        set and dataset branches. A caller with one consumer (the
        checkpoint's table-scoped sink) writes it as is; ``validate``
        persists it for its two."""
        parts = [self.row_violations(df, run_id)]
        parts += self.set_violations(df, run_id, secondary)
        parts += self.dataset_violations(df, run_id)
        violations = parts[0]
        for p in parts[1:]:
            violations = violations.unionByName(p)
        return violations

    # ------------------------------------------------------------- one-pass

    def validate_one_pass(
        self,
        df: DataFrame,
        run_id: str = "run0",
        with_stats: bool = True,
        stats_columns: list[str] | None = None,
        distinct_rsd: float = 0.1,
    ) -> DataFrame:
        """ONE scan + ONE small shuffle: per-partition verdicts with
        per-rule violation counts and (optionally) per-column stats.

        This is the 10^12-row execution shape (SURVEY.md §3.2 "single wide
        pass"): the full `validate()` path prices one scan per rule family
        (fine when the input is cached; ruinous on a 100 TB table). Here:

        1. if decode/phash rules exist, the Arrow decode UDF runs INSIDE
           the scan, passing every rule column through,
        2. every check of the compiled list becomes a 0/1 column,
        3. one ``groupBy(partition)`` with map-side partial aggregation
           emits rows_checked + per-rule counts + column stats.

        Row-level violation DETAIL rows and set-level rules (unique /
        keyref — inherently their own shuffles) remain on ``validate()``;
        verdict semantics here match it exactly (tested).

        Plan cache: every Column of the plan is built once per engine and
        key — the input schema (``df.schema``), the stats column list
        (which ``with_stats`` and ``stats_columns`` decide) and
        ``distinct_rsd`` — and kept on the engine. Every call, the first
        included, then binds the cached Columns to ``df``: one select,
        ``decode_check``'s ``mapInArrow``, one aggregation and the verdict
        projection with ``run_id`` as its one literal. Every PySpark
        Column operation is at least one JVM round trip (several with the
        DataFrame query-context capture on), so rebuilding the Columns on
        every call cost the default image rule set 9,000-10,000 round
        trips; a cached plan binds in about 360.

        The verdict's columns are the verdict fields, then four
        ``<column>__{nulls,min,max,distinct}`` per stats column; the
        ``metrics`` map is keyed by rule id. STRING columns'
        ``__min``/``__max`` stats are order-preserving 7-byte UTF-8
        prefixes (exact prefixes of the true min/max): exact full-string
        min/max needs a variable-width aggregation buffer, which would
        demote this entire one-pass aggregation from a streaming
        HashAggregate to a full-sort SortAggregate. Exact string min/max
        lives in :func:`operators.stats.profile`.
        """
        stats_src = (
            stats_columns or [
                f.name for f in df.schema.fields
                if f.name not in (self.partition_col, "bytes")
            ]
        ) if with_stats else []
        key = (df.schema, tuple(stats_src), distinct_rsd)
        plan = self._one_pass_plans.get(key)
        if plan is None:  # two threads that miss at once both build it: harmless
            plan = self._one_pass_plans[key] = self._one_pass_plan(
                df.schema, stats_src, distinct_rsd
            )
        src = df
        if plan.pre is not None:
            src = mm_ops.decode_check(
                df.select(*plan.pre), id_col=self.id_col,
                passthrough=plan.passthrough, **self._decode_args,
            )
            if self.id_col != "image_id":
                src = src.withColumnRenamed("image_id", self.id_col)
        return src.groupBy(plan.group).agg(*plan.aggs).select(
            F.lit(run_id).alias("run_id"), *plan.out
        )

    def _one_pass_plan(
        self, schema: T.StructType, stats_src: list[str], distinct_rsd: float
    ) -> _OnePassPlan:
        """Every Column :meth:`validate_one_pass` derives for one key."""
        def is_str(c: str) -> bool:
            return isinstance(schema[c].dataType, T.StringType)

        pre = passthrough = None
        decode_str_stats: dict[str, tuple[str, str, str]] = {}
        if self._decode_args is not None:
            # Evaluate every ROW-rule predicate JVM-side BEFORE the Arrow
            # UDF (fused into the scan by codegen) and carry only the 0/1
            # flags through — so the multi-KB ``bytes`` payload crosses
            # into Python exactly once (decode input) and NEVER comes
            # back: at 10^12 rows the Python→JVM Arrow copy of the
            # payload would otherwise double the suite's memory traffic.
            # The same thinking applies to STRING stats columns: instead
            # of round-tripping variable-width strings through Arrow, only
            # their fixed-width stats inputs cross — null flag, 7-byte
            # prefix ordinal (min/max), xxhash64 (HLL hashes its input
            # anyway, so approx_count_distinct over the hash estimates the
            # same cardinality).
            flag_cols = [f"__v{i}" for i in range(self._n_row)]
            derived = {
                fc: _cast(c.bad, "int") for fc, c in zip(flag_cols, self._checks[: self._n_row])
            }
            for i, c in enumerate(c for c in stats_src if c != self.id_col and is_str(c)):
                names = (f"__st{i}_null", f"__st{i}_ord", f"__st{i}_hash")
                derived.update(zip(names, [
                    F.col(c).isNull().cast("int"),
                    stats_ops._string_prefix_ordinal(F.col(c)),
                    F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))),
                ]))
                decode_str_stats[c] = names
            passthrough = [self.partition_col] + flag_cols + [
                c for c in stats_src
                if c != self.id_col and c not in decode_str_stats
            ] + [n for names in decode_str_stats.values() for n in names]
            # exactly decode_check's input columns, so that it reads the
            # projection as is instead of selecting each column by name
            pre = [
                derived[n].alias(n) if n in derived else F.col(n)
                for n in mm_ops._decode_inputs(
                    self.id_col, self._decode_args["check_phash"], passthrough
                )
            ]
            counts = flag_cols + [c.bad for c in self._checks[self._n_row:]]
        else:
            counts = [c.bad for c in self._checks]
        # rule sums under internal aliases: a rule id can neither collide
        # with a stat output nor leak into the verdict's columns
        sums = [f"__r{i}" for i in range(len(self._checks))]
        aggs = [F.expr("count(1) AS rows_checked")]
        aggs += [F.sum(_cast(n, "bigint")).alias(s) for n, s in zip(counts, sums)]

        stat_out: list[Column] = []
        stats = ("nulls", "min", "max", "distinct")
        for c in stats_src:
            names = [f"{c}__{s}" for s in stats]
            if c in decode_str_stats:
                # stats inputs were materialized JVM-side before the
                # Arrow UDF (fixed-width passthrough — see above)
                n_null, n_ord, n_hash = map(F.col, decode_str_stats[c])
                exprs = [F.sum(n_null.cast("long")), F.min(n_ord), F.max(n_ord),
                         F.approx_count_distinct(n_hash, distinct_rsd)]
            elif is_str(c):
                # min/max over a STRING buffer would force the WHOLE
                # one-pass aggregation into SortAggregate (a full sort
                # of the decode output — ruinous at 10^12 rows); the
                # order-preserving prefix ordinal keeps it a streaming
                # HashAggregate. Exact full-string min/max lives in
                # stats.profile (its own agg, DuckDB-oracle-checked).
                ordinal = stats_ops._string_prefix_ordinal(F.col(c))
                exprs = [F.sum(F.col(c).isNull().cast("long")), F.min(ordinal),
                         F.max(ordinal), F.approx_count_distinct(c, distinct_rsd)]
            else:
                exprs = [F.sum(F.col(c).isNull().cast("long")),
                         F.min(F.col(c)).cast("string"), F.max(F.col(c)).cast("string"),
                         F.approx_count_distinct(c, distinct_rsd)]
            aggs += [e.alias(n) for e, n in zip(exprs, names)]
            # decode string-prefix ordinals back to readable prefixes
            # (trailing zero-pad bytes stripped) after the aggregation
            stat_out += [
                stats_ops._string_prefix_decode(F.col(n)).alias(n)
                if is_str(c) and s in ("min", "max") else F.col(n)
                for n, s in zip(names, stats)
            ]

        metrics = (
            f"map_from_arrays(array({', '.join(_lit(c.rule.rule_id) for c in self._checks)}), "
            f"array({', '.join(f'CAST({s} AS STRING)' for s in sums)}))"
        ) if sums else "map()"
        return _OnePassPlan(
            pre, passthrough,
            F.expr(f"CAST({_q(self.partition_col)} AS STRING) AS partition_id"),
            aggs,
            [*map(F.expr, _verdict_cols(
                _error_total(zip(self._checks, sums)), "rows_checked", metrics, "full",
            )), *stat_out],
        )

    def _verdicts(
        self, df: DataFrame, violations: DataFrame, run_id: str,
        attempted: str = "full",
    ) -> DataFrame:
        """Per-partition PASS/FAIL + counts + the PSVI validity triple.
        Table-scoped violations (partition_id='__table__') fail every
        partition's verdict? No — they get their own '__table__' verdict
        row, mirroring how the reference attaches errors to the scope that
        declared the constraint (elements.py:546-551). The error counts
        come from the violation rows, because set- and drift-level
        violations have no row projection to sum."""
        rows = df.groupBy(
            F.expr(f"CAST({_q(self.partition_col)} AS STRING) AS partition_id")
        ).agg(F.expr("count(1) AS rows_checked"))
        vcounts = violations.filter("severity = 'error'").groupBy("partition_id").agg(
            F.expr("count(1) AS violation_count"), F.expr("count(DISTINCT rule_id) AS rules_failed")
        )
        return rows.join(vcounts, "partition_id", "full").selectExpr(
            f"{_lit(run_id)} AS run_id",
            *_verdict_cols(
                "coalesce(violation_count, 0)", "coalesce(rows_checked, 0)",
                "map('rules_failed', CAST(coalesce(rules_failed, 0) AS STRING))", attempted,
            ),
        )
