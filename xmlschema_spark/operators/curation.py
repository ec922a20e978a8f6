"""Dataset-curation operators for large-scale training-data pipelines:
deterministic sampling, stratified quota sampling, PII detection and
redaction, repetition/boilerplate quality signals (the Gopher-style
rules), benchmark decontamination, and event sessionization.

No direct reference analog — these generalize the reference's
document-level validation stance (xmlschema validators emit per-document
verdicts, validators.py) to corpus-level curation decisions. Everything
here is pure Spark SQL expressions (whole-stage codegen, no Python in the
hot path) and every operator is shuffle-conscious:

- sampling is a stateless filter on a deterministic hash — no shuffle at
  all, reproducible across runs/engines (md5, not rand()).
- stratified sampling is ONE hash-partition window per stratum —
  sort-based, spill-safe; at 10^12 rows a hot stratum ("en") makes a big
  partition, so callers quota-sample AFTER a cheap hash_sample pre-cut
  (documented below) or bucket by (stratum, salt).
- repetition features explode tokens but partial-aggregate on
  (doc, token) BEFORE the shuffle: the exchange carries at most the
  per-doc distinct-token counts, not the raw token stream.
- decontamination broadcasts the (small) benchmark shingle set — the
  10^12-row training side never shuffles.
- sessionization is ONE window per user by default; ``split_by`` turns on
  the implemented hot-user scale path (window within (user, time bucket),
  stitch boundary sessions over the tiny per-bucket summary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xmlschema_spark.operators.checks import _event_us
from xmlschema_spark.operators.dedup import normalize_text, shingles
from xmlschema_spark.operators.text import tokens

# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

_HEX_DIGITS = 8  # compare the first 8 md5 hex chars: 32-bit resolution


def sample_hash(col, salt: str = "sample"):
    """The deterministic sample key: md5 hex of ``salt:value``. Lowercase
    hex in both Spark and DuckDB/Trino/Presto, so a sample drawn here is
    reproducible by ANY engine — unlike ``rand()``, which is seed- and
    partitioning-dependent."""
    return F.md5(F.concat(F.lit(salt + ":"), col.cast("string")))


def hash_sample(df: DataFrame, id_col: str, rate: float, salt: str = "sample") -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose md5(salt:id) hex
    prefix falls below ``rate`` of the 32-bit hex space. A pure filter —
    NO shuffle, NO state — so it composes with any scan and pushes work
    to zero for the dropped rows. Changing ``salt`` draws an independent
    sample; the same (salt, rate) always selects the same rows, which is
    what makes held-out splits and ablation re-runs reproducible at
    10^12 rows."""
    if not (0.0 <= rate <= 1.0):
        raise ValueError(f"rate must be in [0,1], got {rate}")
    threshold = format(int(rate * (1 << (4 * _HEX_DIGITS))), f"0{_HEX_DIGITS}x")
    return df.filter(
        F.substring(sample_hash(F.col(id_col), salt), 1, _HEX_DIGITS) < F.lit(threshold)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str,
    salt: str = "strata",
) -> DataFrame:
    """Quota sampling: the ``n_per_stratum`` rows with the smallest
    deterministic hash per stratum — the standard language/source
    balancing step of an LLM data mix. ONE hash-partition window
    (sort-based, spill-safe), deterministic across engines.

    Scale note: a hot stratum is one window partition; at extreme sizes
    pre-cut with :func:`hash_sample` at a rate that leaves ~10x the quota,
    then quota-sample the survivors — the pre-cut is shuffle-free so the
    combined cost is one small window."""
    w = Window.partitionBy(strata_col).orderBy(
        sample_hash(F.col(id_col), salt), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# deliberately restricted to the regex dialect subset shared by Java
# (Spark codegen) and RE2 (DuckDB/Go tooling): no backrefs, no lookaround,
# so the SAME pattern string validates and redacts in every engine.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3}[- ][0-9]{4}",
    "ipv4": r"([0-9]{1,3}\.){3}[0-9]{1,3}",
}


def pii_features(
    df: DataFrame, text_col: str, id_col: str, with_redacted_len: bool = False
) -> DataFrame:
    """Per-doc PII match counts + a has_pii verdict. Row-local regex
    counting (``regexp_count`` — JVM codegen), no shuffle; fuses into the
    same wide pass as the facet rules, exactly like the reference fuses
    its pattern facets into one validator walk (facets.py pattern
    handling). ``with_redacted_len=True`` adds ``n_chars_redacted`` in
    the SAME projection — one scan instead of a detect-branch +
    redact-branch join."""
    c = F.col(text_col)
    cols = [F.col(id_col)]
    total = F.lit(0)
    for name, pat in PII_PATTERNS.items():
        cnt = F.when(c.isNull(), F.lit(0)).otherwise(F.regexp_count(c, F.lit(pat)))
        cols.append(cnt.alias(f"n_{name}"))
        total = total + cnt
    cols.append((total > 0).alias("has_pii"))
    if with_redacted_len:
        red = c
        for name, pat in PII_PATTERNS.items():
            red = F.regexp_replace(red, pat, f"<{name.upper()}>")
        cols.append(F.length(red).alias("n_chars_redacted"))
    return df.select(*cols)


def redact_pii(df: DataFrame, text_col: str, out_col: str = "redacted") -> DataFrame:
    """Replace every PII match with a typed placeholder (``<EMAIL>``
    etc.) — the standard pre-training scrub. Pure regexp_replace chain,
    whole-stage codegen, no shuffle. Longest-pattern-first order is
    irrelevant here because the three pattern families can't overlap."""
    out = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return df.withColumn(out_col, out)


# ---------------------------------------------------------------------------
# repetition / boilerplate quality signals
# ---------------------------------------------------------------------------

def repetition_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition signals per doc:

    - ``dup_token_ratio``   = 1 - distinct_tokens / n_tokens
    - ``top_token_ratio``   = most_frequent_token_count / n_tokens
    - ``dup_2gram_ratio``   = 1 - distinct_2grams / n_2grams

    Plan shape: explode tokens (and 2-grams), partial-aggregate on
    (doc, gram) map-side — the exchange carries per-doc DISTINCT gram
    counts, not the raw token stream — then one final per-doc agg. Both
    gram lengths run the same two-level agg and meet in a per-doc join
    that AQE plans as a local join of two small keyed sides. Linear in
    corpus size, no O(len²) per-row array scans (an
    ``array_max(transform(...count...))`` form would be quadratic per
    doc and dies on long documents)."""
    tok = df.select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks"))
    uni = (
        tok.select("__id", F.explode("__toks").alias("__g"))
        .groupBy("__id", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__id")
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.max("__c").alias("__top"),
        )
    )
    n2 = F.size(F.col("__toks")) - 1
    grams2 = F.when(
        n2 >= 1,
        F.zip_with(
            F.slice(F.col("__toks"), F.lit(1), n2),
            F.slice(F.col("__toks"), F.lit(2), n2),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        tok.select("__id", F.explode(grams2).alias("__g"))
        .groupBy("__id", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__id")
        .agg(F.sum("__c").alias("n_2grams"), F.count(F.lit(1)).alias("n_distinct_2grams"))
    )
    safe_t = F.greatest(F.col("n_tokens"), F.lit(1))
    safe_b = F.greatest(F.coalesce(F.col("n_2grams"), F.lit(0)), F.lit(1))
    return (
        uni.join(bi, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            "n_distinct_tokens",
            F.round(1 - F.col("n_distinct_tokens") / safe_t, 6).alias("dup_token_ratio"),
            F.round(F.col("__top") / safe_t, 6).alias("top_token_ratio"),
            F.coalesce(F.col("n_2grams"), F.lit(0)).alias("n_2grams"),
            F.when(F.coalesce(F.col("n_2grams"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(1 - F.coalesce(F.col("n_distinct_2grams"), F.lit(0)) / safe_b, 6)
            )
            .alias("dup_2gram_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def contaminated_docs(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= 1 word
    ``k``-shingle with the evaluation set (the GPT-3/PaLM n-gram-overlap
    rule). Returns (id, n_hit_shingles) per contaminated doc.

    Plan shape for 10^12 training rows: the eval side — benchmarks are
    thousands of docs, not billions — collapses to DISTINCT shingle
    hashes and is broadcast; the training side explodes shingles and
    probes the broadcast hash map (BroadcastHashJoin, inner), then one
    partial-agg count per doc. The training corpus is never shuffled
    full-width; only (id, count) pairs reach the exchange. Hashes are
    md5 so the check is engine-portable."""
    ev = (
        eval_df.select(F.explode(shingles(F.col(text_col), k)).alias("__s"))
        .select(F.md5("__s").alias("__h"))
        .distinct()
    )
    tr = train_df.select(
        F.col(id_col).alias("__id"), F.explode(shingles(F.col(text_col), k)).alias("__s")
    ).select("__id", F.md5("__s").alias("__h"))
    return (
        tr.join(F.broadcast(ev), "__h")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
        .select(F.col("__id").alias(id_col), "n_hit_shingles")
    )


def drop_contaminated(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """The pipeline-facing form: training rows with every eval
    ``k``-shingle removed — a broadcast left-anti join against
    :func:`contaminated_docs`' id set, original schema preserved."""
    bad = contaminated_docs(train_df, eval_df, text_col, id_col, k).select(id_col)
    return train_df.join(F.broadcast(bad), id_col, "left_anti")


# ---------------------------------------------------------------------------
# event sessionization
# ---------------------------------------------------------------------------

def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_sec: int = 1800,
    tiebreak_col: str | None = None,
    split_by: str | None = None,
) -> DataFrame:
    """Assign a per-user session index: a new session starts whenever the
    gap since the user's previous event exceeds ``gap_sec`` (the classic
    30-minute web-session rule; also the batch analog of Structured
    Streaming's ``session_window``). Adds ``session_idx`` (1-based per
    user).

    Default plan: ONE window per user (lag + running sum share the same
    sort), so one shuffle on ``user_col``. Hot-user skew is real at
    10^12 events — window partitions can't be salted without breaking
    the running sum — so pass ``split_by`` ("day", "hour", … any
    ``date_trunc`` unit) for the scale path: windows run within
    (user, time-bucket) so a hot user becomes many bounded partitions,
    and sessions that straddle bucket boundaries are stitched in a
    second pass over the tiny per-(user, bucket) summary (one row per
    user-bucket carrying first/last timestamp and local session count —
    |users|x|buckets| rows, orders of magnitude below the event count).
    Both paths produce IDENTICAL session_idx values (golden-tested on
    boundary-straddling fixtures, tests/test_curation.py)."""
    if split_by is not None:
        return _sessionize_split(df, user_col, ts_col, gap_sec, tiebreak_col, split_by)
    # microsecond-exact gap arithmetic: second-floored timestamps
    # (unix_timestamp) mis-place events whose true gap straddles the
    # threshold by < 1 s, and different engines round vs floor — exact
    # integer µs removes the ambiguity entirely. ``_event_us`` lifts
    # TIMESTAMP_NTZ (how pandas-written parquet reads) to TIMESTAMP under
    # the session tz (UTC) and reads an event time that does not parse as
    # NULL; events are ordered by that parsed value, not the raw column.
    us = _event_us(ts_col)
    order = [us]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(user_col).orderBy(*order)
    prev = F.lag(us).over(w)
    new_s = F.when(prev.isNull() | ((us - prev) > gap_sec * 1_000_000), 1).otherwise(0)
    return df.withColumn(
        "session_idx",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def _sessionize_split(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_sec: int,
    tiebreak_col: str | None,
    split_by: str,
) -> DataFrame:
    """The hot-user scale path of :func:`sessionize`: window within
    (user, date_trunc(split_by, ts)) so no window partition outgrows one
    time bucket of one user, then stitch boundary-crossing sessions.

    Stitch correctness: within a user, every event of bucket b precedes
    every event of bucket b+1 (the bucket IS a ts prefix), so the only
    possible cross-bucket merge is between the LAST local session of the
    previous non-empty bucket and the FIRST local session of the current
    one — consecutive events for that user. The per-bucket summary
    (first/last event µs, local session count) decides each boundary
    with the same ``> gap`` rule, and the global index is
    ``offset + local_idx`` where ``offset`` = sessions in all prior
    buckets minus boundary merges so far (a merge means the current
    bucket's session 1 IS the previous bucket's last session). Empty
    calendar buckets need no special case — lag() skips to the previous
    bucket that has events, and the gap test fails naturally.

    Cost: the event-side work is two exchanges on (user, bucket) — the
    local window and the summary agg share the first under AQE — plus a
    join against the summary (thin; Spark broadcasts it when it fits).
    """
    gap_us = gap_sec * 1_000_000
    us = _event_us(ts_col)
    order = [us]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(user_col, "__split").orderBy(*order)
    prev = F.lag(us).over(w)
    new_s = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    local = df.withColumn(
        "__split", F.date_trunc(split_by, F.timestamp_micros(us))
    ).withColumn(
        "__local_idx",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    summary = local.groupBy(user_col, "__split").agg(
        F.min(us).alias("__first_us"),
        F.max(us).alias("__last_us"),
        F.max("__local_idx").alias("__n_local"),
    )
    wu = Window.partitionBy(user_col).orderBy("__split")
    merged = summary.withColumn(
        "__prev_last", F.lag("__last_us").over(wu)
    ).withColumn(
        "__merge",
        F.when(
            F.col("__prev_last").isNotNull()
            & ((F.col("__first_us") - F.col("__prev_last")) <= gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    offsets = merged.select(
        user_col,
        "__split",
        (
            F.coalesce(
                F.sum("__n_local").over(wu.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            - F.sum("__merge").over(
                wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).alias("__offset"),
    )
    return (
        local.join(offsets, [user_col, "__split"])
        .withColumn("session_idx", F.col("__offset") + F.col("__local_idx"))
        .drop("__split", "__local_idx", "__offset")
    )


def session_stats(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_sec: int = 1800,
    tiebreak_col: str | None = None,
    split_by: str | None = None,
) -> DataFrame:
    """Per-session rollup over :func:`sessionize`: event count, start,
    duration. The groupBy reuses the window's hash partitioning on
    ``user_col`` (no second full exchange under AQE). ``split_by``
    selects sessionize's hot-user scale path; the rollup is identical."""
    s = sessionize(df, user_col, ts_col, gap_sec, tiebreak_col, split_by)
    us = _event_us(ts_col)
    return s.groupBy(user_col, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.timestamp_micros(F.min(us)), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.floor((F.max(us) - F.min(us)) / 1_000_000).alias("duration_sec"),
    )


# ---------------------------------------------------------------------------
# domain capping / quality-aware group limits
# ---------------------------------------------------------------------------

def cap_per_group(
    df: DataFrame,
    group_col: str,
    max_rows: int,
    id_col: str,
    score_col: str | None = None,
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group — the domain-capping step
    of a web corpus (no single site/source may dominate the mix). With
    ``score_col`` the cap keeps the HIGHEST-scoring rows (quality-aware:
    longest, best classifier score, …); without it the cap keeps a
    uniform deterministic-hash sample (the :func:`stratified_sample`
    ordering), so repeated runs and other engines agree row-for-row.

    ONE window per group (sort-based, spill-safe) — same shape and same
    hot-group caveat as :func:`stratified_sample`: a monster domain is
    one window partition, so at extreme sizes pre-cut the group with
    :func:`hash_sample` to ~10x the cap first; the pre-cut is a
    shuffle-free filter, and quality ordering among survivors is
    preserved in distribution."""
    if max_rows <= 0:
        raise ValueError(f"max_rows must be > 0, got {max_rows}")
    if score_col is not None:
        order = [F.desc(score_col), F.col(id_col)]
    else:
        order = [sample_hash(F.col(id_col), salt), F.col(id_col)]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_rows)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# incremental ingest: dedup a new batch against the historical corpus
# ---------------------------------------------------------------------------

def novel_docs(
    batch: DataFrame, corpus: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Batch rows whose normalized content hash does NOT already appear
    in the historical corpus — exact dedup in its incremental-ingest
    form (every crawl snapshot is validated against everything already
    accepted; the reference's ID-registry analog is the document-scoped
    ``id_map`` that rejects re-declared IDs, simple_types.py:508-516,
    lifted to cross-run scope).

    Plan shape: the corpus side collapses to DISTINCT hashes BEFORE the
    join — the anti-join's build side is bounded by distinct content,
    not corpus rows, and carries one 32-char hash column instead of
    documents. Spark picks BHJ when that digest is broadcastable and
    falls back to a shuffled SMJ otherwise; under AQE the anti-join also
    injects a runtime bloom filter on the batch scan, so most duplicate
    rows die at the scan. The hash is md5 of the collapse-normalized
    text (dedup.normalize_text), identical in DuckDB, so the whole
    operator is oracle-expressible.

    Note: duplicates WITHIN the batch are kept (both copies are novel
    w.r.t. the corpus); chain :func:`~xmlschema_spark.operators.dedup.
    drop_exact_duplicates` after if first-copy-only semantics are
    wanted."""
    h = F.md5(normalize_text(F.col(text_col)))
    seen = corpus.select(h.alias("__h")).distinct()
    return (
        batch.withColumn("__h", h)
        .join(seen, "__h", "left_anti")
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# token-budget mixture sampling
# ---------------------------------------------------------------------------

def token_budget_sample(
    df: DataFrame,
    bucket_col: str,
    budget_tokens: int,
    id_col: str,
    text_col: str,
    salt: str = "budget",
) -> DataFrame:
    """Fill each bucket (language, source, domain tier …) up to a TOKEN
    budget instead of a row quota — how an actual training mix is
    specified ("30B tokens of code, 5B of wiki"). Greedy deterministic
    fill: docs are taken in hash order (uniform, engine-reproducible)
    until the budget is reached; the doc that crosses the line is KEPT
    (budgets are floors in mix specs — every bucket with enough supply
    reaches >= budget, and by at most one doc's overshoot).

    Keep rule: a doc stays iff the cumulative token count of all docs
    BEFORE it (hash order) is still under budget — so the first doc of a
    bucket always survives, even alone over budget.

    ONE window per bucket carrying a single running sum over an int
    column (the token counts are computed in the same projection — no
    pre-agg pass, no join). Buckets are few by construction (mix specs
    name dozens of buckets, not millions), so per-bucket sort skew is
    the same documented concern as :func:`stratified_sample`'s, with the
    same pre-cut remedy.

    ``n_tokens`` and ``cum_before`` are RESERVED output columns — the
    call raises if the input already has either, rather than silently
    overwriting caller data (the same stance the ``__``-prefixed
    temporaries take elsewhere, made explicit here because these two are
    part of the output contract)."""
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
    clash = {"n_tokens", "cum_before"} & set(df.columns)
    if clash:
        raise ValueError(
            f"input already has reserved output column(s) {sorted(clash)}; "
            "rename them before token_budget_sample"
        )
    w = Window.partitionBy(bucket_col).orderBy(
        sample_hash(F.col(id_col), salt), F.col(id_col)
    )
    ntok = F.size(tokens(F.col(text_col)))
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return (
        df.withColumn("n_tokens", ntok)
        .withColumn("cum_before", cum_before)
        .filter(F.col("cum_before") < budget_tokens)
    )


# ---------------------------------------------------------------------------
# quality-proportional (weighted) sampling
# ---------------------------------------------------------------------------

def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, salt: str = "wsample"
) -> DataFrame:
    """Deterministic weighted Bernoulli sample: keep each row with
    probability ``clamp(weight, 0, 1)`` — the soft quality gate of
    modern corpus pipelines (keep high-scoring docs almost surely, let
    low-scoring ones survive occasionally, preserving diversity that a
    hard score cutoff destroys).

    The coin is the SAME md5 hash family as :func:`hash_sample` — a
    pure, shuffle-free filter whose decision any engine reproduces from
    (salt, id, weight): the row's 32-bit hash prefix must fall under
    floor(weight * 2^32), compared as fixed-width lowercase hex so both
    Spark and DuckDB stay in string space (no unsigned-hex-to-int cast
    needed anywhere). weight >= 1 keeps unconditionally, <= 0 drops.
    NULL weights drop (no silent keep on missing scores)."""
    w = F.col(weight_col)
    thresh = F.lower(
        F.lpad(F.hex(F.floor(w * F.lit(float(1 << 32))).cast("bigint")), 8, "0")
    )
    keep = F.when(w >= 1.0, F.lit(True)).otherwise(
        (w > 0.0)
        & (F.substring(sample_hash(F.col(id_col), salt), 1, _HEX_DIGITS) < thresh)
    )
    return df.filter(keep)
