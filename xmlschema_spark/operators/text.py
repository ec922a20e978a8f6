"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting.

All JVM-side Spark SQL expressions (regex + array built-ins) — no Python
in the hot path — so the whole set fuses into the same wide pass as the
facet rules when used as assertion/gate inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xmlschema_spark.compiler import local_frame
from xmlschema_spark.rules import register_rule_kind

# tiny per-language stopword lists for the n-gram/stopword-ratio heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "por"],
}


def tokens(col) -> Column:
    """Whitespace+punct tokenization (the BPE-ish regex split)."""
    return F.filter(
        F.split(F.lower(col), r"[^\p{L}\p{N}']+"), lambda t: F.length(t) > 0
    )


def token_count(col) -> Column:
    return F.size(tokens(col))


def stopword_hits(col, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.array_intersect(tokens(col), F.array(*[F.lit(w) for w in words])))


def detect_language(col) -> Column:
    """Heuristic language ID: the language whose stopword list overlaps the
    token set most; non-Latin scripts (e.g. zh) detected by script range
    first. Returns a language code or 'und'."""
    tok = tokens(col)
    scores = [
        (lang, F.size(F.array_intersect(tok, F.array(*[F.lit(w) for w in ws]))))
        for lang, ws in STOPWORDS.items()
    ]
    best = None
    best_score = None
    for lang, s in scores:
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    has_cjk = col.rlike("[\\u4e00-\\u9fff]")
    return (
        F.when(col.isNull(), F.lit(None))
        .when(has_cjk, F.lit("zh"))
        .when(best_score > 0, best)
        .otherwise(F.lit("und"))
    )


# --------------------------------------------------------------------------
# char-trigram language ID (the production path; detect_language above is
# the cheap stopword heuristic kept for single-expression use in rules)
# --------------------------------------------------------------------------

# Seed samples for the trigram profiles: short original paragraphs of
# ordinary prose per language, written for this module (function words
# carry the trigram signal, so generic text is exactly what the profile
# needs). ~100 words each so the per-language trigram totals are
# comparable.
_LANG_SAMPLES = {
    "en": (
        "the house stands at the end of the road and the garden behind it "
        "was full of flowers in the summer when the children were young "
        "they would play there for hours and their mother would call them "
        "in for dinner when the light began to fade it was a quiet place "
        "and the people who lived there knew each other well in the "
        "morning the baker opened his shop and the smell of fresh bread "
        "drifted through the streets everyone agreed that it was a good "
        "place to live and that the years had been kind to them all"
    ),
    "de": (
        "das haus steht am ende der strasse und der garten dahinter war im "
        "sommer voller blumen als die kinder klein waren spielten sie dort "
        "stundenlang und ihre mutter rief sie zum abendessen wenn das licht "
        "schwand es war ein ruhiger ort und die menschen die dort wohnten "
        "kannten einander gut am morgen öffnete der bäcker seinen laden und "
        "der duft von frischem brot zog durch die gassen alle waren sich "
        "einig dass es ein guter ort zum leben war und dass die jahre gut "
        "zu ihnen gewesen waren"
    ),
    "fr": (
        "la maison se trouve au bout de la rue et le jardin derrière elle "
        "était plein de fleurs en été quand les enfants étaient petits ils "
        "y jouaient pendant des heures et leur mère les appelait pour le "
        "dîner quand la lumière commençait à baisser c était un endroit "
        "calme et les gens qui y vivaient se connaissaient bien le matin "
        "le boulanger ouvrait sa boutique et l odeur du pain frais "
        "flottait dans les rues tout le monde disait que c était un bon "
        "endroit pour vivre et que les années avaient été douces"
    ),
    "es": (
        "la casa está al final de la calle y el jardín detrás de ella "
        "estaba lleno de flores en verano cuando los niños eran pequeños "
        "jugaban allí durante horas y su madre los llamaba para cenar "
        "cuando la luz empezaba a caer era un lugar tranquilo y la gente "
        "que vivía allí se conocía bien por la mañana el panadero abría "
        "su tienda y el olor del pan fresco llenaba las calles todos "
        "decían que era un buen lugar para vivir y que los años habían "
        "sido amables con ellos"
    ),
    "it": (
        "la casa si trova alla fine della strada e il giardino dietro di "
        "essa era pieno di fiori in estate quando i bambini erano piccoli "
        "giocavano lì per ore e la loro madre li chiamava per la cena "
        "quando la luce cominciava a calare era un posto tranquillo e le "
        "persone che ci vivevano si conoscevano bene la mattina il "
        "fornaio apriva il suo negozio e il profumo del pane fresco "
        "riempiva le vie tutti dicevano che era un buon posto dove vivere "
        "e che gli anni erano stati gentili"
    ),
    "pt": (
        "a casa fica no fim da rua e o jardim atrás dela estava cheio de "
        "flores no verão quando as crianças eram pequenas brincavam ali "
        "durante horas e a mãe delas as chamava para o jantar quando a "
        "luz começava a cair era um lugar tranquilo e as pessoas que "
        "viviam ali conheciam se bem de manhã o padeiro abria a sua loja "
        "e o cheiro do pão fresco enchia as ruas todos diziam que era um "
        "bom lugar para viver e que os anos tinham sido bons para eles"
    ),
}

_CJK_RANGE = "[一-鿿]"


def _normalize_trigram_py(s: str) -> str:
    """Python mirror of the engines' normalization: lowercase, every
    non-letter run → one space, trimmed, space-padded. Only used to BUILD
    the profile literals — scoring normalization runs in Spark/DuckDB."""
    import re as _re

    out = "".join(ch if ch.isalpha() else " " for ch in s.lower())
    out = _re.sub(r"\s+", " ", out).strip()
    return f" {out} " if out else ""


_WEIGHTS_SCHEMA = T.StructType().add("lang", "string").add("tri", "string").add("bonus", "long")


def build_trigram_profiles(
    top_k: int = 200, alpha: float = 0.5, scale: int = 1000,
) -> tuple[dict[str, int], list[tuple[str, str, int]]]:
    """Deterministic integer trigram profiles from the embedded samples.

    Per language: add-α trigram log-probs over the sample,
    ``logp(t) = ln((c(t)+α)/(N+α·V))`` with V = the cross-language
    distinct-trigram vocabulary, quantized to integers at ``scale`` so
    downstream scoring is EXACT in any engine:

    - ``bases[lang]``   = round(scale·floor) where floor = unseen-trigram logp
    - ``weights``       = (lang, trigram, bonus) for the ``top_k`` trigrams
      by count (ties lexicographic), bonus = round(scale·logp) − base ≥ 0

    A document's score under ``lang`` is then
    ``n_trigrams·base + Σ_hits bonus`` — integer multinomial NB with the
    same smoothing family as :func:`ngram_lm_score`."""
    from collections import Counter
    from math import log

    counts = {}
    for lang, sample in _LANG_SAMPLES.items():
        norm = _normalize_trigram_py(sample)
        counts[lang] = Counter(norm[i: i + 3] for i in range(len(norm) - 2))
    vocab = len({t for c in counts.values() for t in c})
    bases: dict[str, int] = {}
    weights: list[tuple[str, str, int]] = []
    for lang in sorted(counts):
        c = counts[lang]
        n = sum(c.values())
        denom = n + alpha * vocab
        base = round(scale * log(alpha / denom))
        bases[lang] = base
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        for tri, cnt in top:
            weights.append((lang, tri, round(scale * log((cnt + alpha) / denom)) - base))
    return bases, weights


def _trigram_norm_col(col) -> Column:
    """The engines' normalization as a Catalyst expression (mirrored
    verbatim by the DuckDB oracle): lowercase, non-letter runs → one
    space, trim, pad with one space each side; empty → empty."""
    squeezed = F.trim(F.regexp_replace(F.lower(col), r"[^\p{L}]+", " "))
    return F.when(squeezed == "", F.lit("")).otherwise(
        F.concat(F.lit(" "), squeezed, F.lit(" "))
    )


def detect_language_trigram(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_k: int = 200,
    alpha: float = 0.5,
    scale: int = 1000,
) -> DataFrame:
    """Char-trigram language identification — the production path that
    replaces the stopword heuristic (:func:`detect_language`): a
    broadcast per-language trigram-profile dim table scored JVM-side,
    the same pre-aggregated-model join shape as :func:`ngram_lm_score`.

    Output: one row per input doc — id, ``lang_pred``, ``n_trigrams``,
    ``score`` (the winning language's integer NB score; NULL for docs
    with no trigrams or the CJK fast path). Decision rule: CJK
    codepoints → ``zh`` (script range beats any trigram evidence); no
    trigrams → ``und``; NULL text → NULL; else argmax over the profile
    languages, ties to the lexicographically smallest code — fully
    deterministic, integer-exact, oracle-replayable.

    Plan at 10^12 docs: normalization + trigram explode is one codegen
    projection + Generate (linear in corpus chars); the profile join is
    a ~len(langs)·top_k-row BROADCAST dim; then exactly ONE row-scale
    aggregation (a per-doc pivot to len(langs) bonus-sum columns, with
    map-side partials collapsing the explode) and ONE join back to the
    doc spine — the argmax is a ``greatest()`` over len(langs) structs
    ordered (score, lang-rank), pure codegen, so there is no per-doc
    window and no doc×lang grid anywhere. No driver data beyond the
    profile literals, no UDFs."""
    bases, weights = build_trigram_profiles(top_k=top_k, alpha=alpha, scale=scale)
    langs = sorted(bases)
    spark = df.sparkSession
    wdf = F.broadcast(local_frame(spark, weights, _WEIGHTS_SCHEMA))

    c = F.col(text_col)
    norm = _trigram_norm_col(c)
    base = df.select(
        F.col(id_col).alias("__id"),
        c.isNull().alias("__isnull"),
        c.rlike(_CJK_RANGE).alias("__cjk"),
        norm.alias("__norm"),
    ).withColumn(
        "__ntri",
        F.greatest(F.length("__norm") - 2, F.lit(0)).cast("long"),
    )
    elig = base.filter(~F.col("__isnull") & ~F.col("__cjk") & (F.col("__ntri") > 0))

    tris = elig.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("__ntri").cast("int")),
                lambda i: F.col("__norm").substr(i, F.lit(3)),
            )
        ).alias("tri"),
    )
    # one shuffle: per-doc bonus sums pivoted to a fixed column per
    # language (values pinned -> no discovery job); docs whose trigrams
    # hit no profile at all simply miss from the pivot and coalesce to 0
    hits = (
        tris.join(wdf, "tri")
        .groupBy("__id")
        .pivot("lang", langs)
        .sum("bonus")
    )
    # argmax via greatest() over (score, lang-rank, lang) structs: struct
    # comparison is field-order lexicographic, and rank descends in lang
    # order so a score tie picks the lexicographically SMALLEST code
    cands = [
        F.struct(
            (
                F.col("__ntri") * F.lit(bases[lang])
                + F.coalesce(F.col(f"`{lang}`"), F.lit(0))
            ).alias("s"),
            F.lit(len(langs) - 1 - i).alias("o"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    best = F.greatest(*cands)
    return (
        base.join(hits, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.when(F.col("__isnull"), F.lit(None).cast("string"))
            .when(F.col("__cjk"), F.lit("zh"))
            .when(F.col("__ntri") == 0, F.lit("und"))
            .otherwise(best["lang"])
            .alias("lang_pred"),
            F.col("__ntri").alias("n_trigrams"),
            F.when(
                ~F.col("__isnull") & ~F.col("__cjk") & (F.col("__ntri") > 0),
                best["s"],
            ).alias("score"),
        )
    )


def _lang_rule_ok(rule):
    """Compile fn for the registered ``lang_expected`` rule kind — the
    declarative caption-language gate (e.g. "captions must be English"
    on the image+caption table): True ⇔ :func:`detect_language`'s
    single-expression stopword+script heuristic puts the text in one of
    ``params.langs`` (include ``'und'`` to accept undetermined text).
    NULL text passes — ``not_null`` owns missingness.

    This is deliberately the HEURISTIC: a row rule must compile to one
    boolean Column inside the wide pass. For corpus-grade identification
    run :func:`detect_language_trigram` as a set-level pass and gate on
    its ``lang_pred`` output."""
    langs = (rule.params or {}).get("langs")
    if not langs or not isinstance(langs, (list, tuple)):
        from xmlschema_spark.rules import RuleCompileError

        raise RuleCompileError(
            f"{rule.rule_id}: lang_expected needs params.langs (a list of codes)"
        )
    c = F.col(rule.column)
    return c.isNull() | detect_language(c).isin([str(x) for x in langs])


def _lang_rule_reason(rule) -> str:
    langs = (rule.params or {}).get("langs", [])
    return f"text language not in expected set {sorted(str(x) for x in langs)}"


register_rule_kind("lang_expected", _lang_rule_ok, _lang_rule_reason)


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc quality signals: lengths, token stats, punctuation/digit/
    uppercase ratios, mean word length, stopword ratio (en)."""
    c = F.col(text_col)
    n_chars = F.length(c)
    tok = tokens(c)
    n_tokens = F.size(tok)
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_toks = F.greatest(n_tokens, F.lit(1))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[\p{Punct}]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(c, r"[0-9]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(c, r"[A-Z]", ""))
    mean_word_len = F.aggregate(
        tok, F.lit(0), lambda acc, t: acc + F.length(t)
    ) / safe_toks
    stop_ratio = stopword_hits(c, "en") / safe_toks
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (n_punct / safe_chars).alias("punct_ratio"),
        (n_digit / safe_chars).alias("digit_ratio"),
        (n_upper / safe_chars).alias("upper_ratio"),
        mean_word_len.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Composite [0,1] quality score from the features — a simple
    monotone rubric (long enough, not punct/digit-heavy, plausible word
    lengths)."""
    feats = quality_features(df, text_col, id_col)
    score = (
        F.least(F.col("n_tokens") / 20.0, F.lit(1.0)) * 0.4
        + (1 - F.least(F.col("punct_ratio") * 4, F.lit(1.0))) * 0.2
        + (1 - F.least(F.col("digit_ratio") * 4, F.lit(1.0))) * 0.2
        + F.when((F.col("mean_word_len") >= 2) & (F.col("mean_word_len") <= 12), 0.2)
        .otherwise(0.0)
    )
    return feats.withColumn("quality_score", F.round(score, 6))


def _shingles(col) -> Column:
    """The distinct word 3-shingles of ``col`` (lower-cased, split on
    non-alphanumerics); a text of fewer than 3 words is one shingle."""
    words = F.filter(F.split(F.lower(col), r"[^\p{L}\p{N}]+"), lambda t: F.length(t) > 0)
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - 3, F.lit(0)))
    return F.when(
        n >= 3,
        F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)))),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def fingerprint(col, k: int = 8) -> Column:
    """Order-insensitive document fingerprint: xxhash64 over the k
    lexicographically-smallest word 3-shingles (a rolling-hash winnowing
    analog, fully JVM-side). Equal fingerprints ⇒ near-identical content."""
    smallest = F.slice(F.array_sort(F.transform(_shingles(col), lambda s: F.xxhash64(s))), 1, k)
    return F.xxhash64(F.concat_ws(",", F.transform(smallest, lambda h: h.cast("string"))))


def fingerprint_md5(col, k: int = 8) -> Column:
    """Like :func:`fingerprint` but built on ``md5`` instead of
    ``xxhash64``: the k smallest md5 hex digests of the word 3-shingles,
    re-hashed into one digest. ~2-3x slower than the xxhash64 variant
    (hex-string materialization) but md5 exists in every engine, so this
    one is DuckDB-oracle verifiable end-to-end; use it when fingerprints
    must be reproducible outside Spark. Still fully JVM-side codegen."""
    smallest = F.slice(F.array_sort(F.transform(_shingles(col), lambda s: F.md5(s))), 1, k)
    return F.md5(F.concat_ws(",", smallest))


def _ngram_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, w1, …, wn) — one row per run of ``n`` adjacent tokens,
    :func:`tokens` tokenization. Docs with < ``n`` tokens emit nothing."""
    toks = tokens(F.col(text_col))
    m = F.size(toks) - (n - 1)
    grams = F.when(
        m >= 1,
        F.arrays_zip(*(F.slice(toks, k, m).alias(f"w{k}") for k in range(1, n + 1))),
    )
    return (
        df.select(F.col(id_col).alias("__id"), F.explode(grams).alias("__p"))
        .select("__id", *(F.col(f"__p.w{k}").alias(f"w{k}") for k in range(1, n + 1)))
    )


def _lm_model(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_df: DataFrame | None,
    model_text_col: str | None,
    alpha: float,
) -> tuple[DataFrame, str, str]:
    """The n-gram scorers' shared prologue: check α and resolve the model
    corpus → (model, model id column, model text column). The model is
    the scored corpus itself unless ``model_df`` is given. The model side
    only feeds corpus-level aggregations, so its id column is irrelevant:
    a caller-supplied ``model_df`` gets a constant ``__mid`` placeholder
    rather than any assumed positional id column."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    mtext = text_col if model_text_col is None else model_text_col
    if model_df is None:
        return df, id_col, mtext
    return model_df.select(F.lit(0).alias("__mid"), F.col(mtext)), "__mid", mtext


def _lm_per_doc(df: DataFrame, id_col: str, scored: DataFrame, n_col: str) -> DataFrame:
    """The n-gram scorers' shared epilogue: per-doc ``n_col`` (n-gram
    count) and ``avg_logp`` over ``scored``'s (__id, __logp) rows, left
    joined back so every input doc keeps one row (count 0, NULL
    ``avg_logp`` when it has too few tokens), plus ``ppl`` =
    exp(−avg_logp)."""
    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).alias(n_col), F.avg("__logp").alias("avg_logp")
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col(n_col), F.lit(0)).alias(n_col),
            "avg_logp",
            F.exp(-F.col("avg_logp")).alias("ppl"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_df: DataFrame | None = None,
    model_text_col: str | None = None,
    alpha: float = 0.5,
) -> DataFrame:
    """Bigram language-model quality scoring — the CCNet-style
    perplexity filter: fit add-α bigram statistics on a model corpus
    (default: the scored corpus itself) and score every document by its
    mean log-probability; gibberish, shuffled text and boilerplate-free
    outliers land in the low tail even when every surface feature
    (length, punctuation, stopword ratio — :func:`quality_features`)
    looks normal. ``logp(w1 w2) = ln((c(w1,w2) + α) / (ctx(w1) + α·V))``
    with ``ctx(w1) = Σ_w c(w1, w)`` and ``V`` = the distinct
    next-word vocabulary; unseen bigrams/contexts degrade smoothly to
    the α floor.

    Output: one row per input document — id, ``n_bigrams``,
    ``avg_logp`` (NULL when the doc has < 2 tokens), ``ppl`` =
    exp(−avg_logp).

    Plan at 10^12 docs: the model tables are PRE-AGGREGATED (one row
    per bigram / per context word — vocabulary-bounded, zipf-shaped but
    tiny next to the corpus), so the scoring join is a skewed-fact →
    small-dim join: the doc-bigram side shuffles on (w1, w2) where AQE's
    skew split handles the stopword-pair hot keys, and Spark broadcasts
    the model sides outright when the vocab fits (the usual case). V and
    the two count tables come from ONE explode of the model corpus
    (ReusedExchange collapses the three aggs' shuffles); per-doc
    aggregation is a partial map-side avg. No driver data, no UDFs —
    ln/avg are codegen."""
    model, mid, mtext = _lm_model(df, id_col, text_col, model_df, model_text_col, alpha)
    mbg = _ngram_rows(model, mid, mtext, 2)
    bigram_counts = mbg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    ctx_counts = mbg.groupBy("w1").agg(F.count(F.lit(1)).alias("__c1"))
    vocab = mbg.agg(F.count_distinct(F.col("w2")).alias("__v"))

    doc_bg = _ngram_rows(df, id_col, text_col, 2)
    scored = (
        doc_bg.join(bigram_counts, ["w1", "w2"], "left")
        .join(ctx_counts, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__id",
            F.log(
                (F.coalesce(F.col("__c12"), F.lit(0)) + F.lit(float(alpha)))
                / (
                    F.coalesce(F.col("__c1"), F.lit(0))
                    + F.lit(float(alpha)) * F.col("__v")
                )
            ).alias("__logp"),
        )
    )
    return _lm_per_doc(df, id_col, scored, "n_bigrams")


def ngram_lm3_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_df: DataFrame | None = None,
    model_text_col: str | None = None,
    alpha: float = 0.5,
    lambdas: tuple[float, float, float] = (0.5, 0.3, 0.2),
) -> DataFrame:
    """Interpolated trigram language-model scoring — the higher-order
    option over :func:`ngram_lm_score` (whose bigram path is unchanged):
    ``p(w3|w1 w2) = λ3·p̂3 + λ2·p̂2 + λ1·p̂1`` with add-α estimates at
    each order,

    - ``p̂3 = (c(w1w2w3)+α) / (c(w1w2)+α·V)``
    - ``p̂2 = (c(w2w3)+α)  / (c(w2)+α·V)``
    - ``p̂1 = (c(w3)+α)    / (N+α·V)``

    (V = distinct unigram vocabulary, N = total model tokens). Linear
    interpolation degrades gracefully from sharp trigram evidence to the
    corpus unigram prior — the standard Jelinek-Mercer shape, and the
    same smoothing family as the bigram scorer so both tails agree on α.

    Output: one row per input document — id, ``n_trigrams``,
    ``avg_logp`` (NULL when the doc has < 3 tokens), ``ppl`` =
    exp(−avg_logp).

    Plan at 10^12 docs: all four model tables (trigram / bigram /
    unigram counts + the 1-row N,V totals) are PRE-AGGREGATED and
    vocabulary-bounded, built from ONE tokenization of the model corpus;
    the scoring side shuffles doc trigrams once per join key where AQE
    skew-split handles stopword-tuple hot keys and Spark broadcasts the
    dims when they fit (the usual case). No driver data, no UDFs —
    the entire mixture is codegen arithmetic."""
    model, mid, mtext = _lm_model(df, id_col, text_col, model_df, model_text_col, alpha)
    l3, l2, l1 = (float(x) for x in lambdas)
    if min(l3, l2, l1) <= 0 or abs(l3 + l2 + l1 - 1.0) > 1e-9:
        raise ValueError(f"lambdas must be positive and sum to 1, got {lambdas}")
    mtg = _ngram_rows(model, mid, mtext, 3)
    mbg = _ngram_rows(model, mid, mtext, 2)
    mtok = model.select(F.explode(tokens(F.col(mtext))).alias("w"))
    c123 = mtg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("__c123"))
    c12 = mbg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    c1 = mtok.groupBy("w").agg(F.count(F.lit(1)).alias("__c1"))
    totals = mtok.agg(
        F.count(F.lit(1)).alias("__n"), F.count_distinct(F.col("w")).alias("__v")
    )

    a = F.lit(float(alpha))
    doc_tg = _ngram_rows(df, id_col, text_col, 3)
    joined = (
        doc_tg.join(c123, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(
            c12.select(
                F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                F.col("__c12").alias("__c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(c1.select(F.col("w").alias("w2"), F.col("__c1").alias("__c2")), ["w2"], "left")
        .join(c1.select(F.col("w").alias("w3"), F.col("__c1").alias("__c3")), ["w3"], "left")
        .crossJoin(F.broadcast(totals))
    )
    av = a * F.col("__v")
    p3 = (F.coalesce(F.col("__c123"), F.lit(0)) + a) / (
        F.coalesce(F.col("__c12"), F.lit(0)) + av
    )
    p2 = (F.coalesce(F.col("__c23"), F.lit(0)) + a) / (
        F.coalesce(F.col("__c2"), F.lit(0)) + av
    )
    p1 = (F.coalesce(F.col("__c3"), F.lit(0)) + a) / (F.col("__n") + av)
    scored = joined.select(
        "__id",
        F.log(F.lit(l3) * p3 + F.lit(l2) * p2 + F.lit(l1) * p1).alias("__logp"),
    )
    return _lm_per_doc(df, id_col, scored, "n_trigrams")


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy — the gibberish /
    keyword-stuffing detector that length-and-punctuation features miss:
    a doc that repeats one token has H ≈ 0, natural prose sits near its
    vocabulary ceiling ``ln(n_distinct)``. Computed as
    ``H = ln(n) − Σ c·ln(c) / n`` over per-token counts c (algebraically
    identical to −Σ p·ln p, but needs no per-row p column).

    Output: id, ``n_tokens``, ``n_distinct``, ``entropy`` (NULL for
    empty docs), ``entropy_ratio`` = H / ln(n_distinct) ∈ [0, 1] (NULL
    when n_distinct < 2 — a 1-token vocabulary has no scale to judge
    against).

    Plan: explode → ONE (doc, token) grouped count (the explode
    collapses map-side, so the shuffle carries distinct (doc, token)
    pairs, not tokens) → one per-doc agg — the :func:`repetition
    <xmlschema_spark.operators.curation.repetition_features>` two-level
    partial-agg shape, linear in corpus size, no UDFs."""
    tok = tokens(F.col(text_col))
    counts = (
        df.select(F.col(id_col).alias("__id"), F.explode(tok).alias("__t"))
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per_doc = counts.groupBy("__id").agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        (
            F.log(F.sum("__c"))
            - F.sum(F.col("__c") * F.log("__c")) / F.sum("__c")
        ).alias("entropy"),
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("n_distinct"), F.lit(0)).alias("n_distinct"),
            F.col("entropy"),
            F.when(
                F.col("n_distinct") >= 2,
                F.col("entropy") / F.log(F.col("n_distinct").cast("double")),
            ).alias("entropy_ratio"),
        )
    )
