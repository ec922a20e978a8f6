"""Curation operators: deterministic sampling, PII, repetition signals,
decontamination, sessionization (operators/curation.py)."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.operators import curation as cur


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the cat sat on the mat", "en"),  # exact dup of 1
        (3, "a a a a a a a a", "en"),  # maximally repetitive
        (4, "eins zwei drei vier fünf sechs", "de"),
        (5, "un deux trois quatre cinq six", "fr"),
        (6, "every word here is totally unique indeed", "en"),
        (7, None, "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------------- sampling

def test_hash_sample_deterministic_and_sized(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = cur.hash_sample(df, "doc_id", 0.25, salt="x")
    b = cur.hash_sample(df, "doc_id", 0.25, salt="x")
    ids_a = sorted(r.doc_id for r in a.collect())
    assert ids_a == sorted(r.doc_id for r in b.collect())  # reproducible
    assert 0.18 < len(ids_a) / 2000 < 0.32  # ~rate
    # different salt draws a (near-)independent sample
    c = set(r.doc_id for r in cur.hash_sample(df, "doc_id", 0.25, salt="y").collect())
    assert set(ids_a) != c


def test_hash_sample_rate_monotone_nesting(spark):
    # threshold-on-hash sampling nests: the 10% sample is a subset of 20%
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s10 = set(r.doc_id for r in cur.hash_sample(df, "doc_id", 0.1).collect())
    s20 = set(r.doc_id for r in cur.hash_sample(df, "doc_id", 0.2).collect())
    assert s10 <= s20


def test_hash_sample_bad_rate(spark):
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        cur.hash_sample(df, "doc_id", 1.5)


def test_stratified_sample_quota(spark, docs):
    out = cur.stratified_sample(docs, "lang", 2, "doc_id").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    assert all(len(v) <= 2 for v in by_lang.values())
    assert len(by_lang["en"]) == 2  # en has 5 docs -> exactly the quota
    assert by_lang["de"] == [4] and by_lang["fr"] == [5]


# ---------------------------------------------------------------------- PII

def test_pii_features_counts(spark):
    rows = [
        (1, "mail me at a.b+c@example.co.uk or boss@corp.io"),
        (2, "call +1 555-123-4567 today"),
        (3, "server 10.0.42.7 and backup 192.168.0.1"),
        (4, "no pii here"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in cur.pii_features(df, "text", "id").collect()}
    assert (got[1].n_email, got[1].has_pii) == (2, True)
    assert (got[2].n_phone, got[2].has_pii) == (1, True)
    assert (got[3].n_ipv4, got[3].has_pii) == (2, True)
    assert got[4] .has_pii is False
    assert got[5].has_pii is False and got[5].n_email == 0


def test_redact_pii_replaces_all(spark):
    df = spark.createDataFrame(
        [(1, "x a@b.io y 10.0.0.1 z +1 555-123-4567 w")], "id long, text string"
    )
    out = cur.redact_pii(df, "text").collect()[0].redacted
    assert out == "x <EMAIL> y <IPV4> z <PHONE> w"


# ---------------------------------------------------------------------- repetition

def test_repetition_features_known_ratios(spark, docs):
    got = {r.doc_id: r for r in cur.repetition_features(docs, "text", "doc_id").collect()}
    # doc 3: 8x 'a' -> 1 distinct token, 7 identical 2-grams
    assert got[3].n_tokens == 8 and got[3].n_distinct_tokens == 1
    assert got[3].dup_token_ratio == pytest.approx(1 - 1 / 8)
    assert got[3].top_token_ratio == 1.0
    assert got[3].n_2grams == 7 and got[3].dup_2gram_ratio == pytest.approx(1 - 1 / 7)
    # doc 6: all unique
    assert got[6].dup_token_ratio == 0.0 and got[6].dup_2gram_ratio == 0.0
    assert got[6].top_token_ratio == pytest.approx(1 / 7)
    # doc 1: 'the' twice in 6 tokens
    assert got[1].n_tokens == 6 and got[1].n_distinct_tokens == 5
    assert got[1].top_token_ratio == pytest.approx(2 / 6)
    # null text produces no token rows at all
    assert 7 not in got


def test_repetition_single_token_doc(spark):
    df = spark.createDataFrame([(1, "word")], "doc_id long, text string")
    r = cur.repetition_features(df, "text", "doc_id").collect()[0]
    assert r.n_tokens == 1 and r.n_2grams == 0 and r.dup_2gram_ratio == 0.0


# ---------------------------------------------------------------------- decontamination

def test_contaminated_docs_and_drop(spark):
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta suffix"),  # shares 'alpha beta gamma delta'
            (2, "beta gamma delta epsilon tail"),  # shares 'beta gamma delta epsilon'
            (3, "nothing in common at all here"),
            (4, "alpha beta gamma delta epsilon"),  # identical -> 2 shared 4-shingles
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_hit_shingles for r in
            cur.contaminated_docs(tr, ev, "text", "doc_id", k=4).collect()}
    assert hits == {1: 1, 2: 1, 4: 2}
    kept = sorted(r.doc_id for r in
                  cur.drop_contaminated(tr, ev, "text", "doc_id", k=4).collect())
    assert kept == [3]


# ---------------------------------------------------------------------- sessions

def test_sessionize_gap_rule(spark):
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: two events 10 min apart, then a 31-min gap -> 2 sessions
        (1, t0, 1),
        (1, t0 + timedelta(minutes=10), 2),
        (1, t0 + timedelta(minutes=41, seconds=1), 3),
        # user 2: single event
        (2, t0, 4),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = cur.session_stats(df, "user_id", "ts", gap_sec=1800, tiebreak_col="event_id")
    got = {(r.user_id, r.session_idx): r for r in out.collect()}
    assert got[(1, 1)].n_events == 2 and got[(1, 1)].duration_sec == 600
    assert got[(1, 2)].n_events == 1 and got[(1, 2)].duration_sec == 0
    assert got[(2, 1)].n_events == 1
    assert got[(1, 1)].session_start == "2024-01-01 12:00:00"


def test_sessionize_subsecond_boundary(spark):
    # gap of exactly 1800.000001 s splits; exactly 1800.0 s does not —
    # the µs-exact arithmetic is what makes this deterministic
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            (1, t0, 1),
            (1, t0 + timedelta(seconds=1800), 2),
            (2, t0, 3),
            (2, t0 + timedelta(seconds=1800, microseconds=1), 4),
        ],
        "user_id long, ts timestamp, event_id long",
    )
    s = cur.sessionize(df, "user_id", "ts", 1800, "event_id")
    got = {r.event_id: r.session_idx for r in s.collect()}
    assert got[1] == 1 and got[2] == 1  # exactly at the gap: same session
    assert got[3] == 1 and got[4] == 2  # 1 µs beyond: new session


def test_sessionize_split_matches_single_window_midnight_cases(spark):
    # the hot-user scale path (split_by="day") must equal the single
    # window exactly — exercise every boundary shape: a session that
    # straddles midnight (merge), one that ends just before (no merge),
    # a single session chaining across THREE days (cascading merges),
    # an exactly-gap boundary (stays merged), an empty calendar day
    # between events, and a user living in one day.
    t = datetime(2024, 3, 1, 23, 45, 0)
    rows = [
        # u1: straddles midnight with a 10-min gap -> one session
        (1, t, 1), (1, t + timedelta(minutes=10), 2),
        (1, t + timedelta(minutes=20), 3),  # 00:05 next day
        # u1 later that day, > gap -> second session
        (1, t + timedelta(hours=2), 4),
        # u2: last event 23:00, next day 00:30 -> 90 min > gap, no merge
        (2, datetime(2024, 3, 1, 23, 0, 0), 5),
        (2, datetime(2024, 3, 2, 0, 30, 0), 6),
        # u3: one session chaining across 3 days (events every 25 min)
        *[(3, datetime(2024, 3, 1, 23, 30, 0) + timedelta(minutes=25 * i), 10 + i)
          for i in range(6)],
        # u4: boundary gap EXACTLY 1800 s (23:50:00 -> 00:20:00) -> merged
        (4, datetime(2024, 3, 1, 23, 50, 0), 30),
        (4, datetime(2024, 3, 2, 0, 20, 0), 31),
        # u4: gap 1800s + 1µs later the same day -> new session
        (4, datetime(2024, 3, 2, 0, 50, 0, 1), 32),
        # u5: empty day between events (Mar 1 -> Mar 3)
        (5, datetime(2024, 3, 1, 12, 0, 0), 40),
        (5, datetime(2024, 3, 3, 12, 0, 0), 41),
        # u6: all inside one day, two sessions
        (6, datetime(2024, 3, 2, 9, 0, 0), 50),
        (6, datetime(2024, 3, 2, 9, 10, 0), 51),
        (6, datetime(2024, 3, 2, 11, 0, 0), 52),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    single = cur.sessionize(df, "user_id", "ts", 1800, "event_id")
    split = cur.sessionize(df, "user_id", "ts", 1800, "event_id", split_by="day")
    assert split.schema == single.schema
    g1 = {r.event_id: r.session_idx for r in single.collect()}
    g2 = {r.event_id: r.session_idx for r in split.collect()}
    assert g1 == g2
    # spot-check the semantics themselves, not just agreement
    assert g1[1] == g1[2] == g1[3] == 1 and g1[4] == 2
    assert g1[5] == 1 and g1[6] == 2
    assert all(g1[10 + i] == 1 for i in range(6))
    assert g1[30] == g1[31] == 1 and g1[32] == 2
    assert g1[40] == 1 and g1[41] == 2


def test_sessionize_split_matches_single_window_randomized(spark):
    # seeded pseudo-random corpus: many users, many days, gaps drawn
    # around the threshold so boundary merges are frequent
    import random

    rng = random.Random(42)
    rows, eid = [], 0
    base = datetime(2024, 5, 1, 0, 0, 0)
    for u in range(12):
        ts = base + timedelta(minutes=rng.randint(0, 600))
        for _ in range(rng.randint(1, 60)):
            rows.append((u, ts, eid))
            eid += 1
            ts = ts + timedelta(seconds=rng.choice(
                [60, 600, 1799, 1800, 1801, 3600, 20 * 3600, 50 * 3600]
            ), microseconds=rng.choice([0, 1]))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    single = cur.sessionize(df, "user_id", "ts", 1800, "event_id")
    for unit in ("day", "hour"):
        split = cur.sessionize(df, "user_id", "ts", 1800, "event_id", split_by=unit)
        got = {r.event_id: r.session_idx for r in split.collect()}
        want = {r.event_id: r.session_idx for r in single.collect()}
        assert got == want, f"split_by={unit} diverged"


def test_session_stats_split_path(spark):
    t0 = datetime(2024, 1, 1, 23, 50, 0)
    df = spark.createDataFrame(
        [(1, t0, 1), (1, t0 + timedelta(minutes=15), 2)],
        "user_id long, ts timestamp, event_id long",
    )
    out = cur.session_stats(df, "user_id", "ts", 1800, "event_id", split_by="day")
    rows = out.collect()
    assert len(rows) == 1 and rows[0].n_events == 2 and rows[0].duration_sec == 900


def test_sessionize_malformed_event_time_reads_as_null(spark):
    # a string event time that does not parse is a NULL event time, not a
    # CAST_INVALID_INPUT abort; events are ordered by the parsed value
    rows = [
        (1, "2024-01-01 23:50:00", 1),
        (1, "2024-01-02 00:05:00", 2),
        (1, "{}", 3),
        (1, "2024-01-02 01:00:00", 4),
        (2, "2024-01-01 12:00:00", 5),
    ]

    def frame(bad):
        return spark.createDataFrame(
            [(u, bad if ts == "{}" else ts, e) for u, ts, e in rows],
            "user_id long, ts string, event_id long",
        )

    bad, null = frame("not a time"), frame(None)
    for split_by in (None, "day"):
        def sessions(df):
            return sorted(
                (r.event_id, r.session_idx)
                for r in cur.sessionize(df, "user_id", "ts", 1800, "event_id", split_by).collect()
            )

        def stats(df):
            return sorted(
                cur.session_stats(df, "user_id", "ts", 1800, "event_id", split_by).collect()
            )

        assert sessions(bad) == sessions(null), split_by
        assert stats(bad) == stats(null), split_by
    got = {r.event_id: r.session_idx for r in cur.sessionize(bad, "user_id", "ts", 1800, "event_id").collect()}
    # the unparsable event sorts first, as a NULL does, and starts its own session
    assert got == {3: 1, 1: 2, 2: 2, 4: 3, 5: 1}


def test_token_budget_reserved_columns_raise(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "en", 3)], "doc_id long, text string, lang string, n_tokens int"
    )
    with pytest.raises(ValueError, match="n_tokens"):
        cur.token_budget_sample(df, "lang", 10, "doc_id", "text")


# ------------------------------------------------------------- domain capping

def test_cap_per_group_score_order(spark):
    rows = [(i, "t", "web" if i < 6 else "wiki", float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, score double")
    out = cur.cap_per_group(df, "source", 2, "doc_id", score_col="score")
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r.source, []).append(r.doc_id)
    # quality-aware: the TOP-scoring rows survive, groups under the cap untouched
    assert sorted(by_src["web"]) == [4, 5]
    assert sorted(by_src["wiki"]) == [7, 8]


def test_cap_per_group_hash_order_deterministic(spark):
    df = spark.range(0, 50).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("source")
    )
    a = sorted(r.doc_id for r in cur.cap_per_group(df, "source", 10, "doc_id").collect())
    b = sorted(r.doc_id for r in cur.cap_per_group(df, "source", 10, "doc_id").collect())
    assert a == b and len(a) == 10
    # different salt -> different uniform pick
    c = sorted(
        r.doc_id
        for r in cur.cap_per_group(df, "source", 10, "doc_id", salt="other").collect()
    )
    assert a != c


def test_cap_per_group_bad_params(spark):
    df = spark.createDataFrame([(1, "s")], "doc_id long, source string")
    with pytest.raises(ValueError):
        cur.cap_per_group(df, "source", 0, "doc_id")


# -------------------------------------------------------- incremental dedup

def test_novel_docs_drops_corpus_content(spark):
    corpus = spark.createDataFrame(
        [(1, "The CAT  sat"), (2, "unique corpus doc")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the cat sat"),        # dup of corpus 1 after normalization
            (11, "brand new content"),  # novel
            (12, "brand new content"),  # in-batch dup: still novel vs corpus
        ],
        "doc_id long, text string",
    )
    out = sorted(r.doc_id for r in cur.novel_docs(batch, corpus, "text", "doc_id").collect())
    assert out == [11, 12]


def test_novel_docs_empty_corpus_keeps_all(spark):
    corpus = spark.createDataFrame([], "doc_id long, text string")
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    assert cur.novel_docs(batch, corpus, "text", "doc_id").count() == 2
    # schema passes through unchanged
    assert cur.novel_docs(batch, corpus, "text", "doc_id").columns == ["doc_id", "text"]


# --------------------------------------------------- token-budget sampling

def test_token_budget_keeps_until_budget(spark):
    # one bucket; hash order is deterministic -> replay it to predict keeps
    df = spark.createDataFrame(
        [(i, "w " * 10, "en") for i in range(10)],  # 10 tokens each
        "doc_id long, text string, lang string",
    )
    out = cur.token_budget_sample(df, "lang", 35, "doc_id", "text").collect()
    # keep while cum_before < 35 -> docs at cum 0,10,20,30 = 4 docs
    assert len(out) == 4
    assert sorted(r.cum_before for r in out) == [0, 10, 20, 30]
    assert all(r.n_tokens == 10 for r in out)


def test_token_budget_first_doc_always_kept(spark):
    df = spark.createDataFrame(
        [(1, "a " * 500, "en")], "doc_id long, text string, lang string"
    )
    out = cur.token_budget_sample(df, "lang", 10, "doc_id", "text").collect()
    assert len(out) == 1 and out[0].cum_before == 0


def test_token_budget_per_bucket_independent(spark):
    df = spark.createDataFrame(
        [(i, "x y z", ["en", "de"][i % 2]) for i in range(20)],
        "doc_id long, text string, lang string",
    )
    out = cur.token_budget_sample(df, "lang", 7, "doc_id", "text").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    # 3 tokens/doc, budget 7 -> cum_before 0,3,6 kept = 3 docs per bucket
    assert {k: len(v) for k, v in by_lang.items()} == {"en": 3, "de": 3}


def test_token_budget_bad_budget(spark):
    df = spark.createDataFrame([(1, "a", "en")], "doc_id long, text string, lang string")
    with pytest.raises(ValueError):
        cur.token_budget_sample(df, "lang", 0, "doc_id", "text")


# ------------------------------------------------------------- plan shapes

def _executed_plan(df):
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_cap_per_group_plan_has_rank_limit_pushdown(spark):
    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("source"),
        (F.col("id") % 100).alias("score"),
    )
    plan = _executed_plan(cur.cap_per_group(df, "source", 5, "doc_id", score_col="score"))
    # WindowGroupLimit below the exchange: each map task forwards at most
    # k candidate rows per group — the property that makes the cap safe
    # on a monster domain
    assert "WindowGroupLimit" in plan


def test_novel_docs_plan_is_broadcast_anti_on_digest(spark, tmp_path):
    # parquet inputs so the optimizer has size stats (createDataFrame's
    # ExistingRDD is unestimable and planned as SMJ until AQE converts it)
    corpus_p, batch_p = str(tmp_path / "c"), str(tmp_path / "b")
    spark.createDataFrame([(i, f"t{i}") for i in range(50)], "doc_id long, text string").write.parquet(corpus_p)
    spark.createDataFrame([(i, f"t{i % 70}") for i in range(100)], "doc_id long, text string").write.parquet(batch_p)
    out = cur.novel_docs(
        spark.read.parquet(batch_p), spark.read.parquet(corpus_p), "text", "doc_id"
    )
    out.collect()  # finalize the adaptive plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    # the build side is the DISTINCT digest, not raw corpus rows
    assert "HashAggregate" in plan


def test_heavy_hitters_plan_scans_once(spark):
    from xmlschema_spark.operators import stats
    df = spark.createDataFrame([(i % 5,) for i in range(100)], "k long")
    out = stats.heavy_hitters(df, "k", min_share=0.1)
    out.collect()  # AQE finalizes the plan at execution
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the grand-total branch reuses the per-key counts shuffle instead of
    # re-scanning the table
    assert "ReusedExchange" in plan


# --------------------------------------------------------- weighted sampling

def test_weighted_sample_extremes_and_null(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, None), (4, 2.5), (5, -0.3)],
        "doc_id long, w double",
    )
    kept = sorted(r.doc_id for r in cur.weighted_sample(df, "doc_id", "w").collect())
    # w>=1 keeps unconditionally (incl. over-1), w<=0 and NULL drop
    assert kept == [1, 4]


def test_weighted_sample_calibrated_and_monotone(spark):
    df = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    half = df.withColumn("w", F.lit(0.5))
    k_half = {r.doc_id for r in cur.weighted_sample(half, "doc_id", "w").collect()}
    assert 0.45 < len(k_half) / 4000 < 0.55
    # monotone per-row: raising the weight never drops a previously kept row
    k_lo = {r.doc_id for r in cur.weighted_sample(
        df.withColumn("w", F.lit(0.2)), "doc_id", "w").collect()}
    assert k_lo <= k_half
    # deterministic
    again = {r.doc_id for r in cur.weighted_sample(half, "doc_id", "w").collect()}
    assert again == k_half


def test_token_budget_empty_and_null_text(spark):
    df = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert cur.token_budget_sample(df, "lang", 100, "doc_id", "text").count() == 0


def test_cap_per_group_empty(spark):
    df = spark.createDataFrame([], "doc_id long, source string")
    assert cur.cap_per_group(df, "source", 3, "doc_id").count() == 0
