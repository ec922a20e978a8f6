"""Unit tests for the pipeline operators: dedup, similarity, text, drift,
and the synthetic-source pandas/distributed equivalence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xmlschema_spark.operators import dedup, drift, similarity, text
from xmlschema_spark.sources.images import generate_images_df, generate_images_pdf

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (2, "completely different content about spark distributed query engines and shuffles"),
    (3, "The quick  brown fox jumps over the lazy dog near the river bank today"),
    (4, "der hund und die katze sind nicht mit der maus zu hause"),
    (5, "el perro y el gato es un animal que vive por la casa"),
]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    df.cache().count()
    return df


def test_exact_duplicates_normalized(spark, docs):
    groups = dedup.exact_duplicates(docs, "text", "doc_id").collect()
    # doc 3 differs from doc 0 only by case + double space → same group
    assert len(groups) == 1
    assert sorted(groups[0].doc_ids) == [0, 3]


def test_minhash_finds_near_dups(spark, docs):
    pairs = dedup.minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=32, bands=16, shingle_k=3
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 3) in got  # identical after normalization: all bands agree
    assert (0, 1) in got  # one-word difference: most bands agree
    assert not any(2 in p for p in got)  # unrelated doc pairs with nothing


def test_jaccard_exact_value(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, "text", "doc_id", threshold=0.1, shingle_k=3).collect()
    }
    assert pairs[(0, 3)] == 1.0  # identical shingle sets
    # doc0 vs doc1: 14 words → 12 3-shingles each; only the final shingle
    # ("river bank today" vs "river bank now") differs → 11 / (12+12-11)
    assert abs(pairs[(0, 1)] - 11 / 13) < 1e-9


def test_simhash_near_duplicates(spark, docs):
    pairs = dedup.simhash_near_duplicates(docs, "text", "doc_id", max_hamming=10, chunk_bits=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 3) in got
    assert (2, 4) not in got and (2, 5) not in got


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    topk = similarity.cosine_topk(
        df, df.filter(F.col("vec_id") < 2), "vec_id", "embedding", "vec_id", k=3
    ).collect()
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit @ unit.T
    for q in (0, 1):
        expect = np.argsort(-sims[q])[:3].tolist()
        got = [r.id for r in sorted(topk, key=lambda r: r.rank) if r.query_id == q]
        assert got == expect


def test_ivf_topk_recall_on_clustered_data(spark):
    """IVF probes only n_probe inverted lists; on well-separated clusters
    the neighbors live in the query's own list → high recall vs brute force."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16)) * 5
    vecs = np.vstack([c + rng.standard_normal((40, 16)) for c in centers])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id").isin(0, 45, 90, 135))

    exact = similarity.cosine_topk(df, queries, "vec_id", "embedding", "vec_id", k=5)
    approx = similarity.ivf_topk(
        df, queries, "vec_id", "embedding", "vec_id",
        k=5, n_centroids=8, n_probe=2, seed=3,
    )
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.id)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 5 for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_lsh_bucket_groups_identical_vectors(spark):
    rng = np.random.default_rng(4)
    base = rng.standard_normal(16)
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in base]),
            (2, [float(x) for x in -base])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_duplicates(df, "vec_id", "embedding", threshold=0.99)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 1)}  # identical vectors share every sign bit; negated never


def test_detect_language(spark, docs):
    pred = {
        r.doc_id: r.lang
        for r in docs.select("doc_id", text.detect_language(F.col("text")).alias("lang")).collect()
    }
    assert pred[0] == "en" and pred[4] == "de" and pred[5] == "es"
    zh = spark.createDataFrame([(9, "这是一个中文句子")], "doc_id long, text string")
    assert zh.select(text.detect_language(F.col("text")).alias("l")).first().l == "zh"


def test_quality_score_monotone(spark):
    rows = [(0, "a good long sentence with many reasonable words flowing nicely onward today"),
            (1, "x5 77 !!! ??? 99 000 ### !!"),
            (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {r.doc_id: r.quality_score for r in text.quality_score(df, "text", "doc_id").collect()}
    # prose beats punct/digit-heavy junk and empty text (the empty doc still
    # collects the two "not punct/digit-heavy" terms — rubric is monotone
    # per-feature, not a global ordering)
    assert scores[0] > scores[1] and scores[0] > scores[2]


def test_fingerprint_order_insensitive_equal_content(spark, docs):
    fp = docs.select("doc_id", text.fingerprint(F.col("text")).alias("f")).collect()
    by_id = {r.doc_id: r.f for r in fp}
    assert by_id[0] == by_id[3]  # same normalized content ⇒ same fingerprint
    assert by_id[0] != by_id[2]


def test_psi_fast_path_matches_sql_path(spark):
    rows = [(f"p{i % 4}", float(i % 50) + (25.0 if i % 4 == 3 else 0.0)) for i in range(2000)]
    df = spark.createDataFrame(rows, "part string, x double")
    # an explicit reference with a NULL and values outside df's [0, 74]:
    # both paths drop the NULL and clamp the rest to the edge buckets
    ref = spark.createDataFrame(
        [(None,), (-40.0,), (3.0,), (3.0,), (20.0,), (60.0,), (500.0,)], "x double"
    )
    for reference in (None, ref):
        fast = {
            r.part: r.psi
            for r in drift.psi(df, "x", "part", bins=10, reference=reference).collect()
        }
        slow = {
            r.part: r.psi
            for r in drift.psi(
                df, "x", "part", bins=10, reference=reference, max_collected_cells=0
            ).collect()
        }
        assert set(fast) == set(slow) == {"p0", "p1", "p2", "p3"}
        for p in fast:
            assert abs(fast[p] - slow[p]) < 1e-9, (reference, p)
        if reference is None:
            # the shifted partition drifts most; the others score lower even
            # though the pooled reference includes the drifted mass
            assert fast["p3"] > 0.3
            assert all(fast["p3"] > 2 * fast[p] for p in ("p0", "p1", "p2"))


def test_psi_empty_and_all_null(spark):
    empty = spark.createDataFrame([], "part string, x double")
    assert drift.psi(empty, "x", "part").count() == 0
    nulls = spark.createDataFrame([("a", None), ("b", None)], "part string, x double")
    assert drift.psi(nulls, "x", "part").count() == 0
    # no rows, but the same schema as a non-empty result: the partition
    # column keeps its type
    full = spark.createDataFrame([(1, 1.0), (2, 2.0)], "part int, x double")
    for df in (full.limit(0), full.withColumn("x", F.lit(None).cast("double")), full):
        assert drift.psi(df, "x", "part").schema.simpleString() == "struct<part:int,psi:double>"


def test_ks_detects_shift(spark):
    rows = [(f"p{i % 2}", float(i % 100) + (60.0 if i % 2 else 0.0)) for i in range(4000)]
    df = spark.createDataFrame(rows, "part string, x double")
    # explicit reference distribution (vs the pooled default, against which
    # both halves of a 2-way mixture deviate symmetrically)
    ref = df.filter(df.part == "p0")
    ks = {r.part: r.ks for r in drift.ks(df, "x", "part", reference=ref).collect()}
    assert ks["p0"] < 0.05
    assert ks["p1"] > 0.5


def test_resize_images(spark):
    from xmlschema_spark.operators import multimodal
    from xmlschema_spark.functions import codec
    from xmlschema_spark.sources.images import generate_images_df

    df = generate_images_df(spark, 20, seed=8, corrupt_frac=0.1, distributed=False)
    out = multimodal.resize_images(df, out_w=10, out_h=12).collect()
    assert len(out) == 18  # corrupt rows skipped
    for r in out:
        assert (r.w, r.h, r.fmt) == (10, 12, "png")
        pixels, fmt = codec.decode_image(bytes(r.bytes))
        assert fmt == "png" and pixels.shape == (12, 10, 3)


def test_extract_frames_is_declared_stub(spark):
    from xmlschema_spark.operators import multimodal

    df = spark.createDataFrame([("v1", b"xx")], "video_id string, bytes binary")
    frames = multimodal.extract_frames(df)
    assert [f.name for f in frames.schema.fields] == ["video_id", "frame_idx", "bytes"]
    with pytest.raises(Exception, match="NotImplementedError|decode_fn"):
        frames.collect()


def test_extract_frames_with_pluggable_codec(spark):
    from xmlschema_spark.operators import multimodal

    def _fake_video_codec(data: bytes):
        # deterministic fake: first byte = frame count; b"BAD" is corrupt
        # (nested so cloudpickle ships it by value, as a user's codec
        # wrapper would need to be importable on executors)
        if data == b"BAD":
            raise ValueError("corrupt container")
        return [bytes([data[0], i]) for i in range(data[0])]

    df = spark.createDataFrame(
        [("a", bytes([7])), ("b", bytes([65])), ("c", b"BAD")],
        "video_id string, bytes binary",
    ).repartition(3)
    out = multimodal.extract_frames(
        df, every_n=30, decode_fn=_fake_video_codec
    ).collect()
    got = sorted((r.video_id, r.frame_idx) for r in out)
    # a: frames 0..6 -> keep 0; b: 0..64 -> keep 0,30,60; c: dropped
    assert got == [("a", 0), ("b", 0), ("b", 30), ("b", 60)]
    by = {(r.video_id, r.frame_idx): bytes(r.bytes) for r in out}
    assert by[("b", 30)] == bytes([65, 30])  # frame payload round-trips Arrow
    with pytest.raises(ValueError, match="every_n"):
        multimodal.extract_frames(df, every_n=0, decode_fn=_fake_video_codec)


def test_audio_features_with_pluggable_codec(spark):
    from xmlschema_spark.operators import multimodal

    def _fake_audio_codec(data: bytes):
        import numpy as np

        if data == b"BAD":
            raise ValueError("corrupt stream")
        # alternating +-0.5, one sample per input byte, 2 Hz
        n = len(data)
        return (np.array([0.5 if i % 2 == 0 else -0.5 for i in range(n)]), 2)

    df = spark.createDataFrame(
        [("x", b"1234"), ("y", b"BAD")], "audio_id string, bytes binary"
    )
    out = {r.audio_id: r for r in multimodal.audio_features(
        df, decode_fn=_fake_audio_codec
    ).collect()}
    x = out["x"]  # 4 samples at 2 Hz, alternating sign
    assert x.decode_ok and x.duration_s == 2.0 and x.rms == 0.5 and x.peak == 0.5
    assert x.zero_cross_rate == 1.0  # every adjacent pair flips sign
    y = out["y"]
    assert not y.decode_ok and y.rms == 0.0 and y.duration_s == 0.0
    # stub path: plan builds, body raises
    with pytest.raises(Exception, match="NotImplementedError|decode_fn"):
        multimodal.audio_features(df).collect()


def test_extract_features(spark):
    from xmlschema_spark.operators import multimodal
    from xmlschema_spark.sources.images import generate_images_df

    df = generate_images_df(spark, 40, seed=9, corrupt_frac=0.1, distributed=False)
    feats = multimodal.extract_features(df).collect()
    assert len(feats) == 40
    ok = [f for f in feats if f.decode_ok]
    bad = [f for f in feats if not f.decode_ok]
    assert len(bad) == 4  # corrupt rows yield a decode_ok=False feature row
    for f in ok:
        assert 0 <= f.luma_mean <= 255 and f.aspect > 0
        assert abs(sum(f.luma_hist) - 1.0) < 1e-9 and len(f.luma_hist) == 8


def test_generator_paths_identical(spark):
    kw = dict(
        seed=21, n_parts=4, null_frac=0.1, bad_dims_frac=0.1,
        corrupt_frac=0.1, dup_id_frac=0.1, min_side=8, max_side=12,
    )
    keys = ["image_id", "phash", "w", "h"]
    pdf = generate_images_pdf(60, **kw)
    dist = generate_images_df(spark, 60, distributed=True, **kw).toPandas()
    pdf = pdf.sort_values(keys).reset_index(drop=True)
    dist = dist.sort_values(keys).reset_index(drop=True)
    for col in ("image_id", "w", "h", "fmt", "caption", "phash", "part"):
        assert list(pdf[col].fillna("∅")) == list(dist[col].fillna("∅")), col
    assert all(
        (a is None and b is None) or bytes(a) == bytes(b)
        for a, b in zip(pdf["bytes"], dist["bytes"])
    )


def test_ks_exact_matches_numpy(spark):
    import numpy as np

    rows = [("a", float(v)) for v in [1, 1, 2, 3, 5, 8]] + [
        ("b", float(v)) for v in [2, 2, 2, 9, 9]
    ]
    df = spark.createDataFrame(rows, "part string, x double")
    got = {r.part: (r.ks, r.n) for r in drift.ks_exact(df, "x", "part").collect()}

    pooled = np.array([v for _, v in rows])
    jump = np.unique(pooled)
    for part in ("a", "b"):
        vals = np.array([v for p, v in rows if p == part])
        emp = np.searchsorted(np.sort(vals), jump, side="right") / len(vals)
        ref = np.searchsorted(np.sort(pooled), jump, side="right") / len(pooled)
        want = float(np.max(np.abs(emp - ref)))
        assert abs(got[part][0] - want) < 1e-12
        assert got[part][1] == len(vals)


def test_ks_exact_detects_shift_and_quantizes(spark):
    rows = [(f"p{i % 2}", float(i % 100) + (60.0 if i % 2 else 0.0)) for i in range(4000)]
    df = spark.createDataFrame(rows, "part string, x double")
    ref = df.filter(df.part == "p0")
    ks = {
        r.part: r.ks
        for r in drift.ks_exact(df, "x", "part", reference=ref, quantize_scale=0).collect()
    }
    assert ks["p0"] < 1e-12  # identical to its own reference, exactly
    assert ks["p1"] > 0.5


def test_ks_approx_equals_exact_on_quantized(spark):
    """The certification property behind the ks_drift_events oracle: on a
    discrete column whose every distinct value carries ≥1% mass, the
    quantile grid contains every jump point and drift.ks evaluates both
    ECDFs exactly there — so the approx path equals ks_exact to the last
    double (same integer-count divisions)."""
    rows = [(f"p{i % 3}", float((i * 7) % 10)) for i in range(3000)]
    df = spark.createDataFrame(rows, "part string, x double")
    approx = {r.part: (r.ks, r.n) for r in drift.ks(df, "x", "part").collect()}
    exact = {r.part: (r.ks, r.n) for r in drift.ks_exact(df, "x", "part").collect()}
    assert approx == exact


def test_fingerprint_md5_matches_pure_python(spark):
    import hashlib
    import re

    doc = "The quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame([(1, doc)], "doc_id int, text string")
    got = df.select(text.fingerprint_md5(F.col("text")).alias("fp")).first()["fp"]

    words = [w for w in re.split(r"[^a-z0-9]+", doc.lower()) if w]
    shingles = list(dict.fromkeys(
        " ".join(words[i : i + 3]) for i in range(len(words) - 2)
    ))
    hashes = sorted(hashlib.md5(s.encode()).hexdigest() for s in shingles)[:8]
    want = hashlib.md5(",".join(hashes).encode()).hexdigest()
    assert got == want
    # order-insensitive on shingle sets: same shingle multiset, same fp
    assert (
        df.select(text.fingerprint_md5(F.col("text")).alias("fp")).first()["fp"] == want
    )


def test_exact_duplicates_bounded_ids(spark, docs):
    full = {
        r.content_hash: (r.n_docs, r.doc_ids)
        for r in dedup.exact_duplicates(docs, "text", "doc_id").collect()
    }
    capped = {
        r.content_hash: (r.n_docs, r.doc_ids)
        for r in dedup.exact_duplicates(docs, "text", "doc_id", max_ids=2).collect()
    }
    assert set(capped) == set(full)
    for h, (n, ids) in capped.items():
        assert n == full[h][0]              # counts stay exact
        assert ids == full[h][1][:2]        # the 2 smallest ids, in order


def test_drop_exact_duplicates_keeps_min_id(spark, docs):
    kept = dedup.drop_exact_duplicates(docs, "text", "doc_id")
    assert kept.columns == docs.columns
    groups = dedup.exact_duplicates(docs, "text", "doc_id").collect()
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    n_extra_dups = sum(r.n_docs - 1 for r in groups)
    assert len(kept_ids) == docs.count() - n_extra_dups
    for g in groups:
        ids = set(g.doc_ids)
        assert min(ids) in kept_ids and not (ids - {min(ids)}) & kept_ids


def test_quantile_profile_exact_and_sketch(spark):
    from xmlschema_spark.operators import stats

    df = spark.range(0, 101, 1, 8).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2).cast("double").alias("y"),
    )
    got = {
        (r.column, r.p): r.value
        for r in stats.quantiles(df, ["x", "y"], probs=(0.0, 0.5, 1.0), exact=True).collect()
    }
    # exact interpolating percentile over 0..100 / 0..200
    assert got[("x", 0.0)] == 0.0
    assert got[("x", 0.5)] == 50.0
    assert got[("x", 1.0)] == 100.0
    assert got[("y", 0.5)] == 100.0
    # the one-pass sketch (scale path) agrees on the same input within
    # its accuracy bound at this size
    approx = {
        (r.column, r.p): r.value
        for r in stats.quantiles(df, ["x"], probs=(0.5,)).collect()
    }
    assert abs(approx[("x", 0.5)] - 50.0) <= 1.0


def test_profile_string_minmax_prefix_mode(spark):
    """profile(string_minmax='prefix') keeps the wide agg a streaming
    HashAggregate (exact string min/max demotes it to SortAggregate) and
    its min/max equal the exact values' 7-byte prefixes."""
    from xmlschema_spark.operators import stats

    df = spark.range(2000).select(
        F.concat(F.lit("doc_"), (F.col("id") * 37 % 997).cast("string")).alias("s")
    )
    exact = stats.profile(df, ["s"])
    pref = stats.profile(df, ["s"], string_minmax="prefix")
    assert "SortAggregate" in exact._jdf.queryExecution().executedPlan().toString()
    pp = pref._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in pp and "HashAggregate" in pp
    e, p = exact.collect()[0], pref.collect()[0]
    assert p.min_value == e.min_value[:7]
    assert p.max_value == e.max_value[:7]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        stats.profile(df, ["s"], string_minmax="nope")


# ------------------------------------------------------------------ skew detection

def test_heavy_hitters_shares_and_salts(spark):
    from xmlschema_spark.operators import stats
    # 80 'hot' rows, 15 'warm', 5 'cold' -> shares 0.8 / 0.15 / 0.05
    rows = [("hot",)] * 80 + [("warm",)] * 15 + [("cold",)] * 5
    df = spark.createDataFrame(rows, "k string")
    out = {r.k: r for r in stats.heavy_hitters(df, "k", min_share=0.10,
                                               rows_per_bucket=25).collect()}
    assert set(out) == {"hot", "warm"}  # cold is under the 10% floor
    assert out["hot"].n_rows == 80 and abs(out["hot"].share - 0.8) < 1e-9
    assert out["hot"].salt_buckets == 4   # ceil(80/25)
    assert out["warm"].salt_buckets == 1  # ceil(15/25) -> floor of 1


def test_heavy_hitters_no_salt_column_by_default(spark):
    from xmlschema_spark.operators import stats
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    out = stats.heavy_hitters(df, "k", min_share=0.5)
    assert out.columns == ["k", "n_rows", "share"]
    assert [r.k for r in out.collect()] == ["a"]


def test_heavy_hitters_bad_params(spark):
    from xmlschema_spark.operators import stats
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        stats.heavy_hitters(df, "k", min_share=0.0)
    with pytest.raises(ValueError):
        stats.heavy_hitters(df, "k", min_share=0.5, rows_per_bucket=0)


# ------------------------------------------------------- hamming / phash near-dup

def test_hamming_near_duplicates_vs_bruteforce(spark):
    import itertools
    import random

    rng = random.Random(7)
    sigs, i = [], 0
    for _ in range(8):
        b = rng.getrandbits(63)
        sigs.append((i, b)); i += 1
        sigs.append((i, b ^ (1 << (i % 60)))); i += 1                      # hamming 1
        sigs.append((i, b ^ (1 << (i % 60)) ^ (1 << ((i + 17) % 60)))); i += 1  # hamming 2
    df = spark.createDataFrame(sigs, "id long, sig long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.hamming_near_duplicates(
            df, "sig", "id", max_hamming=3, max_block_size=None
        ).collect()
    }
    exp = {}
    for (ia, sa), (ib, sb) in itertools.combinations(sigs, 2):
        h = bin(sa ^ sb).count("1")
        if h <= 3:
            exp[(ia, ib)] = h
    assert got == exp and len(exp) >= 24  # every within-group pair, nothing else


def test_hamming_pigeonhole_needs_enough_chunks(spark):
    df = spark.createDataFrame([(1, 5)], "id long, sig long")
    with pytest.raises(ValueError):
        dedup.hamming_near_duplicates(df, "sig", "id", max_hamming=4, chunk_bits=16)


def test_phash_near_duplicates_hot_family(spark):
    from collections import Counter

    df = generate_images_df(spark, 300, seed=5, hot_phash_frac=0.1)
    counts = Counter(r.phash for r in df.select("phash").collect())
    exp_pairs = sum(c * (c - 1) // 2 for c in counts.values())
    assert exp_pairs >= 30 * 29 // 2  # the injected hot family alone
    # uncapped: every identical-phash pair is found
    uncapped = dedup.phash_near_duplicates(
        df, "phash", "image_id", max_hamming=0, max_block_size=None
    )
    assert uncapped.count() == exp_pairs
    # capped: the hot block exceeds the cap -> dropped (bounded work, the
    # 10^12-scale contract), no partial quadratic blowup
    capped = dedup.phash_near_duplicates(
        df, "phash", "image_id", max_hamming=0, max_block_size=20
    )
    assert capped.count() < exp_pairs


# ------------------------------------------------------------- minhash estimates

def test_minhash_estimates_vs_exact_jaccard(spark, docs):
    import itertools
    import re as _re

    out = dedup.minhash_estimates(
        docs, "text", "doc_id", num_hashes=64, bands=32, shingle_k=3
    )
    got = {(r.id_a, r.id_b): r.est_jaccard for r in out.collect()}
    out.unpersist()
    assert got, "candidate set should not be empty on the near-dup fixture"

    # exact jaccard in plain python over the same normalization/shingling
    def sh(text, k=3):
        words = [w for w in _re.split(r"\s+", text.lower().strip()) if w]
        if len(words) >= k:
            return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}
        return {" ".join(words)}

    rows = {r.doc_id: r.text for r in docs.collect() if r.text is not None}
    for (a, b), est in got.items():
        sa, sb = sh(rows[a]), sh(rows[b])
        exact = len(sa & sb) / len(sa | sb)
        # 64 lanes: se = sqrt(J(1-J)/64) <= 0.0625; allow 4 se
        assert abs(est - exact) <= 0.25, (a, b, est, exact)
        assert 0.0 <= est <= 1.0

    # docs 0 and 3 are identical after normalization -> estimate exactly 1.0
    assert got[(0, 3)] == 1.0


def test_heavy_hitters_empty_input(spark):
    from xmlschema_spark.operators import stats
    df = spark.createDataFrame([], "k string")
    assert stats.heavy_hitters(df, "k", min_share=0.5).count() == 0


def test_phash_near_duplicates_empty(spark):
    df = spark.createDataFrame([], "image_id string, phash long")
    assert dedup.phash_near_duplicates(df, "phash", "image_id").count() == 0


def test_minhash_estimates_bad_bands(spark, docs):
    with pytest.raises(ValueError):
        dedup.minhash_estimates(docs, "text", "doc_id", num_hashes=10, bands=3)


# ---------------------------------------------------------------------------
# paired_cosine_check (cross-modal pair alignment)
# ---------------------------------------------------------------------------

def _pair_df(spark, rows):
    return spark.createDataFrame(
        rows, "id int, l array<float>, r array<float>"
    )


def test_paired_cosine_values_and_verdicts(spark):
    from xmlschema_spark.operators.similarity import paired_cosine_check

    out = {
        r["id"]: r
        for r in paired_cosine_check(
            _pair_df(
                spark,
                [
                    (1, [1.0, 0.0], [2.0, 0.0]),     # same direction, scaled
                    (2, [1.0, 0.0], [0.0, 1.0]),     # orthogonal
                    (3, [1.0, 0.0], [-1.0, 0.0]),    # opposite
                ],
            ),
            "id", "l", "r", min_cosine=0.5,
        ).collect()
    }
    assert abs(out[1]["cosine"] - 1.0) < 1e-12 and not out[1]["is_misaligned"]
    assert abs(out[2]["cosine"]) < 1e-12 and out[2]["is_misaligned"]
    assert abs(out[3]["cosine"] + 1.0) < 1e-12 and out[3]["is_misaligned"]
    assert all(out[i]["comparable"] and out[i]["reason"] is None for i in (1, 2, 3))


def test_paired_cosine_not_comparable_reasons(spark):
    from xmlschema_spark.operators.similarity import paired_cosine_check

    nan = float("nan")
    out = {
        r["id"]: (r["comparable"], r["reason"], r["cosine"], r["is_misaligned"])
        for r in paired_cosine_check(
            _pair_df(
                spark,
                [
                    (1, [1.0, 0.0], None),            # null
                    (2, [1.0, 0.0], [1.0, 0.0, 0.0]), # dim
                    (3, [1.0, nan], [1.0, 0.0]),      # nonfinite
                    (4, [1.0, 0.0], [0.0, 0.0]),      # zero norm
                    (5, None, [1.0, 0.0, 0.0]),       # null wins over dim
                ],
            ),
            "id", "l", "r", min_cosine=0.5,
        ).collect()
    }
    assert out[1] == (False, "null", None, False)
    assert out[2] == (False, "dim", None, False)
    assert out[3] == (False, "nonfinite", None, False)
    assert out[4] == (False, "zero", None, False)
    assert out[5] == (False, "null", None, False)


def test_paired_cosine_explicit_dim(spark):
    from xmlschema_spark.operators.similarity import paired_cosine_check

    # equal lengths but both wrong vs the declared dim
    rows = paired_cosine_check(
        _pair_df(spark, [(1, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0])]),
        "id", "l", "r", dim=2,
    ).collect()
    assert rows[0]["reason"] == "dim" and not rows[0]["comparable"]


def test_paired_cosine_map_only_plan(spark):
    from xmlschema_spark.operators.similarity import paired_cosine_check

    df = spark.range(500).selectExpr(
        "id",
        "array(CAST(id AS FLOAT), CAST(1 AS FLOAT)) AS l",
        "array(CAST(1 AS FLOAT), CAST(id AS FLOAT)) AS r",
    )
    plan = paired_cosine_check(df, "id", "l", "r")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_paired_cosine_bad_params(spark):
    from xmlschema_spark.operators.similarity import paired_cosine_check

    df = _pair_df(spark, [(1, [1.0], [1.0])])
    with pytest.raises(ValueError):
        paired_cosine_check(df, "id", "l", "r", min_cosine=1.5)
    with pytest.raises(ValueError):
        paired_cosine_check(df, "id", "l", "r", dim=0)


# ---------------------------------------------------------------------------
# ngram_lm_score (bigram LM quality / perplexity filter)
# ---------------------------------------------------------------------------

def _py_lm_scores(docs, alpha=0.5, model=None):
    """Pure-python reference of the add-alpha bigram scoring."""
    import math
    import re as _re

    def toks(s):
        return [t for t in _re.split(r"[^\w']+", s.lower()) if t]

    def bigrams(s):
        t = toks(s)
        return list(zip(t, t[1:]))

    model = docs if model is None else model
    c12, c1, vocab = {}, {}, set()
    for _, s in model:
        for w1, w2 in bigrams(s):
            c12[(w1, w2)] = c12.get((w1, w2), 0) + 1
            c1[w1] = c1.get(w1, 0) + 1
            vocab.add(w2)
    V = len(vocab)
    out = {}
    for i, s in docs:
        lps = [
            math.log((c12.get((w1, w2), 0) + alpha) / (c1.get(w1, 0) + alpha * V))
            for w1, w2 in bigrams(s)
        ]
        out[i] = (len(lps), sum(lps) / len(lps) if lps else None)
    return out


def test_ngram_lm_matches_python_reference(spark):
    from xmlschema_spark.operators.text import ngram_lm_score

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat"),
        (3, "zq glorb zq"),
        (4, "word"),          # 1 token -> no bigrams
        (5, "the cat sat on the mat the cat"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in ngram_lm_score(df, "doc_id", "text").collect()
    }
    want = _py_lm_scores(docs)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        if want[k][1] is None:
            assert got[k][1] is None, k
        else:
            assert abs(got[k][1] - want[k][1]) < 1e-9, k


def test_ngram_lm_fluent_beats_gibberish(spark):
    from xmlschema_spark.operators.text import ngram_lm_score

    corpus = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    probe = [(100, "the quick brown fox"), (101, "dog lazy the over jumps")]
    df = spark.createDataFrame(corpus + probe, "doc_id int, text string")
    got = {r["doc_id"]: r["avg_logp"] for r in ngram_lm_score(df, "doc_id", "text").collect()}
    assert got[100] > got[101]  # in-distribution phrase scores higher


def test_ngram_lm_separate_model_corpus(spark):
    from xmlschema_spark.operators.text import ngram_lm_score

    model = [(1, "alpha beta gamma"), (2, "alpha beta delta")]
    docs = [(10, "alpha beta"), (11, "beta alpha")]
    mdf = spark.createDataFrame(model, "doc_id int, text string")
    ddf = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: r["avg_logp"]
        for r in ngram_lm_score(ddf, "doc_id", "text", model_df=mdf).collect()
    }
    want = _py_lm_scores(docs, model=model)
    for k in want:
        assert abs(got[k] - want[k][1]) < 1e-9, k
    assert got[10] > got[11]  # seen bigram beats unseen


def test_ngram_lm_ppl_and_bad_alpha(spark):
    import math

    from xmlschema_spark.operators.text import ngram_lm_score

    df = spark.createDataFrame([(1, "a b a b")], "doc_id int, text string")
    r = ngram_lm_score(df, "doc_id", "text").collect()[0]
    assert abs(r["ppl"] - math.exp(-r["avg_logp"])) < 1e-9
    with pytest.raises(ValueError):
        ngram_lm_score(df, "doc_id", "text", alpha=0.0)


# ---------------------------------------------------------------------------
# token_entropy
# ---------------------------------------------------------------------------

def test_token_entropy_analytic_values(spark):
    import math

    from xmlschema_spark.operators.text import token_entropy

    docs = [
        (1, "a a a a"),          # one token type -> H = 0, ratio NULL
        (2, "a b c d"),          # uniform over 4 -> H = ln 4, ratio 1
        (3, "a a b b"),          # uniform over 2 -> H = ln 2, ratio 1
        (4, ""),                 # empty -> no tokens
        (5, "a a a b"),          # H = ln4 - (3 ln3)/4
    ]
    out = {
        r["doc_id"]: r
        for r in token_entropy(
            spark.createDataFrame(docs, "doc_id int, text string"), "doc_id", "text"
        ).collect()
    }
    assert out[1]["entropy"] == 0.0 and out[1]["entropy_ratio"] is None
    assert abs(out[2]["entropy"] - math.log(4)) < 1e-12
    assert abs(out[2]["entropy_ratio"] - 1.0) < 1e-12
    assert abs(out[3]["entropy"] - math.log(2)) < 1e-12
    assert out[4]["n_tokens"] == 0 and out[4]["entropy"] is None
    assert abs(out[5]["entropy"] - (math.log(4) - 3 * math.log(3) / 4)) < 1e-12
    assert out[5]["n_distinct"] == 2


def test_token_entropy_flags_stuffing(spark):
    from xmlschema_spark.operators.text import token_entropy

    docs = [
        (1, "buy " * 47 + "click here now"),                   # stuffing
        (2, "the quick brown fox jumps over a lazy dog today"),  # prose
    ]
    out = {
        r["doc_id"]: r["entropy_ratio"]
        for r in token_entropy(
            spark.createDataFrame(docs, "doc_id int, text string"), "doc_id", "text"
        ).collect()
    }
    assert out[2] > out[1]


def test_token_entropy_partial_agg_plan(spark):
    from xmlschema_spark.operators.text import token_entropy

    df = spark.range(500).selectExpr("id", "'a b c a' AS text")
    plan = token_entropy(df, "id", "text")._jdf.queryExecution().executedPlan().toString()
    # the (doc, token) count collapses map-side before its exchange
    assert "partial_count" in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


# ---------------------------------------------------------------------------
# keyref_coverage (per-partition referential verdicts)
# ---------------------------------------------------------------------------

def test_keyref_coverage_golden(spark):
    from xmlschema_spark.operators.identity import keyref_coverage

    fact = spark.createDataFrame(
        [
            ("p1", 1), ("p1", 2), ("p1", 99),           # one orphan
            ("p2", None), ("p2", None),                 # all-null fks
            ("p3", 98), ("p3", 99), ("p3", 1), ("p3", None),  # 2/3 orphans
        ],
        "part string, fk int",
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    out = {
        r["part"]: (r["n_rows"], r["n_null_fk"], r["n_orphans"],
                    r["orphan_frac"], r["is_broken"])
        for r in keyref_coverage(
            fact, ["fk"], dim, ["k"], ["part"], max_orphan_frac=0.5
        ).collect()
    }
    assert out["p1"] == (3, 0, 1, 1 / 3, False)
    assert out["p2"] == (2, 2, 0, None, False)  # no non-null fks: no verdict
    assert out["p3"] == (4, 1, 2, 2 / 3, True)


def test_keyref_coverage_composite_and_duplicate_pk(spark):
    from xmlschema_spark.operators.identity import keyref_coverage

    fact = spark.createDataFrame(
        [("p", 1, "a"), ("p", 1, "b"), ("p", 2, "a")], "part string, k1 int, k2 string"
    )
    # duplicated pk tuples must not double-count fact rows (left join + dedup)
    dim = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b")], "d1 int, d2 string"
    )
    r = keyref_coverage(
        fact, ["k1", "k2"], dim, ["d1", "d2"], ["part"]
    ).collect()[0]
    assert (r["n_rows"], r["n_orphans"]) == (3, 1)


def test_keyref_coverage_bad_params(spark):
    from xmlschema_spark.operators.identity import keyref_coverage

    fact = spark.createDataFrame([("p", 1)], "part string, fk int")
    dim = spark.createDataFrame([(1,)], "k int")
    for bad in (
        lambda: keyref_coverage(fact, ["fk"], dim, ["k", "k2"], ["part"]),
        lambda: keyref_coverage(fact, ["fk"], dim, ["k"], []),
        lambda: keyref_coverage(fact, ["fk"], dim, ["k"], ["part"], max_orphan_frac=1.0),
    ):
        with pytest.raises(ValueError):
            bad()


def test_keyref_coverage_broadcast_single_agg_plan(spark):
    from xmlschema_spark.operators.identity import keyref_coverage

    fact = spark.range(5000).selectExpr("CAST(id % 7 AS STRING) part", "id % 100 AS fk")
    dim = spark.range(80).selectExpr("id AS k")
    plan = keyref_coverage(
        fact, ["fk"], dim, ["k"], ["part"], broadcast_pk=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # fact side: no shuffle before the join; one exchange for the rollup
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan, plan
