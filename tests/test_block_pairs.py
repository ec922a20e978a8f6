"""The near-duplicate family's one blocked-pair core (dedup._block_pairs),
pinned through its five callers: minhash LSH, exact Jaccard, hamming,
embedding LSH and SemDeDup.

- the cap rule: a block of exactly ``cap`` pairable rows pairs, ``cap + 1``
  rows are dropped, and a NULL-id row never counts toward the cap;
- with a huge cap every generator equals a pure-Python O(n²) pairing;
- both hold under ``repartition(1)`` and ``repartition(7)``.
"""

import hashlib
import math
import random
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pytest
from pyspark.sql import functions as F

from xmlschema_spark.operators import dedup, similarity

HUGE = 10**9
CAP = 4


# ------------------------------------------------------------ pure Python


def _shingles(text: str, k: int) -> set[str]:
    words = " ".join(text.lower().split()).split(" ")
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _unit(v):
    """similarity.with_normalized: squares in float, sums in double."""
    n = math.sqrt(sum(float(np.float32(x) * np.float32(x)) for x in v))
    return [float(x) / n for x in v] if n > 0 else None


def _dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _each_pair(rows):
    """Every (id_a, value_a, id_b, value_b) with id_a < id_b; NULL ids
    never pair."""
    live = sorted((r for r in rows if r[0] is not None), key=lambda r: r[0])
    for i, (a, va) in enumerate(live):
        for b, vb in live[i + 1:]:
            if a < b:
                yield a, va, b, vb


NUM_HASHES, BANDS, SHINGLE_K = 8, 4, 2


def _minhash_brute(rows):
    per_band = NUM_HASHES // BANDS

    def bands(text):
        sh = _shingles(text, SHINGLE_K)
        lanes = [min(_md5(f"{i}:{s}") for s in sh) for i in range(NUM_HASHES)]
        return [
            _md5(",".join(lanes[b * per_band:(b + 1) * per_band])) for b in range(BANDS)
        ]

    out = set()
    for a, ta, b, tb in _each_pair(rows):
        shared = sum(x == y for x, y in zip(bands(ta), bands(tb)))
        if shared:
            out.add((a, b, shared))
    return out


def _jaccard_brute(rows):
    out = set()
    for a, ta, b, tb in _each_pair(rows):
        sa, sb = _shingles(ta, SHINGLE_K), _shingles(tb, SHINGLE_K)
        inter = len(sa & sb)
        if inter:
            out.add((a, b, inter / (len(sa) + len(sb) - inter)))
    return out


def _hamming_brute(rows):
    out = set()
    for a, x, b, y in _each_pair(rows):
        d = ((x ^ y) & 0xFFFFFFFFFFFFFFFF).bit_count()
        if d <= 3:
            out.add((a, b, d))
    return out


def _embedding_brute(rows):
    out = set()
    for a, va, b, vb in _each_pair(rows):
        ua, ub = _unit(va), _unit(vb)
        if ua is not None and ub is not None:
            cos = _dot(ua, ub)
            if cos >= 0.9:
                out.add((a, b, cos))
    return out


N_CLUSTERS = 3


def _semantic_brute(rows):
    """SemDeDup, seed mode: centroids are the unit vectors of the first
    N_CLUSTERS non-zero rows in id order (NULL ids sort first)."""
    live = [(i, _unit(v)) for i, v in rows if v is not None]
    live = [(i, u) for i, u in live if u is not None]
    by_id = sorted(live, key=lambda r: (r[0] is not None, r[0]))
    cent = np.array([u for _, u in by_id[:N_CLUSTERS]])
    cid = {
        j: int(c) + 1
        for j, c in enumerate((np.array([u for _, u in live]) @ cent.T).argmax(axis=1))
    }
    out = set()
    for j, (i, u) in enumerate(live):
        dup = None
        if i is not None:
            near = [
                k for m, (k, w) in enumerate(live)
                if k is not None and k < i and cid[m] == cid[j] and _dot(u, w) >= 0.9
            ]
            dup = min(near, default=None)
        out.add((i, cid[j], dup, dup is None))
    return out


# ------------------------------------------------------------ the generators


def _collect(df, unpersist=False):
    rows = {tuple(r) for r in df.collect()}
    if unpersist:
        df.unpersist()
    return rows


@dataclass
class Gen:
    name: str
    vtype: str
    item: Callable  # (rng) -> a random value
    near: Callable  # (rng, value) -> a near-duplicate of it
    run: Callable  # (df, cap) -> set of result tuples
    brute: Callable  # (rows) -> the same set, pure Python
    pairs_of: Callable = lambda out: {(t[0], t[1]) for t in out}  # noqa: E731


WORDS = [f"w{i}" for i in range(300)]


def _text(rng):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(6, 10)))


def _text_near(rng, t):
    words = t.split()
    words[rng.randrange(len(words))] = rng.choice(WORDS)
    return " ".join(words)


def _sig(rng):
    return rng.getrandbits(64) - (1 << 63)


def _sig_near(rng, s):
    for _ in range(rng.randint(0, 5)):
        s ^= 1 << rng.randrange(64)
    return s - (1 << 64) if s >= (1 << 63) else s


def _vec(rng):
    return [float(np.float32(rng.gauss(0, 1))) for _ in range(8)]


def _vec_near(rng, v):
    return [float(np.float32(x + rng.gauss(0, 0.05))) for x in v]


GENS = [
    Gen(
        "minhash_lsh", "string", _text, _text_near,
        lambda df, cap: _collect(dedup.minhash_lsh_candidates(
            df, "v", "id", num_hashes=NUM_HASHES, bands=BANDS, shingle_k=SHINGLE_K,
            max_bucket_size=cap, hash_family="md5",
        )),
        _minhash_brute,
    ),
    Gen(
        "jaccard", "string", _text, _text_near,
        lambda df, cap: _collect(dedup.jaccard_pairs(
            df, "v", "id", threshold=0.0, shingle_k=SHINGLE_K, max_postings=cap
        ), unpersist=True),
        _jaccard_brute,
    ),
    Gen(
        "hamming", "bigint", _sig, _sig_near,
        lambda df, cap: _collect(dedup.hamming_near_duplicates(
            df, "v", "id", max_hamming=3, max_block_size=cap
        )),
        _hamming_brute,
    ),
    Gen(
        "embedding", "array<float>", _vec, _vec_near,
        lambda df, cap: _collect(similarity.embedding_near_duplicates(
            df, "id", "v", threshold=0.9, n_planes=2, n_bands=32, max_bucket_size=cap
        )),
        _embedding_brute,
    ),
    Gen(
        "semantic_dedup", "array<float>", _vec, _vec_near,
        lambda df, cap: _collect(similarity.semantic_dedup(
            df, "id", "v", threshold=0.9, n_clusters=N_CLUSTERS, centroid_mode="seed",
            max_cluster_size=cap,
        ), unpersist=True),
        _semantic_brute,
        lambda out: {(d, i) for i, _, d, _ in out if d is not None},
    ),
]


def _frame(spark, gen, rows):
    return spark.createDataFrame(rows, f"id bigint, v {gen.vtype}")


def _seeded_rows(gen, seed=11):
    """Random items, planted near-duplicate groups, and a NULL-id copy."""
    rng = random.Random(seed)
    vals = []
    for _ in range(10):
        base = gen.item(rng)
        vals += [base] + [gen.near(rng, base) for _ in range(rng.randint(1, 3))]
    vals += [gen.item(rng) for _ in range(15)]
    order = list(range(len(vals)))
    rng.shuffle(order)
    rows = [(i * 3 + 1, vals[k]) for i, k in enumerate(order)]
    return rows + [(None, vals[0])]


def _same(got, want):
    """Equal result sets, floats within 1e-9 (Spark and Python may round
    the last bit of a cosine differently)."""

    def key(t):
        return tuple((x is None, 0 if x is None else x) for x in t[:2])

    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        all(
            math.isclose(x, y, rel_tol=0, abs_tol=1e-9) if isinstance(x, float) else x == y
            for x, y in zip(g, w)
        )
        for g, w in zip(got, want)
    )


# ------------------------------------------------------------------ tests


@pytest.mark.parametrize("gen", GENS, ids=lambda g: g.name)
def test_huge_cap_equals_bruteforce_under_any_partitioning(spark, gen):
    rows = _seeded_rows(gen)
    want = gen.brute(rows)
    assert len(gen.pairs_of(want)) >= 5  # the planted groups pair
    df = _frame(spark, gen, rows)
    for n in (1, 7):
        assert _same(gen.run(df.repartition(n), HUGE), want), n


@pytest.mark.parametrize("gen", GENS, ids=lambda g: g.name)
def test_cap_counts_pairable_rows(spark, gen):
    """One block of identical items: every block the generator builds
    holds exactly these rows, so the cap decides alone."""
    value = gen.item(random.Random(5))
    group = [(i, value) for i in range(10, 10 + CAP)]
    all_pairs = {(a, b) for a, _, b, _ in _each_pair(group)}
    if gen.name == "semantic_dedup":  # lower id wins: every member keys on the min
        all_pairs = {(10, b) for _, b in all_pairs}

    at_cap = gen.run(_frame(spark, gen, group).repartition(3), CAP)
    assert gen.pairs_of(at_cap) == all_pairs
    assert _same(at_cap, gen.brute(group))

    over = group + [(99, value)]
    assert gen.pairs_of(gen.run(_frame(spark, gen, over).repartition(3), CAP)) == set()

    with_null = group + [(None, value)]
    out = gen.run(_frame(spark, gen, with_null).repartition(3), CAP)
    assert gen.pairs_of(out) == all_pairs
    assert _same(out, gen.brute(with_null))


def test_blocks_at_the_default_cap_pair_and_a_hot_block_drops(spark):
    """A few thousand rows at embedding_near_duplicates' default cap (2000):
    a bucket of exactly 2000 pairable rows (plus a NULL-id copy) yields all
    2000·1999/2 pairs, and a bucket of 2001 rows yields none."""
    dim, cap = 8, 2000
    v = lambda k: F.array(*[F.lit(1.0 if j == k else 0.0) for j in range(dim)])  # noqa: E731
    rows = spark.range(2 * cap + 1).select(
        "id", F.when(F.col("id") < cap, v(0)).otherwise(v(1)).alias("v")
    ).unionByName(spark.range(1).select(F.lit(None).cast("bigint").alias("id"), v(0).alias("v")))
    out = similarity.embedding_near_duplicates(rows.repartition(5), "id", "v").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id_a").alias("lo"),
        F.max("id_b").alias("hi"),
        F.min("cosine").alias("cos"),
    ).first()
    assert (out.n, out.lo, out.hi) == (cap * (cap - 1) // 2, 0, cap - 1)
    assert math.isclose(out.cos, 1.0, abs_tol=1e-12)
