"""Deduplication operators for large-scale text/training-data pipelines.

No direct reference analog (the closest is xs:ID/unique duplicate
detection, identities.py:198-221, generalized from exact keys to content
similarity). All variants are shuffle-conscious:

- exact: hash the normalized content, groupBy — two-phase agg, one shuffle.
- near-duplicates: every similarity generator here and in similarity.py
  assigns rows to blocks and pairs rows only within a block, through one
  core, :func:`_block_pairs` — a window count on the block key drops
  blocks above a cap, and a self-join on the block key pairs the rest
  with ``id_a < id_b``. No O(n²) anywhere; the blockings are:
  - minhash LSH: shingle → k minhashes via built-in ``xxhash64(col,
    seed)`` (fully JVM-side, no UDF) → band hashes → block on (band,
    band_hash) → count shared bands per pair;
  - exact Jaccard: an inverted index — block on shingle, count common
    shingles per pair, divide by |∪| from per-doc sizes;
  - simhash / phash: 64-bit signatures (simhash computed fully JVM-side:
    explode tokens → hash → SWAR-packed vote lanes in one
    partial-aggregated hash agg), pigeonhole-blocked on signature
    chunks, verified by hamming distance;
  - embeddings: hyperplane-LSH buckets or SemDeDup cells
    (see similarity.py), verified by cosine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col):
    """Lowercase, collapse whitespace — the whiteSpace-facet 'collapse'
    normalization (facets.py:96-129) applied as cleanup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_duplicates(
    df: DataFrame, text_col: str, id_col: str, max_ids: int | None = 100
) -> DataFrame:
    """Groups of byte-identical (normalized) docs → (content_hash, n_docs,
    doc_ids, min_doc_id, max_doc_id). One shuffle; map-side partial agg
    handles skew.

    ``max_ids`` bounds the per-group id list to the ``max_ids`` smallest
    ids via a windowed top-k: the window sort is sort-based and
    spill-safe, the filter drops rows beyond k BEFORE collect_list, and
    the follow-up groupBy reuses the window's hash partitioning (no
    second exchange). At 10^12 rows a boilerplate document can have 10^8
    copies — an unbounded ``collect_list`` buffer would OOM the agg — so
    the DEFAULT is bounded (100); pass ``max_ids=None`` explicitly for
    the full sorted list at small scale. ``n_docs`` and
    ``min_doc_id``/``max_doc_id`` stay exact on either path (fixed-size
    agg buffers), so downstream consumers that only need the group
    extremes never depend on the truncated list."""
    from pyspark.sql import Window

    h = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    grouped = df.select(h, F.col(id_col))
    if max_ids is None:
        return (
            grouped.groupBy("content_hash")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
                F.min(id_col).alias("min_doc_id"),
                F.max(id_col).alias("max_doc_id"),
            )
            .filter(F.col("n_docs") > 1)
        )
    # exact extremes computed in the same window pass, BEFORE the top-k
    # filter drops rows — the capped doc_ids list never loses min/max info
    w = Window.partitionBy("content_hash")
    ranked = (
        grouped.withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn("__min", F.min(id_col).over(w))
        .withColumn("__max", F.max(id_col).over(w))
        .withColumn("__rn", F.row_number().over(w.orderBy(id_col)))
        .filter((F.col("__n") > 1) & (F.col("__rn") <= max_ids))
    )
    return ranked.groupBy("content_hash").agg(
        F.first("__n").alias("n_docs"),
        F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        F.first("__min").alias("min_doc_id"),
        F.first("__max").alias("max_doc_id"),
    )


def drop_exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The pipeline-facing dedup: keep ONE representative per
    byte-identical (normalized) content group — the smallest ``id_col``
    value, so the choice is deterministic — and drop the rest. Returns
    the deduplicated rows with the original schema.

    Plan: one hash-partition window on the content hash (sort-based,
    spill-safe), filter ``row_number() == 1`` — no collect_list, no agg
    buffer growth on boilerplate groups, safe at any group size."""
    from pyspark.sql import Window

    h = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy(h).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(col, k: int = 5):
    """Word k-shingles as an array column (JVM-side).

    Built as a fold of ``zip_with`` over k shifted views of the word array
    rather than per-position ``slice`` inside ``transform``: higher-order
    functions are interpreted (not codegen), so the per-position-slice
    form cost O(words) expression evals per row — ~10x slower measured.
    """
    words = F.split(normalize_text(col), " ")
    n = F.size(words)
    m = n - (k - 1)  # number of k-shingles
    acc = F.slice(words, F.lit(1), m)
    for i in range(1, k):
        shifted = F.slice(words, F.lit(i + 1), m)
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(n >= k, F.array_distinct(acc)).otherwise(
        F.array(F.concat_ws(" ", words))
    )


def _block_pairs(rows: DataFrame, block_cols: list[str], cap: int | None) -> DataFrame:
    """The within-block pairing every near-duplicate generator shares.

    ``rows`` holds an ``id`` column, the ``block_cols`` and any payload
    columns. A row is *pairable* when its id and all its block columns
    are non-NULL; other rows never pair and never count.

    The cap rule, for every caller: a block with more than ``cap``
    pairable rows is dropped whole, so a block of exactly ``cap`` rows
    still pairs. This is the skew guard against quadratic blow-up — a
    boilerplate band bucket, a stopword shingle, a near-black phash
    chunk, a zero-vector LSH bucket or an overfull SemDeDup cell would
    otherwise pair 10^12 candidates. Dropped blocks are dropped coverage
    (like hot-key salting caps): a pair that shares ONLY over-cap blocks
    is missed. ``cap=None`` keeps every block.

    Returns one row per (pair, shared block): ``id_a < id_b`` and each
    payload column ``p`` as ``p_a`` and ``p_b``. A pair sharing k blocks
    appears k times; callers count or de-duplicate.

    Plan: the cap is a window count over the block key, and the pairs
    are a self-join on the block key with ``id_a < id_b``; the window's
    one shuffle feeds both sides, so the block-key computation (minhash
    lanes, Arrow-batched signatures) runs once. No block is ever
    gathered into one value — the window and a sort-merge join hold one
    block's rows at a time in Spark's spillable row buffers (a broadcast
    join is picked only for inputs under the broadcast threshold), and
    the pairs stream out of the join — so a hot block (a stopword's posting
    list, a million empty docs sharing one band hash) costs a spill, not
    a task's heap. Two alternatives measured worse: a count plus
    broadcast anti-join re-runs the block-key computation for the
    count, and expanding a collected list into its pairs exhausted a
    2 GB heap on one 5000-row SemDeDup cell under the cosine verify."""
    cols = ["id", *[c for c in rows.columns if c != "id" and c not in block_cols]]
    rows = rows.dropna(subset=["id", *block_cols])
    if cap is not None:
        n = F.count(F.lit(1)).over(Window.partitionBy(*block_cols))
        rows = rows.withColumn("__n", n).filter(F.col("__n") <= cap)

    def side(s):
        return rows.select(*block_cols, *[F.col(c).alias(f"{c}_{s}") for c in cols])

    return (
        side("a")
        .join(side("b"), block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*[f"{c}_{s}" for c in cols for s in ("a", "b")])
    )


def minhash_signature(shingle_col, num_hashes: int = 64, hash_family: str = "xxhash64"):
    """k minhash values, each = min over shingles of hash(shingle, seed).
    Pure built-ins: transform + array_min + hash — whole-stage codegen,
    no Python in the hot path.

    ``hash_family``:

    - ``"xxhash64"`` (default, the scale path): seeded 64-bit longs —
      fastest JVM hash Spark exposes, but not computable by the DuckDB
      oracle, so queries over it are rows-only checked.
    - ``"md5"`` (the PORTABLE family): lane i = lexicographic min of
      ``md5('<i>:' || shingle)`` hex strings. Both Spark and DuckDB emit
      identical lowercase 32-char hex, and fixed-length hex compares
      lexicographically exactly as the 128-bit value compares numerically
      — so the ENTIRE minhash+LSH pipeline (shingling, lanes, banding,
      bucket pairing, caps) becomes end-to-end oracle-certifiable, not just
      a hash-free sibling. Identical plan shape; md5 costs ~2-3x xxhash64
      per call, which is why it is the certification family, not the
      production default.
    """
    if hash_family == "xxhash64":
        lane = lambda seed: F.array_min(  # noqa: E731
            F.transform(shingle_col, lambda s: F.xxhash64(s, F.lit(seed)))
        )
    elif hash_family == "md5":
        lane = lambda seed: F.array_min(  # noqa: E731
            F.transform(shingle_col, lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s)))
        )
    else:
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}")
    return F.array(*[lane(seed) for seed in range(num_hashes)])


def band_hash_array(sig_col, num_hashes: int, bands: int, hash_family: str = "xxhash64"):
    """The LSH banding expression: ``bands`` hashes, band b = hash of the
    comma-joined minhash lanes in rows b*r..(b+1)*r. Shared by the batch
    candidate generator (:func:`minhash_lsh_candidates`) and the
    streaming near-dedup (streaming/dedup.py) so both sides provably
    agree on what a band collision is. Pure built-ins — codegen in batch,
    and valid inside a streaming projection."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    band_hash = F.xxhash64 if hash_family == "xxhash64" else F.md5
    return F.array(
        *[
            band_hash(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(sig_col, b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket_size: int = 200,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded minhash LSH →
    (id_a, id_b, n_shared_bands). rows/band = num_hashes/bands controls the
    similarity threshold (~ (1/bands)^(1/rows)).

    Scale notes: the shuffles are the band-bucket pairing's and the pair
    groupBy's. ``max_bucket_size`` is the block cap (see
    :func:`_block_pairs`) against degenerate buckets (e.g. empty docs /
    boilerplate).

    ``hash_family``: see :func:`minhash_signature` — ``"md5"`` makes the
    whole pipeline DuckDB-oracle-expressible (band hash = md5 of the
    comma-joined lane strings), ``"xxhash64"`` is the production default.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    # materialize shingles ONCE, then hash: inlining the shingle expression
    # into all k minhash lanes would re-evaluate it k times per row.
    shingled = df.select(
        F.col(id_col).alias("doc"), shingles(F.col(text_col), shingle_k).alias("sh")
    )
    sig = minhash_signature(F.col("sh"), num_hashes, hash_family)
    sigs = shingled.select(F.col("doc"), sig.alias("sig"))
    return _lsh_pairs_from_sigs(sigs, num_hashes, bands, max_bucket_size, hash_family)


def _lsh_pairs_from_sigs(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket_size: int,
    hash_family: str,
) -> DataFrame:
    """The banding stage of minhash LSH over a precomputed (doc, sig)
    table → (id_a, id_b, n_shared_bands): :func:`_block_pairs` on
    (band, band_hash), capped at ``max_bucket_size``. Shared by
    :func:`minhash_lsh_candidates` (computes signatures inline) and
    :func:`minhash_estimates` (persists signatures so the estimate join
    reuses them)."""
    banded = sigs.select(
        F.col("doc").alias("id"),
        F.posexplode(
            band_hash_array(F.col("sig"), num_hashes, bands, hash_family)
        ).alias("band", "band_hash"),
    )
    pairs = _block_pairs(banded, ["band", "band_hash"], max_bucket_size)
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_shared_bands"))


def minhash_estimates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket_size: int = 200,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs WITH their estimated Jaccard similarity:
    ``est_jaccard`` = fraction of agreeing minhash lanes — the unbiased
    minhash estimator of J(a,b) (se ≈ sqrt(J(1-J)/num_hashes)). This is
    the cheap VERIFICATION step between candidate generation and an
    exact confirm: scoring a pair costs one array comparison instead of
    re-intersecting shingle sets, so downstream thresholds (keep/drop,
    clustering edge weights) can run on the candidate set directly.

    The result is materialized eagerly (persist + count) and the
    signature intermediate released before returning. Call
    ``.unpersist()`` on the RETURNED DataFrame when done with it (same
    contract as :func:`jaccard_pairs` / ``ValidationResult.unpersist``);
    long-lived callers that need the estimate more than once should
    reuse the one returned DataFrame rather than re-invoking.

    Plan shape: the signature table is computed ONCE and persisted for
    the duration of the call; banding/bucketing reads it, and the two
    id-equi-joins that attach both signatures to each pair read it
    again (candidate pairs are orders of magnitude fewer than corpus
    rows, so both joins are small-side). Released before returning —
    same eager-materialize contract as :func:`jaccard_pairs`.

    ``hash_family='md5'`` makes the estimate itself oracle-expressible
    (lane equality over DuckDB-reproducible hex lanes)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    shingled = df.select(
        F.col(id_col).alias("doc"), shingles(F.col(text_col), shingle_k).alias("sh")
    )
    sigs = shingled.select(
        "doc", minhash_signature(F.col("sh"), num_hashes, hash_family).alias("sig")
    ).persist()
    pairs = _lsh_pairs_from_sigs(sigs, num_hashes, bands, max_bucket_size, hash_family)
    sa = sigs.select(F.col("doc").alias("id_a"), F.col("sig").alias("__sa"))
    sb = sigs.select(F.col("doc").alias("id_b"), F.col("sig").alias("__sb"))
    est = F.round(
        F.size(F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda v: v))
        / F.lit(num_hashes),
        4,
    )
    out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .select("id_a", "id_b", "n_shared_bands", "est_jaccard")
        .persist()
    )
    out.count()  # materialize so `sigs` can be released before returning
    sigs.unpersist()
    return out


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_k: int = 5,
    max_postings: int = 500,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted index
    (explode shingles → :func:`_block_pairs` on shingle → |∩| per pair →
    |∪| from per-doc sizes) → (id_a, id_b, jaccard). No O(n²) cross
    join; ``max_postings`` is the block cap (see :func:`_block_pairs`),
    which bounds hot shingles (stopword-only shingles).

    The shingled intermediate is persisted for the duration of this call
    only: the result is materialized eagerly (persist + count) and the
    intermediate released before returning, so repeated calls in a
    long-lived driver don't leak cached storage. Call ``.unpersist()`` on
    the RETURNED DataFrame when done with it (same contract as
    ``ValidationResult.unpersist``)."""
    # persist the shingled form: it feeds both the sizes and the postings —
    # recomputing the nested split/sequence/slice/concat expression per
    # consumer dominated wall time (4x measured speedup at sf0.1)
    sh = df.select(
        F.col(id_col).alias("doc"), shingles(F.col(text_col), shingle_k).alias("sh")
    ).persist()
    sizes = sh.select("doc", F.size("sh").alias("n"))
    posts = sh.select(F.col("doc").alias("id"), F.explode("sh").alias("shingle"))
    inter = (
        _block_pairs(posts, ["shingle"], max_postings)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n").alias("nb"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .persist()
    )
    out.count()  # materialize so `sh` can be released before returning
    sh.unpersist()
    return out


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, hash_family: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per doc, fully JVM-side → (doc, simhash).

    Shape: explode tokens → 64-bit token hash → SWAR-packed bit votes
    (16 longs of four 16-bit lanes, see the inline comment) in ONE hash
    aggregation → reassemble the sign bits into a long. No Python
    anywhere (round 1 hashed per token in a Python inner loop — the one
    UDF the plan audit flagged).

    Scale note: the explode multiplies rows by ~tokens/doc, but all of a
    doc's tokens sit in the SAME input partition, so the partial (map-side)
    aggregate collapses them back to one 64-vote row per doc before the
    exchange — the shuffle moves n_docs rows of 17 longs, not n_tokens
    rows. Empty/whitespace-only/null docs keep signature 0 (the round-1
    behavior) via the left join back to the id set.

    ``hash_family``: ``"xxhash64"`` (production) takes the token's seeded
    JVM hash directly; ``"md5"`` (the portable certification family, see
    :func:`minhash_signature`) takes the 64 bits of the first 16 hex chars
    of ``md5(token)``, bit b = bit (b mod 4) of hex nibble (b div 4) —
    nibble-wise so both Spark (``conv``) and DuckDB (``strpos`` against
    '0123456789abcdef') decode identically with no 64-bit unsigned
    overflow anywhere. Same plan shape either way.
    """
    ids = df.select(F.col(id_col).alias("doc"))
    # SWAR-packed bit votes (r3): instead of 64 conditional sums (64 CASE
    # WHEN per token, 64 long agg buffers), pack the 64 bit-counters into
    # 16 longs of four 16-bit lanes each. Lane g accumulates bits
    # {g, g+16, g+32, g+48}: one shift + one mask per token per lane
    # ((h >>> g) & 0x0001000100010001 drops those four bits at positions
    # 0/16/32/48), branchless, 4x fewer expressions and a 17-column agg
    # buffer instead of 64. vote_b = 2*ones_b - n_tokens, recovered after
    # the aggregation from ones_b = (lane >> 16k) & 0xFFFF.
    # 16-bit lanes bound the per-doc token count at 65535 — tokens beyond
    # that are dropped (F.slice before the explode): a >65k-token doc is
    # ~0.5 MB of text, and a 65535-token prefix signature is still the
    # document's signature for near-dup purposes; the cap is what keeps
    # the counters overflow-free at any corpus scale.
    _LANE_MASK = 0x0001000100010001
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.slice(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
                ),
                1,
                65535,
            )
        ).alias("tok"),
    )
    if hash_family == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("tok"))
    elif hash_family == "md5":
        # reassemble the first 16 hex nibbles of md5 into one long so the
        # same SWAR lanes apply; conv runs 16x per token (as before), the
        # votes are then branchless. Bit b of h = bit (b mod 4) of nibble
        # (b div 4) — matching the DuckDB oracle's strpos nibble decode.
        h = None
        for j in range(16):
            nib = F.conv(F.substring(F.md5("tok"), j + 1, 1), 16, 10).cast("long")
            term = F.shiftleft(nib, 4 * j)
            h = term if h is None else h.bitwiseOR(term)
        toks = toks.withColumn("h", h)
    else:
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}")
    votes = toks.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_toks"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), g).bitwiseAND(F.lit(_LANE_MASK))
            ).alias(f"l{g}")
            for g in range(16)
        ],
    )
    sig = None
    for b in range(64):
        g, k = b % 16, b // 16
        ones = F.shiftrightunsigned(F.col(f"l{g}"), 16 * k).bitwiseAND(F.lit(0xFFFF))
        # vote_b > 0  <=>  2*ones_b - n > 0
        bit = F.when(
            ones * 2 > F.col("n_toks"), F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    sigs = votes.select("doc", sig.alias("simhash"))
    return ids.join(sigs, "doc", "left").select(
        "doc", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunk_bits: int = 16,
    max_block_size: int = 200,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming ≤ k, found scalably via the
    pigeonhole trick: split 64 bits into (max_hamming+1) chunks — any pair
    within hamming k agrees exactly on ≥1 chunk → block on chunk value,
    verify hamming inside blocks (:func:`hamming_near_duplicates`); no
    O(n²).

    ``max_block_size`` is the block cap (see :func:`_block_pairs`): on a
    boilerplate-heavy corpus millions of near-empty docs share signature
    0, and one popular (chunk_idx, chunk_val) block would otherwise make
    the within-block pairing quadratic. Pass ``None`` to disable
    (exhaustive small-scale/test use).

    ``hash_family``: see :func:`simhash_signatures` — ``"md5"`` makes this
    whole operator DuckDB-oracle-expressible end to end."""
    sigs = simhash_signatures(df, text_col, id_col, hash_family)
    return hamming_near_duplicates(
        sigs, "simhash", "doc",
        max_hamming=max_hamming, chunk_bits=chunk_bits,
        max_block_size=max_block_size,
    )


def hamming_near_duplicates(
    df: DataFrame,
    sig_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunk_bits: int = 16,
    max_block_size: int | None = 200,
) -> DataFrame:
    """Pairs of rows whose PRECOMPUTED 64-bit signatures differ in at
    most ``max_hamming`` bits — the pigeonhole-blocked hamming pairing
    shared by :func:`simhash_near_duplicates` (which computes its
    signature from text first) and :func:`phash_near_duplicates` (whose
    signature already sits in the table). Split 64 bits into
    64/chunk_bits chunks: any pair within hamming k agrees exactly on
    ≥ 1 chunk when chunks > k, so :func:`_block_pairs` on (chunk_idx,
    chunk_val), de-duplicated across chunks, finds every qualifying pair
    — no O(n²) anywhere.

    ``max_block_size`` is the block cap (see :func:`_block_pairs`), e.g.
    against millions of near-black images sharing a phash chunk. Pass
    ``None`` to disable (exhaustive small-scale/oracle use). Output:
    (id_a, id_b, hamming), id_a < id_b.
    """
    n_chunks = 64 // chunk_bits
    if max_hamming >= n_chunks:
        raise ValueError("need chunks > max_hamming for pigeonhole completeness")
    mask = (1 << chunk_bits) - 1
    sig = F.col(sig_col)
    chunks = df.select(
        F.col(id_col).alias("id"),
        sig.alias("sig"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(sig, i * chunk_bits).bitwiseAND(F.lit(mask))
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    cand = _block_pairs(chunks, ["chunk_idx", "chunk_val"], max_block_size).dropDuplicates(
        ["id_a", "id_b"]
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def phash_near_duplicates(
    df: DataFrame,
    phash_col: str = "phash",
    id_col: str = "image_id",
    max_hamming: int = 3,
    chunk_bits: int = 16,
    max_block_size: int | None = 200,
) -> DataFrame:
    """Perceptual near-duplicate IMAGE pairs: rows of the image+caption
    table (input_hint: ``phash:int64``) whose perceptual hashes differ in
    ≤ ``max_hamming`` bits. A phash IS a 64-bit similarity signature —
    visually identical images (recompressions, format conversions, tiny
    crops) land within a few bits of each other — so image near-dup
    detection is :func:`hamming_near_duplicates` applied to the stored
    column: no decode, no pandas UDF, pure JVM bit arithmetic over an
    8-byte column at 10^12-image scale. Pairs feed the same
    :func:`connected_components` → :func:`drop_near_duplicates` chain as
    the text near-dup operators.

    The signature-producing sibling is ``multimodal.extract_features``'
    ``phash`` output (functions/codec.py), whose decode-side consistency
    check (``phash_consistency``) validates stored phashes against pixel
    content; this operator then mines the validated column."""
    return hamming_near_duplicates(
        df, phash_col, id_col,
        max_hamming=max_hamming, chunk_bits=chunk_bits,
        max_block_size=max_block_size,
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Group near-dup candidate PAIRS into duplicate clusters:
    (node, component) for every id appearing in ``pairs``, where
    ``component`` is the minimum id reachable through the pair graph —
    i.e. the cluster's canonical representative. This is the step that
    turns any candidate generator here (minhash/simhash/jaccard/embedding
    pairs) into an actionable keep/drop decision; the reference's analog
    is the ID/IDREF identity graph (identities.py:198-221) generalized
    from exact keys to similarity edges.

    Min-label propagation: each round every node adopts the smallest
    label among itself and its neighbors — one join + one aggregation
    (two shuffles) per round, converging in O(graph diameter) rounds.
    That bound is what makes this safe at 10^12 docs: every candidate
    generator upstream caps its blocks/buckets/postings, so components
    are small and dense (diameter rarely exceeds a handful of hops) —
    the pathological long-chain graphs that motivate large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    cannot be produced by the capped generators. ``max_iterations`` is a
    hard stop regardless.

    Per round the label table is ``localCheckpoint``-ed (eager): labels
    feed the next round's join AND the convergence check, and without
    truncation the lineage — and Catalyst planning time — grows per
    round. Convergence = zero changed labels (labels only ever decrease,
    so one ``limit(1)`` probe suffices). Only nodes present in ``pairs``
    appear in the output; singletons are their own (absent) cluster."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist()
    )
    labels = edges.select(
        F.col("u").alias("node"), F.col("u").alias("component")
    ).distinct().localCheckpoint(eager=True)
    for _ in range(max_iterations):
        msgs = edges.join(
            labels, edges["u"] == labels["node"]
        ).select(F.col("v").alias("node"), "component")
        new = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    return labels


def drop_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Keep one representative per near-dup cluster: rows of ``df`` whose
    id is either in no candidate pair or is its cluster's minimum id.
    The near-dup analog of :func:`drop_exact_duplicates` — composition:
    candidate generator → :func:`connected_components` → left-anti join
    (broadcast-friendly: the drop list is ``n_dup_docs - n_clusters``
    rows of one id column, tiny relative to the corpus)."""
    comps = connected_components(pairs, src, dst, max_iterations)
    drop = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def crossmodal_near_duplicates(
    df: DataFrame,
    text_col: str,
    phash_col: str,
    id_col: str,
    policy: str = "either",
    max_hamming: int = 3,
    est_threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket_size: int = 200,
    max_block_size: int | None = 200,
    chunk_bits: int = 16,
    hash_family: str = "xxhash64",
    estimates: DataFrame | None = None,
) -> DataFrame:
    """Cross-modal near-duplicate pairs over an image+caption table
    (input_hint shape: ``phash:int64`` + ``caption:string``): the image
    side mines the stored perceptual hash via the pigeonhole-blocked
    hamming join (:func:`phash_near_duplicates`), the caption side mines
    text via minhash LSH + lane-agreement Jaccard estimate
    (:func:`minhash_estimates` filtered at ``est_threshold``), and the
    two pair sets are combined per ``policy``:

    - ``'either'`` (default): a pair is near-dup if EITHER modality
      matches — the aggressive crawl-dedup setting (same photo with a
      rewritten alt-text, or the same caption on a recompressed image,
      both get suppressed). Full outer join of the two pair sets.
    - ``'both'``: near-dup only when BOTH modalities agree — the
      conservative setting that never drops a genuine (new image, reused
      caption) or (new caption, reused image) pair. Inner join.

    Output: (id_a, id_b, hamming, est_jaccard, modality) with id_a <
    id_b; ``hamming``/``est_jaccard`` are NULL for pairs found by the
    other modality only, ``modality`` ∈ {'image','text','both'}. Feed
    into :func:`connected_components` / :func:`drop_near_duplicates`
    exactly like the single-modality generators.

    Scale shape: both generators are independently bounded (LSH bucket
    cap, pigeonhole block cap), so the final join runs on two pair-scale
    tables orders of magnitude smaller than the corpus; no stage touches
    O(n²). The corpus is scanned twice (once per modality) — at 10^12
    rows that beats one fused scan because the image side never needs
    the caption bytes in its shuffle and vice versa.

    ``estimates``: pass a precomputed :func:`minhash_estimates` result
    (caller-owned, NOT unpersisted here) to share one estimate table
    across several consumers; the lane/band params are then ignored and
    the returned plan is lazy. Without it the estimate is computed
    internally and the result is materialized eagerly (persist + count)
    so the intermediate can be released — call ``.unpersist()`` on the
    RETURNED DataFrame when done (same contract as
    :func:`minhash_estimates` / :func:`jaccard_pairs`)."""
    if policy not in ("either", "both"):
        raise ValueError("policy must be 'either' or 'both'")
    img = hamming_near_duplicates(
        df, phash_col, id_col,
        max_hamming=max_hamming, chunk_bits=chunk_bits,
        max_block_size=max_block_size,
    ).withColumn("hamming", F.col("hamming").cast("int"))
    owned = estimates is None
    est = estimates if estimates is not None else minhash_estimates(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_k=shingle_k, max_bucket_size=max_bucket_size,
        hash_family=hash_family,
    )
    txt = est.filter(F.col("est_jaccard") >= est_threshold).select(
        "id_a", "id_b", "est_jaccard"
    )
    how = "inner" if policy == "both" else "full_outer"
    out = img.join(txt, ["id_a", "id_b"], how).select(
        "id_a",
        "id_b",
        "hamming",
        "est_jaccard",
        F.when(F.col("hamming").isNotNull() & F.col("est_jaccard").isNotNull(),
               F.lit("both"))
        .when(F.col("hamming").isNotNull(), F.lit("image"))
        .otherwise(F.lit("text"))
        .alias("modality"),
    )
    if owned:
        out = out.persist()
        out.count()  # materialize so the estimate table can be released
        est.unpersist()
    return out


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_docs: int = 2,
    stride: int = 1,
) -> DataFrame:
    """Exact substring-span dedup: maximal character spans whose every
    ``k``-gram also appears in at least ``min_docs - 1`` OTHER documents
    — the span-level twin of :func:`exact_duplicates` (whole-doc) and
    :func:`minhash_lsh_candidates` (whole-doc approximate). This is the
    "duplicated training text occurs INSIDE otherwise-unique documents"
    case (boilerplate headers, license blocks, quoted passages) that
    whole-document dedup can't see.

    Semantics (char grams, 1-based positions like ``substring``):

    1. every position ``p ∈ {1, 1+stride, ...}`` with ``p + k - 1 <=
       length(text)`` emits the gram ``substring(text, p, k)``;
    2. a gram is *duplicated* when it occurs in >= ``min_docs`` DISTINCT
       documents (within-doc repeats alone don't qualify);
    3. per document, duplicated-gram positions are merged into maximal
       spans: two hits ``p1 < p2`` share a span iff ``p2 - p1 <= k``
       (their windows overlap or touch), i.e. the classic
       gaps-and-islands rule. Output span covers ``[span_start,
       span_end]`` inclusive.

    Returns (``id_col``, span_start, span_end, span_len), all longs.

    Plan shape: the gram generation is ONE whole-stage-codegen projection
    (``transform(sequence(...)) → xxhash64(substring(...))`` — grams
    leave the scan as 8-byte longs, never as strings) followed by an
    explode; the duplicated-gram set is one hash agg on the gram hash
    (partial count-distinct below the exchange); the join back is an
    equi-join on the same 8-byte key whose output is bounded by the
    total gram count (each occurrence matches at most once); the merge
    is one window per doc (sort-based, spill-safe) + one reusing hash
    agg. Nothing is O(n²) and no string longer than ``k`` bytes enters
    any shuffle.

    Scale knobs: ``stride > 1`` cuts gram volume by ``stride``× — with
    window ``k >= 2*stride - 1`` every duplicated run of length ``k +
    stride - 1`` is still caught (span boundaries then quantize to the
    stride grid; positions stay exact for stride=1, the certified
    setting). Grams are compared by ``xxhash64`` (same 64-bit-collision
    assumption as the minhash/fingerprint families: ~n²/2^64,
    negligible below 10^9 distinct grams per comparison domain).

    Reference analog: xs:unique applied to overlapping substring tuples
    rather than field tuples (identities.py:198-221); the dedup
    semantics follow Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"), re-expressed as hash-agg + island
    merge instead of a suffix array."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    grams = (
        df.filter(F.length(text_col) >= k)
        .select(
            F.col(id_col).alias("__doc"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {k} + 1,"
                    f" {stride}), p -> struct(p AS pos,"
                    f" xxhash64(substring({text_col}, p, {k})) AS gh))"
                )
            ).alias("__g"),
        )
        .select(
            "__doc",
            F.col("__g.pos").cast("long").alias("__pos"),
            F.col("__g.gh").alias("__gh"),
        )
    )
    dup = (
        grams.groupBy("__gh")
        .agg(F.countDistinct("__doc").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__gh")
    )
    hits = grams.join(dup, "__gh").select("__doc", "__pos")
    w = Window.partitionBy("__doc").orderBy("__pos")
    brk = (
        F.when(F.col("__pos") - F.lag("__pos").over(w) <= k, F.lit(0))
        .otherwise(F.lit(1))  # first row per doc: lag NULL -> new island
    )
    islands = hits.withColumn("__brk", brk).withColumn(
        "__isl",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("__doc", "__isl")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .select(
            F.col("__doc").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def trim_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
    out_col: str = "trimmed",
) -> DataFrame:
    """Cut every duplicated span (as produced by :func:`duplicate_spans`
    — non-overlapping, 1-based inclusive) out of ``text_col``, keeping
    the inter-span remainder. ALL occurrences are removed, in every
    document (the C4-style policy: duplicated boilerplate contributes
    zero training tokens — contrast :func:`drop_near_duplicates`, which
    keeps one whole-document representative).

    Adds ``out_col`` next to the original schema; docs with no spans
    pass through with ``out_col == text_col``.

    Plan shape: spans collapse to one (doc, sorted span array) row via a
    hash agg (span counts per doc are small — they're bounded by
    length/k), broadcast-or-shuffle equi-joined back on the id, and the
    cut itself is a single JVM-side ``aggregate`` fold over the span
    array (no UDF, no explode): the accumulator carries (chars consumed,
    kept-text) and each step appends the slice between the previous
    span's end and the next span's start."""
    spans_by_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans")
    )
    joined = df.join(spans_by_doc, id_col, "left")
    cut = F.expr(
        f"aggregate(__spans, struct(CAST(0 AS BIGINT) AS last,"
        f" CAST('' AS STRING) AS acc),"
        f" (s, sp) -> struct(sp.span_end AS last,"
        f" concat(s.acc, substring({text_col}, CAST(s.last + 1 AS INT),"
        f" CAST(sp.span_start - s.last - 1 AS INT))) AS acc),"
        f" s -> concat(s.acc, substring({text_col},"
        f" CAST(s.last + 1 AS INT), length({text_col}))))"
    )
    return joined.withColumn(
        out_col,
        F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(cut),
    ).drop("__spans")
