"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk`` — exact brute-force top-k per query: broadcast the query
  set, JVM-side dot products via ``aggregate``/``zip_with`` (no UDF), then
  per-query top-k via window row_number. This is the baseline/oracle path;
  cost is O(n_corpus × n_queries) — fine when queries are a small batch.
- ``lsh_bucketed_topk`` — the scale path: banded random-hyperplane LSH
  signatures bucket the corpus; each query probes only its bucket(s).
  Signatures are one Arrow-batched numpy matmul per batch (deterministic
  per-(seed, band, dim) projection constants; no per-row Python).
- ``embedding_near_duplicates`` — all-pairs cosine ≥ t within LSH buckets
  (near-dup dedup for embeddings). It and ``semantic_dedup`` pair rows
  through the near-duplicate family's one blocked-pair core,
  ``dedup._block_pairs``.
- ``semantic_dedup`` — SemDeDup (Abbas et al. 2023): coarse k-means (or
  fixed-seed Voronoi) cells, then lower-id-wins cosine dedup WITHIN each
  cell — the cluster bounds the quadratic.
- ``paired_cosine_check`` — cross-modal pair alignment: cosine between the
  two embeddings OF THE SAME ROW (image ↔ its caption), misalignment and
  not-comparable verdicts; map-only, no shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xmlschema_spark.operators.dedup import _block_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double"))
    )


def with_normalized(df: DataFrame, vec_col: str, out_col: str = "unit") -> DataFrame:
    n = _norm(F.col(vec_col))
    return df.withColumn(
        out_col,
        F.when(n > 0, F.transform(F.col(vec_col), lambda x: x.cast("double") / n)),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors per query → (query_id, id, cosine, rank).

    Plan shape: broadcast-nested-loop join of a small query batch against
    the corpus scan, dot product in codegen, then one shuffle for the
    per-query top-k window. Self-match (same id) is excluded by the caller
    filtering if desired.
    """
    c = with_normalized(corpus.select(F.col(id_col).alias("id"), vec_col), vec_col, "cu")
    q = with_normalized(
        queries.select(F.col(query_id_col).alias("query_id"), vec_col), vec_col, "qu"
    )
    scored = c.crossJoin(F.broadcast(q.select("query_id", "qu"))).select(
        "query_id", "id", _dot(F.col("cu"), F.col("qu")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def _banded_signatures(unit_col, n_planes: int, n_bands: int, seed: int):
    """Array of ``n_bands`` independent hyperplane signatures (one per
    band, distinct seeds) — banded OR-amplification: a pair is a candidate
    if it collides in ANY band, so recall rises with n_bands while
    per-band selectivity stays (1/2)^n_planes.

    Computed as ONE Arrow-batched numpy matmul per batch — (rows × dim) @
    (dim × bands·planes) — then sign-bit-packed to a long per band. A
    pure-Catalyst form (one interpreted ``aggregate`` per plane per row)
    measured ~10x slower at bands·planes=64 than this BLAS shape; the
    brief prescribes exactly this "vectorized pandas/Arrow UDF, no
    per-row Python" pattern for such math. Plane constants are
    deterministic per (seed, band, dim)."""
    if n_planes > 62:
        raise ValueError("n_planes must fit in a signed-long bit pack (<= 62)")
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    plane_cache: dict[int, np.ndarray] = {}

    def _planes(d: int) -> np.ndarray:
        # built lazily from the batch's observed dim — every worker derives
        # the IDENTICAL (n_bands * n_planes, d) matrix from (seed, band, d),
        # so no extra driver job is needed to probe the vector length
        if d not in plane_cache:
            plane_cache[d] = np.concatenate(
                [
                    np.random.default_rng(seed + 7919 * b).standard_normal((n_planes, d))
                    for b in range(n_bands)
                ]
            )
        return plane_cache[d]

    def _sig(series):
        import pandas as pd

        out = [None] * len(series)
        idx = [i for i, v in enumerate(series) if v is not None]
        if idx:
            m = np.stack([np.asarray(series.iloc[i], dtype=np.float64) for i in idx])
            bits = (m @ _planes(m.shape[1]).T) >= 0  # (n, n_bands * n_planes)
            vals = bits.reshape(len(idx), n_bands, n_planes) @ weights  # (n, n_bands)
            for j, i in enumerate(idx):
                out[i] = vals[j].tolist()
        return pd.Series(out)

    return F.pandas_udf(_sig, "array<long>")(unit_col)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
    n_planes: int = 8,
    n_bands: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: both sides hashed to hyperplane-sign buckets per
    band; candidates = equi-join on (band, bucket), deduped across bands;
    exact cosine + top-k inside the candidate set. Recall is tuned by
    n_planes (fewer planes → bigger buckets) and n_bands (more independent
    bands → OR-amplified recall); with a high-recall config
    (e.g. n_planes=2, n_bands=32) the candidate set provably-with-
    overwhelming-probability covers every true neighbor, making the exact
    top-k oracle applicable on a fixed-seed fixture — the banded analog of
    ``ivf_topk``'s full-probe trick."""
    c = with_normalized(corpus.select(F.col(id_col).alias("id"), vec_col), vec_col, "cu")
    q = with_normalized(
        queries.select(F.col(query_id_col).alias("query_id"), vec_col), vec_col, "qu"
    )
    sigs_c = _banded_signatures(F.col("cu"), n_planes, n_bands, seed)
    sigs_q = _banded_signatures(F.col("qu"), n_planes, n_bands, seed)
    c = c.select("id", "cu", F.posexplode(sigs_c).alias("band", "bucket"))
    q = q.select("query_id", "qu", F.posexplode(sigs_q).alias("band", "bucket"))
    cand = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .select("query_id", "id", "cu", "qu")
        .dropDuplicates(["query_id", "id"])
    )
    scored = cand.select(
        "query_id", "id", _dot(F.col("cu"), F.col("qu")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def _kmeans(sample: np.ndarray, n_centroids: int, iters: int = 12, seed: int = 7) -> np.ndarray:
    """Tiny driver-side Lloyd k-means on unit vectors (spherical-ish):
    the IVF coarse quantizer. Sample is bounded, so this is O(sample x k)
    driver work — no Spark iterations."""
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(iters):
        sims = sample @ centroids.T
        assign = sims.argmax(axis=1)
        for j in range(n_centroids):
            members = sample[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                centroids[j] = c / n if n > 0 else centroids[j]
    return centroids


def _centroid_dots(unit_col, centroids: np.ndarray):
    """Array column of dot products against every centroid — centroid
    coordinates inlined as literals, evaluated JVM-side. Fine for a SMALL
    side (the query batch); for the corpus side use
    :func:`_centroid_assign` — the per-centroid literal arrays are
    rebuilt per row in interpreted eval, which measured ~1ms/row."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    unit_col,
                    F.array(*[F.lit(float(v)) for v in c]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double"),
            )
            for c in centroids
        ]
    )


def _centroid_assign(unit_col, centroids: np.ndarray):
    """1-based id of the nearest centroid for every (already unit-norm)
    vector — ONE Arrow-batched numpy matmul + argmax per batch, the same
    BLAS shape as :func:`_banded_signatures` (the pure-Catalyst
    per-centroid ``aggregate`` form measured ~0.9 ms/row on dim=64,
    k=8 — unusable on a corpus side). Centroids ride the closure as a
    plain ndarray; NULL vectors stay NULL."""
    ct = np.ascontiguousarray(centroids.T)

    def _assign(series):
        import pandas as pd

        out = [None] * len(series)
        idx = [i for i, v in enumerate(series) if v is not None]
        if idx:
            m = np.stack([np.asarray(series.iloc[i], dtype=np.float64) for i in idx])
            cids = (m @ ct).argmax(axis=1) + 1
            for j, i in enumerate(idx):
                out[i] = int(cids[j])
        return pd.Series(out, dtype="object")

    return F.pandas_udf(_assign, "int")(unit_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample_size: int = 4096,
    seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: coarse k-means centroids (driver-side, from
    a bounded sample) partition the corpus into inverted lists; each query
    probes only its ``n_probe`` nearest lists, then exact cosine + top-k
    within the candidates.

    Scale shape: one corpus pass to assign list ids (pure codegen
    expressions — centroids are literals), queries explode to n_probe
    rows, equi-join on list id (shuffle bounded by candidate lists, never
    O(corpus x queries)). Recall is tuned by n_probe/n_centroids.
    """
    c = with_normalized(corpus.select(F.col(id_col).alias("id"), vec_col), vec_col, "cu")
    q = with_normalized(
        queries.select(F.col(query_id_col).alias("query_id"), vec_col), vec_col, "qu"
    )
    # collect RAW vectors and unit-normalize in numpy: the Catalyst
    # normalize expression is interpreted (~1ms/row) and would dominate
    # this bounded driver job; numpy does the 4096-row batch in microseconds
    raw = np.array(
        [
            r[0]
            for r in corpus.select(F.col(vec_col))
            .filter(F.col(vec_col).isNotNull())
            .limit(sample_size)
            .collect()
        ],
        dtype=np.float64,
    )
    norms = np.linalg.norm(raw, axis=1, keepdims=True) if len(raw) else np.empty((0, 1))
    keep = norms[:, 0] > 0
    sample = raw[keep] / norms[keep]
    n_centroids = min(n_centroids, len(sample))
    centroids = _kmeans(sample, n_centroids, seed=seed)

    # corpus side (the big one): vectorized Arrow matmul assignment
    c = c.withColumn("cid", _centroid_assign(F.col("cu"), centroids))

    # query side (a small batch): JVM-side literals keep the plan lazy
    dots_q = _centroid_dots(F.col("qu"), centroids)
    # n_probe nearest centroids per query: sort (dot, cid) structs desc
    probes = F.slice(
        F.reverse(
            F.array_sort(
                F.zip_with(
                    dots_q,
                    F.sequence(F.lit(1), F.lit(len(centroids))),
                    lambda d, i: F.struct(d.alias("d"), i.alias("cid")),
                )
            )
        ),
        1,
        n_probe,
    )
    q = q.withColumn("cid", F.explode(F.transform(probes, lambda p: p["cid"])))

    scored = c.join(F.broadcast(q), "cid").select(
        "query_id", "id", _dot(F.col("cu"), F.col("qu")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 12,
    n_bands: int = 1,
    seed: int = 7,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """All-pairs cosine ≥ threshold, candidate-limited to same-LSH-bucket
    pairs (in ANY of ``n_bands`` independent bands) → (id_a, id_b,
    cosine). High thresholds pair with more planes (near-identical vectors
    share all sign bits with high probability); recall is OR-amplified by
    n_bands: P(miss a pair at angle θ) = (1-(1-θ/π)^n_planes)^n_bands.
    With e.g. n_planes=2, n_bands=32 a pair at cosine 0.4 is missed with
    probability ~3e-8 — and the outcome is DETERMINISTIC for a fixed seed,
    so equality with the exact all-pairs oracle on a fixture is a checked,
    reproducible fact (the banded analog of ``ivf_topk``'s full-probe).

    ``max_bucket_size`` is the block cap (see
    :func:`~xmlschema_spark.operators.dedup._block_pairs`), e.g. against a
    zero-vector cluster; dropped buckets mean dropped coverage for their
    members, so raise n_planes to split them instead of raising the cap."""
    u = with_normalized(df.select(F.col(id_col).alias("id"), vec_col), vec_col, "u")
    u = u.select(
        "id", "u",
        F.posexplode(_banded_signatures(F.col("u"), n_planes, n_bands, seed))
        .alias("band", "bucket"),
    )
    cand = (
        _block_pairs(u, ["band", "bucket"], max_bucket_size)
        # dedup across bands BEFORE the O(dim) dot product
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.select(
        "id_a", "id_b", _dot(F.col("u_a"), F.col("u_b")).alias("cosine")
    )
    return pairs.filter(F.col("cosine") >= threshold)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_clusters: int = 16,
    centroid_mode: str = "kmeans",
    sample_size: int = 4096,
    seed: int = 7,
    max_cluster_size: int = 5000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space coarsely,
    then deduplicate WITHIN each cluster — a row is a semantic duplicate
    when some other same-cluster row with a SMALLER id has cosine >=
    ``threshold`` to it. Clustering bounds the quadratic: pair generation
    is per-cluster, never corpus x corpus (the difference between SemDeDup
    and plain :func:`embedding_near_duplicates` is that the candidate
    generator is a semantic Voronoi cell rather than an LSH bucket — the
    paper's observation is that semantic duplicates land in the same cell
    at far coarser k than LSH needs planes).

    Returns one row per non-null input vector: (``id_col``, cid, dup_of,
    keep) — ``dup_of`` is the SMALLEST same-cluster id within threshold
    (NULL if none), ``keep = dup_of IS NULL``. Deterministic: the keep set
    is exactly "rows with no lower-id in-cell neighbor", no iteration
    order involved.

    ``centroid_mode``:

    - ``"kmeans"`` (production): driver-side Lloyd on a bounded sample —
      same machinery as :func:`ivf_topk`. Not oracle-expressible (the
      iteration is numpy), so certified via the mode below.
    - ``"seed"`` (certified): centroids are the unit vectors of the FIRST
      ``n_clusters`` non-null, non-zero-norm rows in id order (zero
      vectors can't be unit centroids; the next row backfills, exactly
      like the oracle's ``list_sum(x*x) > 0`` gate) — a fixed-seed Voronoi
      partition, byte-replayable in SQL (argmax over cosine to a
      deterministic centroid set, ties broken by centroid index — numpy
      argmax and ``row_number() ... ORDER BY sim DESC, cid ASC`` pick the
      same winner). Same plan shape as kmeans mode: only the centroid
      VALUES differ.

    Scale shape: one bounded driver collect (k or sample_size rows), ONE
    corpus pass assigning cells via the Arrow-batched matmul of
    :func:`_centroid_assign` — the assignment is persisted because two
    consumers read it (the pairing and the final projection) and each
    would otherwise re-cross the Arrow boundary — then
    :func:`~xmlschema_spark.operators.dedup._block_pairs` on cid
    (``max_cluster_size`` is its block cap — a skew guard, not a
    semantics choice: members of an over-cap cell are kept and flagged,
    raise n_clusters to split them), one min-agg, one left join back.
    Pairs carry unit vectors only inside one cell. Like
    :func:`~xmlschema_spark.operators.dedup.jaccard_pairs`, the result
    is materialized eagerly (persist + count) so the
    assignment cache is released before returning; call ``.unpersist()``
    on the RETURNED DataFrame when done with it.

    Reference analog: xs:unique scoped to a PARENT ELEMENT rather than the
    whole table (identities.py:198-221 — scope decomposition before the
    uniqueness check is exactly the cluster-then-dedup decomposition)."""
    if centroid_mode not in ("kmeans", "seed"):
        raise ValueError(f"centroid_mode must be 'kmeans' or 'seed', got {centroid_mode!r}")
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    u = with_normalized(
        df.select(F.col(id_col).alias("id"), vec_col), vec_col, "u"
    ).filter(F.col("u").isNotNull()).select("id", "u")

    if centroid_mode == "seed":
        # zero-norm vectors are excluded BEFORE taking the first k (the
        # same `list_sum(x*x) > 0` gate the DuckDB oracle applies) — a
        # zero vector among the first k ids must not shrink the centroid
        # set; the next non-zero row backfills instead
        sq = F.aggregate(
            F.col("v"), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
        )
        rows = (
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .filter(F.col(vec_col).isNotNull())
            .filter(sq > 0)
            .orderBy("id")
            .limit(n_clusters)
            .collect()
        )
        raw = np.array([r.v for r in rows], dtype=np.float64)
    else:
        raw = np.array(
            [
                r[0]
                for r in df.select(F.col(vec_col))
                .filter(F.col(vec_col).isNotNull())
                .limit(sample_size)
                .collect()
            ],
            dtype=np.float64,
        )
    norms = np.linalg.norm(raw, axis=1, keepdims=True) if len(raw) else np.empty((0, 1))
    keep_rows = norms[:, 0] > 0
    sample = raw[keep_rows] / norms[keep_rows]
    if len(sample) == 0:
        return u.select(
            "id",
            F.lit(None).cast("int").alias("cid"),
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(True).alias("keep"),
        )
    k = min(n_clusters, len(sample))
    centroids = sample[:k] if centroid_mode == "seed" else _kmeans(sample, k, seed=seed)

    assigned = u.withColumn(
        "cid", _centroid_assign(F.col("u"), centroids)
    ).persist()
    dups = (
        _block_pairs(assigned, ["cid"], max_cluster_size)
        .filter(_dot(F.col("u_a"), F.col("u_b")) >= threshold)
        .groupBy(F.col("id_b").alias("id"))
        .agg(F.min("id_a").alias("dup_of"))
    )
    out = (
        assigned.select("id", "cid")
        .join(dups, "id", "left")
        .select("id", "cid", "dup_of", F.col("dup_of").isNull().alias("keep"))
        .persist()
    )
    out.count()  # materialize so the assignment cache can be released
    assigned.unpersist()
    return out


def paired_cosine_check(
    df: DataFrame,
    id_col: str,
    left_col: str,
    right_col: str,
    min_cosine: float = 0.2,
    dim: int | None = None,
) -> DataFrame:
    """Cross-modal pair-alignment validation: for a table of PAIRED
    embeddings (an image embedding and its caption embedding on the same
    row — the contrastive-model layout of the image+caption input table),
    score each pair's cosine and flag ``is_misaligned`` when it falls
    below ``min_cosine``. A caption attached to the wrong image passes
    every per-column check (both vectors are individually valid) — the
    defect exists only in the RELATIONSHIP, which is what this validates:
    the row-local multimodal analog of a keyref (the reference pairs an
    IDREF to its xs:ID the same way — identities.py binds a referent to
    its target; here the referent is the caption's embedding).

    Pairs that cannot be scored are kept with ``comparable = false`` and
    a ``reason``: ``'null'`` (either side missing), ``'dim'`` (length
    mismatch, or ≠ ``dim`` when given), ``'nonfinite'`` (NaN/±Inf
    component), ``'zero'`` (zero-norm side) — precedence in that order,
    ``cosine`` NULL. Misalignment is asserted only on comparable pairs.

    Plan: pure projection — dot product and norms via
    ``aggregate``/``zip_with`` in codegen, one scan, no shuffle, no
    Python, no explode of the vectors. At 10^12 rows this is a map-only
    pass (the cheapest possible shape); feed ``is_misaligned`` into the
    engine's verdict rollup for per-partition alignment rates."""
    if not -1.0 <= min_cosine <= 1.0:
        raise ValueError(f"min_cosine must be in [-1, 1], got {min_cosine}")
    if dim is not None and dim <= 0:
        raise ValueError(f"dim must be > 0, got {dim}")
    left, right = F.col(left_col), F.col(right_col)

    def _nonfinite(v):
        return F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == float("inf")))

    dim_bad = (
        (F.size(left) != F.size(right))
        if dim is None
        else ((F.size(left) != dim) | (F.size(right) != dim))
    )
    na, nb = _norm(left), _norm(right)
    reason = (
        F.when(left.isNull() | right.isNull(), F.lit("null"))
        .when(dim_bad, F.lit("dim"))
        .when(_nonfinite(left) | _nonfinite(right), F.lit("nonfinite"))
        .when((na == 0) | (nb == 0), F.lit("zero"))
    )
    cosine = F.when(reason.isNull(), _dot(left, right) / (na * nb))
    return df.select(
        F.col(id_col),
        cosine.alias("cosine"),
        reason.isNull().alias("comparable"),
        reason.alias("reason"),
        (reason.isNull() & (cosine < F.lit(float(min_cosine)))).alias(
            "is_misaligned"
        ),
    )
