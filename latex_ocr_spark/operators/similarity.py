"""Similarity search and embedding dedup over the embeddings table
(vec_id, embedding float[64], label).

Three top-k paths, same result shape (query_id, neighbor_id, sim, rank):
  - ``cosine_topk``      — exact brute force: query-set ⋈ corpus with the dot
    product as a built-in zip_with/aggregate expression (JVM, codegen). The
    correctness baseline; at scale only for bounded query sets (the broadcast
    side is the query set).
  - ``lsh_cosine_topk``  — random-hyperplane (SRP) LSH: only candidates
    sharing a hyperplane signature with a multi-probed query
    (``srp_topk_candidates``) are scored; multiple hash tables trade recall
    for fan-in. Candidate generation is an equi-join on (table, signature);
    no cross join anywhere.
  - ``ivf_cosine_topk``  — inverted file: k-means cells trained on a bounded
    driver-side sample, each query probes its nearest cells, candidate
    generation is an equi-join on the cell id.
All three end in the same re-rank (``_top_k``): exact cosine on the
candidate pairs, then the k best per query.

Two dedup operators, over the embeddings plus planted shifted copies
(``emb_with_dups``):
  - ``embedding_neardup_pairs`` — (vec_a, vec_b, sim ≥ threshold) pairs from
    an SRP-bucketed self-join, exact-verified.
  - ``semantic_dedup``  — SemDeDup: cluster, then mark every vector with a
    closer-than-threshold, smaller-id neighbor in its cluster.

The index shapes (SRP_*, *_TABLES, IVF_*) are module constants because
they have one value each; the single-process oracle replicas in
fixtures/oracle_store.py read the same constants, so operator and replica
cannot drift apart.

Float determinism: similarities are computed in double and rounded to 4dp,
ranked with a (sim DESC, neighbor_id ASC) tie-break so row_number is stable.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..frames import persist

SRP_SEED = 0x51A_2026
SRP_DIM = 64  # embedding width
SRP_PLANES = 8  # hyperplanes per table: 2^8 buckets per table
TOPK_TABLES = 12  # lsh_cosine_topk: multi-probed on the query side
NEARDUP_TABLES = 14  # embedding_neardup_pairs: unprobed self-join
IVF_CENTROIDS = 16
IVF_PROBE = 4  # cells each query probes
IVF_TRAIN_SAMPLE = 2048  # lowest vec_ids the centroids train on
IVF_KMEANS_ITERS = 5
# the query rows' k and query-set size, which the oracle replicas replay
TOPK_K = 5
TOPK_QUERIES = 50


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _side(
    df: DataFrame, id_col: str, p: str, *extra, norm: str | None = None
) -> DataFrame:
    """One side of a scored pair join: (vec_id, embedding) →
    (``id_col``, ``<p>v``, ``<p>n``, *extra), ``p`` being "q" or "n". The
    norm is taken here, once per vector and before the join, unless
    ``norm`` names a column that already holds it."""
    n = F.col(norm) if norm else _norm(F.col("embedding"))
    return df.select(
        F.col("vec_id").alias(id_col),
        F.col("embedding").alias(f"{p}v"),
        n.alias(f"{p}n"),
        *extra,
    )


def _cosine(pairs: DataFrame) -> DataFrame:
    """Add ``sim`` to pairs joined from a "q" and an "n" ``_side``. With
    each norm precomputed per side, the per-pair work is one array
    reduction (the dot) instead of three; qn/nn are exactly ``_norm`` of
    each vector, so round(dot/(qn*nn), 4) multiplies the same doubles an
    inline formula would — bit-identical output."""
    return pairs.withColumn(
        "sim",
        F.round(_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 4),
    )


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """The shared re-rank: exact cosine on (query_id, neighbor_id) candidate
    pairs, then each query's k best by (sim DESC, neighbor_id ASC)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        _cosine(pairs)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def cosine_topk(
    embeddings: DataFrame, k: int = TOPK_K, n_queries: int = TOPK_QUERIES
) -> DataFrame:
    """Exact top-k cosine neighbors for vec_id < n_queries (excluding self)."""
    queries = _side(embeddings.filter(F.col("vec_id") < n_queries), "query_id", "q")
    corpus = _side(embeddings, "neighbor_id", "n")
    return _top_k(
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id")),
        k,
    )


def srp_plane_matrix(n_tables: int) -> np.ndarray:
    """(SRP_DIM, n_tables·SRP_PLANES) float64: table t's SRP_PLANES
    hyperplanes, drawn from seed SRP_SEED + t, stacked so one matmul signs
    a vector against every table."""
    return np.concatenate(
        [
            np.random.default_rng(SRP_SEED + t).standard_normal((SRP_PLANES, SRP_DIM))
            for t in range(n_tables)
        ]
    ).T


def srp_sigs(vecs: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, SRP_DIM) float64 vectors → (n, n_tables) int64 signatures: bit b
    of table t's signature is set iff vec · plane_b(t) >= 0. The Spark UDF
    and the single-process oracle replica both sign through this."""
    n_tables = planes.shape[1] // SRP_PLANES
    bits = (vecs @ planes) >= 0.0  # (n, T*P)
    weights = 1 << np.arange(SRP_PLANES, dtype=np.int64)  # bit b = plane b
    return bits.reshape(len(vecs), n_tables, SRP_PLANES).astype(np.int64) @ weights


def srp_signatures_all(df: DataFrame, n_tables: int) -> DataFrame:
    """All tables' SRP signatures in ONE Arrow-batched matmul:
    (vec_id, embedding) → (vec_id, table, sig).

    A built-in expression would evaluate n_tables·SRP_PLANES interpreted
    higher-order aggregates per row (≈100 lambda reductions); stacking every
    plane into one matrix and letting numpy do batch @ planes is the
    vectorized-pandas-UDF fast path when built-ins can't express the op
    efficiently."""
    planes = srp_plane_matrix(n_tables)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if len(vecs) == 0:
                yield pd.DataFrame({"vec_id": [], "table": [], "sig": []})
                continue
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].values, n_tables),
                    "table": np.tile(np.arange(n_tables, dtype=np.int32), len(vecs)),
                    "sig": srp_sigs(vecs, planes).reshape(-1),
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, table int, sig long"
    )


# Planted near-duplicate embeddings: for vec_id % 20 == 0 add a copy with a
# constant +0.01 shift on every coordinate (cosine ≈ 0.997 on these
# small-magnitude random vectors). Mirrored verbatim in the DuckDB oracle CTE — both engines cast the
# float32 coordinates to double BEFORE the shift.
EMB_WITH_DUPS_CTE_DUCKDB = """
emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01) AS embedding
  FROM embeddings WHERE vec_id % 20 = 0
)
"""


def emb_with_dups(embeddings: DataFrame) -> DataFrame:
    base = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    shifted = embeddings.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.01).alias("embedding"),
    )
    return base.unionByName(shifted)


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.99
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ≥ threshold, LSH-pruned then
    exact-verified (the embedding analog of minhash_lsh_pairs): SRP signatures
    bucket candidates with an equi-join — never a cross join — and only
    candidates are scored.

    NO multi-probing on the self-join: here BOTH join sides are the full
    corpus, so a ×(SRP_PLANES+1) probe fan-out would shuffle 9× the
    signature table — the fan-out trick only pays when one side is a bounded
    query set (srp_topk_candidates). Recall is held by 2 extra unprobed
    tables instead (NEARDUP_TABLES = 14): at sim ≥ 0.99 (θ ≤ 0.1415 rad,
    per-bit agree p ≥ 0.955) one 8-plane table catches w.p. p^8 ≥ 0.69, so
    P(miss over 14 tables) ≤ 0.31^14 ≈ 7e-8 — vs ≈1e-21 for a probed
    12-table setup, both far below anything observable, at 14/108ths the
    candidate-generation shuffle volume. Same LSH-only-prunes contract as
    the MinHash path (dedup.py), with 2^8 buckets/table for corpus-scale
    headroom."""
    base = emb_with_dups(embeddings)
    sigs = persist(srp_signatures_all(base, NEARDUP_TABLES))
    a = sigs.alias("a")
    b = sigs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    scored = _cosine(
        cands.join(_side(base, "vec_a", "q"), "vec_a").join(
            _side(base, "vec_b", "n"), "vec_b"
        )
    )
    return scored.filter(F.col("sim") >= threshold).select("vec_a", "vec_b", "sim")


def ivf_train(sample: np.ndarray, n_centroids: int) -> np.ndarray:
    """Seeded spherical k-means (IVF_KMEANS_ITERS rounds) on a bounded
    driver-side sample (float64).

    Deliberately BLAS-free (einsum without optimize never dispatches to GEMM):
    reduction order is then fixed by numpy's C loops, so the trained centroids
    are bit-identical regardless of the process's BLAS thread count — the
    materialized ANN ground truth (fixtures/oracle_store.py) replays this
    exact function and must get the exact same doubles."""
    sample = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(SRP_SEED)
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(IVF_KMEANS_ITERS):
        assign = np.argmax(np.einsum("ij,kj->ik", sample, cent), axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def ivf_cosine_topk(
    embeddings: DataFrame,
    k: int = TOPK_K,
    n_queries: int = TOPK_QUERIES,
    n_centroids: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBE,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine: k-means centroids trained
    on the IVF_TRAIN_SAMPLE lowest-id vectors (standard IVF practice — the
    index is trained on a bounded sample, then applied distributed), every
    vector assigned to its nearest centroid with built-in expressions,
    queries probe only the ``n_probe`` nearest cells, exact re-rank inside
    the probed cells.

    The scale path vs brute force: candidate generation is an equi-join on
    centroid_id (cells shard the corpus), so the scored set shrinks by
    ~n_probe/n_centroids. Approximate (rows-only oracle); recall vs
    ``cosine_topk`` is asserted in tests."""
    base = embeddings.select("vec_id", "embedding")
    # --- train: seeded spherical k-means on a deterministic sample ----------
    sample = np.array(
        base.orderBy("vec_id")
        .limit(IVF_TRAIN_SAMPLE)
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    cent = ivf_train(sample, n_centroids)
    # --- assign: nearest-centroid id as one built-in expression --------------
    def _cent_dots(vec_col):
        return F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.array(*[F.lit(float(v)) for v in cent[c]]),
                        lambda x, y: x.cast("double") * y,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                for c in range(n_centroids)
            ]
        )

    assigned = base.withColumn("dots", _cent_dots("embedding")).select(
        "vec_id",
        "embedding",
        (F.array_position(F.col("dots"), F.array_max("dots")) - 1)
        .cast("int")
        .alias("cid"),
    )
    # --- probe: each query expands to its n_probe nearest cells --------------
    qdots = _side(
        base.filter(F.col("vec_id") < n_queries).withColumn(
            "dots", _cent_dots("embedding")
        ),
        "query_id",
        "q",
        F.posexplode("dots").alias("cid", "cdot"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("cdot").desc(), F.col("cid").asc())
    probes = (
        qdots.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= n_probe)
        .select("query_id", "qv", "qn", F.col("cid").cast("int").alias("cid"))
    )
    # --- candidate gen: equi-join on cell id, then exact re-rank -------------
    cands = probes.join(_side(assigned, "neighbor_id", "n", "cid"), "cid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _top_k(cands, k)


def _probe_sigs(sig):
    """Multi-probe signature set: the signature itself plus every 1-bit
    flip. Probing the QUERY side only keeps the corpus-side index exact
    while recovering pairs that straddle one hyperplane — the standard
    multi-probe LSH trade: ×(SRP_PLANES+1) probe fan-out on the small side
    buys 2^(SRP_PLANES-4)× smaller buckets on the big side."""
    return F.array(
        sig, *[sig.bitwiseXOR(F.lit(1 << b).cast("long")) for b in range(SRP_PLANES)]
    )


def srp_topk_candidates(
    embeddings: DataFrame, n_queries: int = TOPK_QUERIES
) -> DataFrame:
    """SRP-LSH candidate pairs for the top-k path: corpus side indexed with
    exact SRP_PLANES-bit signatures (2^SRP_PLANES buckets/table — the knob
    that keeps buckets small at corpus scale) in TOPK_TABLES tables, query
    side multi-probed (signature + every 1-bit flip) to hold recall.
    Candidate generation stays an equi-join on (table, sig); never a cross
    join."""
    # all tables' signatures in ONE vectorized matmul (linear plan, one scan),
    # persisted because both join sides read it
    sigs = persist(srp_signatures_all(embeddings, TOPK_TABLES))
    q = sigs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        "table",
        F.explode(_probe_sigs(F.col("sig"))).alias("sig"),
    )
    return (
        q.join(sigs, ["table", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )


def lsh_cosine_topk(
    embeddings: DataFrame, k: int = TOPK_K, n_queries: int = TOPK_QUERIES
) -> DataFrame:
    """SRP-LSH candidate generation + exact re-rank (approximate top-k).

    Scale parameterization (measured at sf0.01, 500 vectors, 50 queries):
    8 planes + 1-bit multi-probe yields ~0.45× the candidate volume of the
    old 4-plane exact-probe setup at HIGHER recall (per-pair collision
    ≥0.74 across 12 tables for neighbors at cosine ≥0.25); bucket count per
    table is 2^8=256, so candidate volume scales ~n²·(planes+1)/2^planes
    per table instead of n²/16 — the 100× corpus headroom the 4-plane
    parameterization lacked."""
    # query side pruned to the actual query set before the broadcast (the
    # unpruned frame shipped the whole corpus's vectors for a 50-key join)
    qv = _side(embeddings.filter(F.col("vec_id") < n_queries), "query_id", "q")
    nv = _side(embeddings, "neighbor_id", "n")
    return _top_k(
        srp_topk_candidates(embeddings, n_queries)
        .join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id"),
        k,
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.99,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): partition
    the embedding space into clusters, then mark every vector that has a
    same-cluster neighbor with cosine >= threshold and a smaller vec_id as
    a duplicate — one deterministic survivor (the min id) per near-dup
    neighborhood. Output: (vec_id, cluster, kept) for EVERY vector.

    Cluster assignment is one deterministic argmax pass against the
    n_clusters lowest-id vectors as centroids. The contract is "dedup under
    any deterministic assignment" — swap in ivf_train()'s k-means codebook
    for a learned one; the argmax-join shape is identical. Centroids are a
    constant-K broadcast (bounded by the parameter, not the data, so the
    house no-unconditional-hint rule doesn't apply).

    100 TB: intra-cluster pairwise work is Σ cᵢ² — n_clusters scales with
    corpus size to hold cluster populations constant (SemDeDup runs ~100k
    clusters at web scale), and the pair join is an equi-join shuffling on
    cluster id, never a global cross join. `assigned` feeds both self-join
    sides AND the final left join, so it is persisted (the planner would
    recompute the argmax per branch otherwise) and released by the
    caller's ``frames.scope()``.
    """
    base = emb_with_dups(embeddings).withColumn(
        # norm once per vector, BEFORE the K-way centroid fan-out and the
        # intra-cluster pair join (identical doubles to the inline formula,
        # evaluated O(rows) instead of O(rows·K + pairs) times)
        "en", _norm(F.col("embedding"))
    )
    cents = (
        base.orderBy("vec_id")
        .limit(n_clusters)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cvec"),
            F.col("en").alias("cn"),
        )
    )
    csim = _dot(F.col("embedding"), F.col("cvec")) / (F.col("en") * F.col("cn"))
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid").asc())
    assigned = persist(
        base.crossJoin(F.broadcast(cents))
        .withColumn("csim", csim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "en", F.col("cid").alias("cluster"))
    )
    a = _side(assigned, "vec_a", "q", "cluster", norm="en")
    b = _side(assigned, "vec_b", "n", "cluster", norm="en")
    dups = (
        _cosine(a.join(b, ["cluster"]).filter(F.col("vec_a") < F.col("vec_b")))
        .filter(F.col("sim") >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(dups.withColumn("dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            F.when(F.col("dup").isNull(), 1).otherwise(0).cast("int").alias("kept"),
        )
    )
