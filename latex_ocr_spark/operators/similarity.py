"""Similarity search over the embeddings table (vec_id, embedding float[64],
label).

Two paths, same result shape (query_id, neighbor_id, sim):
  - ``cosine_topk``      — exact brute force: query-set ⋈ corpus with the dot
    product as a built-in zip_with/aggregate expression (JVM, codegen). The
    correctness baseline; at scale only for bounded query sets (the broadcast
    side is the query set).
  - ``lsh_cosine_topk``  — random-hyperplane (SRP) LSH-bucketed variant: only
    candidates sharing a hyperplane signature with the query are scored, then
    exact re-rank; multiple hash tables (signature rotations) trade recall for
    fan-in. The 100 TB path: candidate generation is an equi-join on
    (table, signature); no cross join anywhere.

Float determinism: similarities are computed in double and rounded to 4dp,
ranked with a (sim DESC, neighbor_id ASC) tie-break so row_number is stable.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..frames import persist

SRP_SEED = 0x51A_2026


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


def with_cosine(pairs: DataFrame, a: str = "qv", b: str = "nv") -> DataFrame:
    return pairs.withColumn(
        "sim",
        F.round(_dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b))), 4),
    )


def _cosine_prenormed(pairs: DataFrame, a: str, b: str, an: str, bn: str):
    """Cosine when each side's norm was precomputed BEFORE the join: the
    per-pair work drops from three array reductions to one (the dot).
    ``an``/``bn`` must be exactly ``_norm(side_vec)`` so round(dot/(an*bn), 4)
    multiplies the identical doubles the inline formula would — bit-identical
    output, evaluated O(rows) instead of O(pairs) times."""
    return pairs.withColumn(
        "sim",
        F.round(_dot(F.col(a), F.col(b)) / (F.col(an) * F.col(bn)), 4),
    )


def cosine_topk(
    embeddings: DataFrame, k: int = 5, n_queries: int = 50
) -> DataFrame:
    """Exact top-k cosine neighbors for vec_id < n_queries (excluding self)."""
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        _norm(F.col("embedding")).alias("nn"),
    )
    scored = _cosine_prenormed(
        F.broadcast(queries).crossJoin(corpus).filter(
            F.col("query_id") != F.col("neighbor_id")
        ),
        "qv", "nv", "qn", "nn",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _srp_planes(dim: int, n_planes: int, table: int) -> list[list[float]]:
    rng = np.random.default_rng(SRP_SEED + table)
    return rng.standard_normal((n_planes, dim)).tolist()


def _probe_sigs(sig, n_planes: int, probe_bits: int):
    """Multi-probe signature set: the signature itself plus every 1-bit flip
    (probe_bits=1). Probing the QUERY side only keeps the corpus-side index
    exact while recovering pairs that straddle one hyperplane — the standard
    multi-probe LSH trade: ×(n_planes+1) probe fan-out on the small side buys
    2^(n_planes-4)× smaller buckets on the big side."""
    probes = [sig]
    if probe_bits >= 1:
        probes += [sig.bitwiseXOR(F.lit(1 << b).cast("long")) for b in range(n_planes)]
    return F.array(*probes)


def srp_signatures_all(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """All tables' SRP signatures in ONE Arrow-batched matmul:
    (id, embedding) → (id, table, sig).

    Bit b of a table's signature is set iff embedding · plane_b >= 0. A
    built-in expression would evaluate n_tables·n_planes interpreted
    higher-order aggregates per row (≈100 lambda reductions); stacking every
    plane into a (dim × n_tables·n_planes) matrix and letting numpy do
    batch @ planes is the vectorized-pandas-UDF fast path when built-ins
    can't express the op efficiently."""
    planes = np.concatenate(
        [np.asarray(_srp_planes(dim, n_planes, t)) for t in range(n_tables)]
    ).T.astype(np.float64)  # (dim, n_tables*n_planes)
    weights = (1 << np.arange(n_planes, dtype=np.int64))  # bit b = plane b

    def run(batches):
        import pandas as pd

        for pdf in batches:
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if len(vecs) == 0:
                yield pd.DataFrame({"_id": [], "table": [], "sig": []})
                continue
            bits = (vecs @ planes) >= 0.0  # (n, T*P)
            sigs = (
                bits.reshape(len(vecs), n_tables, n_planes).astype(np.int64)
                @ weights
            )  # (n, T)
            ids = np.repeat(pdf["_id"].values, n_tables)
            yield pd.DataFrame(
                {
                    "_id": ids,
                    "table": np.tile(np.arange(n_tables, dtype=np.int32), len(vecs)),
                    "sig": sigs.reshape(-1),
                }
            )

    out = df.select(F.col(id_col).alias("_id"), vec_col).mapInPandas(
        run, schema="_id long, table int, sig long"
    )
    return out.select(F.col("_id").alias(id_col), "table", "sig")


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
    embeddings: DataFrame,
    threshold: float = 0.99,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 14,
    probe_bits: int = 0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ≥ threshold, LSH-pruned then
    exact-verified (the embedding analog of minhash_lsh_pairs): SRP signatures
    bucket candidates with an equi-join — never a cross join — and only
    candidates are scored.

    NO multi-probing on the self-join (probe_bits=0): here BOTH join sides are
    the full corpus, so a ×(n_planes+1) probe fan-out would shuffle 9× the
    signature table — the fan-out trick only pays when one side is a bounded
    query set (srp_topk_candidates). Recall is held by 2 extra unprobed tables
    instead: at sim ≥ 0.99 (θ ≤ 0.1415 rad, per-bit agree p ≥ 0.955) one
    8-plane table catches w.p. p^8 ≥ 0.69, so P(miss over 14 tables) ≤
    0.31^14 ≈ 7e-8 — vs ≈1e-21 for the old probed-12-table setup, both far
    below anything observable, at 14/108ths the candidate-generation shuffle
    volume. Same LSH-only-prunes contract as the MinHash path (dedup.py),
    with 2^8 buckets/table for corpus-scale headroom."""
    base = emb_with_dups(embeddings)
    sigs = persist(srp_signatures_all(base, "embedding", dim, n_planes, n_tables))
    a = sigs.alias("a")
    if probe_bits >= 1:
        a = sigs.select(
            "vec_id",
            "table",
            F.explode(_probe_sigs(F.col("sig"), n_planes, probe_bits)).alias("sig"),
        ).alias("a")
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
    va = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    vb = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("nv"),
        _norm(F.col("embedding")).alias("nn"),
    )
    scored = _cosine_prenormed(
        cands.join(va, "vec_a").join(vb, "vec_b"), "qv", "nv", "qn", "nn"
    )
    return scored.filter(F.col("sim") >= threshold).select("vec_a", "vec_b", "sim")


def ivf_train(sample: np.ndarray, n_centroids: int, kmeans_iters: int) -> np.ndarray:
    """Seeded spherical k-means on a bounded driver-side sample (float64).

    Deliberately BLAS-free (einsum without optimize never dispatches to GEMM):
    reduction order is then fixed by numpy's C loops, so the trained centroids
    are bit-identical regardless of the process's BLAS thread count — the
    materialized ANN ground truth (fixtures/oracle_store.py) replays this
    exact function and must get the exact same doubles."""
    sample = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(SRP_SEED)
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(kmeans_iters):
        assign = np.argmax(np.einsum("ij,kj->ik", sample, cent), axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def ivf_cosine_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 50,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_sample: int = 2048,
    kmeans_iters: int = 5,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine: k-means centroids trained
    on a driver-side sample (standard IVF practice — the index is trained on a
    bounded sample, then applied distributed), every vector assigned to its
    nearest centroid with built-in expressions, queries probe only the
    ``n_probe`` nearest cells, exact re-rank inside the probed cells.

    The scale path vs brute force: candidate generation is an equi-join on
    centroid_id (cells shard the corpus), so the scored set shrinks by
    ~n_probe/n_centroids. Approximate (rows-only oracle); recall vs
    ``cosine_topk`` is asserted in tests."""
    from pyspark.sql import Window

    base = embeddings.select("vec_id", "embedding")
    # --- train: seeded spherical k-means on a deterministic sample ----------
    sample = np.array(
        base.orderBy("vec_id")
        .limit(train_sample)
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    cent = ivf_train(sample, n_centroids, kmeans_iters)
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
    qdots = (
        base.filter(F.col("vec_id") < n_queries)
        .withColumn("dots", _cent_dots("embedding"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            _norm(F.col("embedding")).alias("qn"),
            F.posexplode("dots").alias("cid", "cdot"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("cdot").desc(), F.col("cid").asc())
    probes = (
        qdots.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= n_probe)
        .select("query_id", "qv", "qn", F.col("cid").cast("int").alias("cid"))
    )
    # --- candidate gen: equi-join on cell id, then exact re-rank -------------
    cands = probes.join(
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            _norm(F.col("embedding")).alias("nn"),
            "cid",
        ),
        "cid",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = _cosine_prenormed(cands, "qv", "nv", "qn", "nn")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def srp_topk_candidates(
    embeddings: DataFrame,
    n_queries: int = 50,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 12,
    probe_bits: int = 1,
) -> DataFrame:
    """SRP-LSH candidate pairs for the top-k path: corpus side indexed with
    exact n_planes-bit signatures (2^n_planes buckets/table — the knob that
    keeps buckets small at corpus scale), query side multi-probed
    (signature + every ≤probe_bits flip) to hold recall. Candidate generation
    stays an equi-join on (table, sig); never a cross join."""
    base = embeddings.select("vec_id", "embedding")
    # all tables' signatures in ONE vectorized matmul (linear plan, one scan),
    # persisted because both join sides read it
    sigs = persist(srp_signatures_all(base, "embedding", dim, n_planes, n_tables))
    q = sigs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        "table",
        F.explode(_probe_sigs(F.col("sig"), n_planes, probe_bits)).alias("sig"),
    )
    return (
        q.join(sigs, ["table", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 50,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 12,
    probe_bits: int = 1,
) -> DataFrame:
    """SRP-LSH candidate generation + exact re-rank (approximate top-k).

    Scale parameterization (measured at sf0.01, 500 vectors, 50 queries):
    n_planes=8 + 1-bit multi-probe yields ~0.45× the candidate volume of the
    old n_planes=4 exact-probe setup at HIGHER recall (per-pair collision
    ≥0.74 across 12 tables for neighbors at cosine ≥0.25); bucket count per
    table is 2^8=256, so candidate volume scales ~n²·(n_planes+1)/2^n_planes
    per table instead of n²/16 — the 100× corpus headroom the 4-plane
    parameterization lacked."""
    base = embeddings.select("vec_id", "embedding")
    cands = srp_topk_candidates(
        embeddings, n_queries, dim, n_planes, n_tables, probe_bits
    )
    # query side pruned to the actual query set before the broadcast (the
    # unpruned frame shipped the whole corpus's vectors for a 50-key join)
    qv = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    nv = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        _norm(F.col("embedding")).alias("nn"),
    )
    scored = _cosine_prenormed(
        cands.join(F.broadcast(qv), "query_id").join(nv, "neighbor_id"),
        "qv", "nv", "qn", "nn",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
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
        .select("vec_id", F.col("cid").alias("cluster"), "embedding", "en")
    )
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), "cluster",
        F.col("embedding").alias("qv"), F.col("en").alias("qn"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), "cluster",
        F.col("embedding").alias("nv"), F.col("en").alias("nn"),
    )
    dups = (
        _cosine_prenormed(
            a.join(b, ["cluster"]).filter(F.col("vec_a") < F.col("vec_b")),
            "qv", "nv", "qn", "nn",
        )
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
