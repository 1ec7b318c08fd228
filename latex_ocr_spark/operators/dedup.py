"""Deduplication operators over the documents table.

Large-scale training-data dedup suite: exact (hash groupBy), word-shingle
Jaccard (distributed shingle self-join), MinHash+LSH (signature → bands →
bucket join → exact verify), SimHash (64-bit, hamming buckets). The testdata
corpus has no natural duplicates, so the pair-producing operators run over
``corpus_with_dups`` — the documents table unioned with deterministically
mutated copies (SQL-expressible, so the DuckDB oracle plants the exact same
duplicates).

Scale notes (100 TB): every operator here is shuffle-on-key only — no
cross join anywhere; LSH candidate generation is the standard band-bucket
equi-join; exact verification joins only candidate pairs. Skewed shingles
(stopword-only) are capped by frequency before the self-join.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frames import local_checkpoint, persist, release

# Skew cap: shingles appearing in more than this many documents are dropped
# before ANY join (both the exact self-join and the LSH signature build).
# One stopword-shingle in 10^6 docs would otherwise emit 10^12 self-join rows.
# The DuckDB oracle CTE (_SHINGLE_CTE in __spark_entry__.py) mirrors the same
# cap so correctness stays exactly checkable with the cap active.
DEFAULT_MAX_SHINGLE_FREQ = 256

# Planted near-duplicates: for doc_id % 10 == 0, add a copy with doc_id+1e6
# whose text drops the first 5 words; for doc_id % 15 == 0, add an exact copy
# with doc_id+2e6. Mirrored verbatim in the DuckDB oracle CTE.
CORPUS_WITH_DUPS_SQL_SPARK = """
SELECT doc_id, text FROM {src}
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       concat_ws(' ', slice(split(text, ' '), 6, size(split(text, ' ')))) AS text
FROM {src} WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 2000000 AS doc_id, text FROM {src} WHERE doc_id % 15 = 0
"""

CORPUS_WITH_DUPS_CTE_DUCKDB = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(string_split(text, ' ')[6:], ' ') AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 15 = 0
)
"""


def corpus_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "__docs_dedup_src"
    )
    return spark.sql(CORPUS_WITH_DUPS_SQL_SPARK.format(src="__docs_dedup_src"))


def exact_dedup_groups(corpus: DataFrame) -> DataFrame:
    """Exact dedup via content hash: md5 (stable across engines) groupBy;
    emits groups with >1 member and the keeper (min doc_id)."""
    return (
        corpus.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.count("*").alias("n_members"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_members") > 1)
    )


def shingles(corpus: DataFrame, n: int = 3, max_freq: int | None = None) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    ``max_freq`` drops shingles appearing in more than that many docs before
    any self-join — the skew cap that keeps the join tractable at scale.
    """
    words = F.split(F.col("text"), " ")

    def _shingle(i):
        parts = []
        for k in range(n):
            if k:
                parts.append(F.lit("|"))
            parts.append(F.element_at(words, i + k))
        return F.concat(*parts)  # concat (not concat_ws): NULL word → NULL shingle

    sh = (
        corpus.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
                    _shingle,
                )
            ).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )
    if max_freq is not None:
        # Skew cap as an ANTI-JOIN on the hot-shingle blacklist: the
        # complement (shingles with df > max_freq) is small on any sane
        # corpus, so one aggregation computes the blacklist and a left_anti
        # applies it WITHOUT shuffling the full shingle table a second time.
        # (The old inner join against freq.filter(df <= max_freq) kept ~all
        # shingles on the frequency side and forced a full sort-merge join —
        # two extra shuffles of the biggest table in the plan.)
        # No broadcast() hint: AQE picks the broadcast anti-join at runtime
        # from the blacklist's ACTUAL size (pinned by tests/test_plans.py's
        # test_jaccard_cap_is_broadcast_anti_join), and on a pathological
        # corpus where the blacklist is huge it degrades to a shuffle join
        # instead of blowing driver memory on a forced hint.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti").select("doc_id", "shingle")
    return sh


def _jaccard_from_inter(
    inter: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, inter) + shingle-set sizes, doc_a's from ``sh_a`` and
    doc_b's from ``sh_b`` → (doc_a, doc_b, jaccard ≥ t)."""

    def sizes(sh: DataFrame, doc: str, n: str) -> DataFrame:
        return (
            sh.groupBy("doc_id")
            .agg(F.count("*").alias("n_sh"))
            .withColumnRenamed("doc_id", doc)
            .withColumnRenamed("n_sh", n)
        )

    return (
        inter.join(sizes(sh_a, "doc_a", "na"), "doc_a")
        .join(sizes(sh_b, "doc_b", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ≥ threshold via shingle self-join —
    inter/(|A|+|B|-inter). Emits (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The shingle set feeds four plan branches (two join sides + two size
    lookups); persist it so the scan+split+distinct runs once, not four times
    (at cluster scale you'd materialize the shingle table instead)."""
    sh = persist(shingles(corpus, n=n, max_freq=max_freq))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_from_inter(inter, sh, sh, threshold)


def candidate_jaccard(
    candidates: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for CANDIDATE pairs only — the LSH verification step of
    both the self-join (``sh_a`` and ``sh_b`` the same table) and the
    incremental path (the index's and the batch's shingle tables).

    Joins the pair list to the shingle tables twice: fan (doc_a, doc_b) out
    by doc_a's shingles in ``sh_a``, then equi-join on (doc_b, shingle) with
    ``sh_b`` to count the intersection per pair. Cost is O(candidates × avg
    shingles/doc), never the full corpus self-join — this is what makes the
    LSH actually prune at 10^12-doc scale. Pairs with empty intersection
    drop out of the inner join, which is correct for any threshold > 0.

    Join strategy is left to AQE on BOTH joins: candidate volume scales with
    the true-duplicate count, so an unconditional broadcast hint would blow
    the driver on duplicate-heavy corpora at exactly the scale the LSH path
    serves. AQE sees the real candidate size at runtime and broadcasts when
    small (the common case), falling back to a shuffle join otherwise."""
    fan = sh_a.withColumnRenamed("doc_id", "doc_a").join(candidates, "doc_a")
    inter = (
        fan.join(
            sh_b.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_from_inter(inter, sh_a, sh_b, threshold)


def minhash_banded(
    sh: DataFrame, num_hashes: int = 128, bands: int = 64
) -> DataFrame:
    """(doc_id, band, bucket) banded MinHash signatures for a shingle table.

    Factored out of ``minhash_band_candidates`` so the incremental path can
    sign today's batch and the historical index with the SAME fixed hash
    family (rng seed is a module constant — signatures computed on different
    days/jobs stay join-compatible, which is what makes a persisted
    signature index possible at all). Not persisted here: the self-join
    caller persists (both sides read it); the incremental caller reads each
    side once and a persist would only waste executor memory.

    The 128 permutation-free min-hashes h_i(x) = (a_i·x + b_i) mod p
    (p = 2^31−1, x = pmod(xxhash64(shingle), p)) are computed VECTORIZED in
    numpy behind one hash exchange on doc_id: the JVM computes the shingle
    key x (so the heavy shingle string never reaches Python), the narrow
    (doc_id, x) rows shuffle once, and a mapInPandas does one
    (rows × 128) broadcast-multiply-mod + segment-min per Arrow batch with
    cross-batch minima folding (a doc's rows may span batches of its
    partition). A 128-column JVM min-aggregate computes the same thing but
    its generated update method is too large for wholestage codegen/JIT —
    measured 1.9× slower at equal shuffle volume (the old agg's map-side
    partial combine shuffled (doc × 128 longs); this shuffles the
    (doc_id, x) rows — ~same bytes at ~64 shingles/doc). Bucket =
    xxhash64(h0, h1) is computed back in the JVM so banding stays
    join-compatible with any previously persisted signature index; output
    rows are bit-identical to the aggregate formulation (int64 arithmetic
    is exact in both, asserted in tests/test_incremental_dedup.py).
    Python memory is bounded: O(batch × 128) for the hash matrix plus the
    per-partition minima map — the same per-partition state the JVM
    aggregate held."""
    rows_per_band = num_hashes // bands
    p = 2147483647  # 2^31 - 1
    rng = np.random.default_rng(0x31A5_2026)
    A = (1 + rng.integers(0, p - 1, num_hashes)).astype(np.int64)
    B = rng.integers(0, p, num_hashes).astype(np.int64)
    n_bands = bands

    keyed = sh.select(
        "doc_id", F.pmod(F.xxhash64("shingle"), F.lit(p)).cast("long").alias("x")
    )

    def sig(batches):
        import pandas as pd

        acc: dict = {}  # doc_id -> (num_hashes,) int64 minima
        for pdf in batches:
            if not len(pdf):
                continue
            x = pdf["x"].to_numpy(dtype=np.int64)
            h = (x[:, None] * A[None, :] + B[None, :]) % p
            df = pd.DataFrame(h)
            df.insert(0, "_d", pdf["doc_id"].to_numpy())
            gm = df.groupby("_d", sort=False).min()
            for d, row in zip(gm.index.to_numpy(), gm.to_numpy()):
                prev = acc.get(d)
                acc[d] = row if prev is None else np.minimum(prev, row)
        if acc:
            docs = np.fromiter(acc.keys(), dtype=np.int64, count=len(acc))
            m = np.stack(list(acc.values()))  # (ndocs, num_hashes)
            # band b's rows are hashes [b·rpb, (b+1)·rpb) — rpb = 2 here
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(docs, n_bands),
                    "band": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(docs)
                    ),
                    "h0": m[:, 0::rows_per_band].reshape(-1),
                    "h1": m[:, 1::rows_per_band].reshape(-1),
                }
            )

    assert rows_per_band == 2, "banding layout assumes 2 rows per band"
    per_band = keyed.repartition("doc_id").mapInPandas(
        sig, schema="doc_id long, band int, h0 long, h1 long"
    )
    # bucket key is xxhash64 (a long, internal-only — the oracle never sees
    # banding), computed JVM-side so signatures stay join-compatible with
    # any stored index regardless of which formulation produced it
    return per_band.select(
        "doc_id", "band", F.xxhash64("h0", "h1").alias("bucket")
    )


def minhash_band_candidates(
    corpus: DataFrame,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 64,
    max_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """MinHash signature build + LSH banding → candidate pairs.

    Returns ``(candidates, sh, banded)``: the distinct (doc_a, doc_b)
    candidate pairs from the band-bucket equi-join, the persisted shingle
    table the caller verifies against (``candidate_jaccard``), and the
    persisted banded-signature table (both released by the caller's
    ``frames.scope()``). Split out of ``minhash_lsh_pairs`` so the band
    self-join — the one shuffle in this suite whose key CAN skew (a bucket
    shared by a large clone family holds every clone's row) — is directly
    inspectable; tests/test_skew.py drives this stage under AQE skew-split
    and checks the join's partition handling, not the verified output."""
    sh = persist(shingles(corpus, n=n, max_freq=max_freq))
    # persisted: the self-join below reads banded on BOTH sides — without this
    # the 128-aggregate signature build runs twice (measured 2× stage cost)
    banded = persist(minhash_banded(sh, num_hashes=num_hashes, bands=bands))
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return candidates, sh, banded


def minhash_lsh_pairs(
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    num_hashes: int = 128,
    bands: int = 64,
    max_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-verified on candidates only.

    signature: 128 permutation-free min-hashes h_i(s) = (a_i*x + b_i) mod p
    (p = 2^31-1; a_i*x fits a 64-bit long, so the whole signature stays in
    JVM long arithmetic inside whole-stage codegen) over xxhash64 shingle
    keys; banding (64 bands × 2 rows) buckets candidate pairs with an
    equi-join (never a cross join); candidates are then verified with exact
    Jaccard computed ONLY for the candidate pairs (candidate_jaccard — the
    full-corpus self-join is never built), so output = true pairs ≥ threshold
    (LSH only prunes). At 64×2 banding, P(miss) for s ≥ 0.6 is
    ≤ (1-0.36)^64 ≈ 4e-13.
    """
    candidates, sh, _banded = minhash_band_candidates(
        corpus, n=n, num_hashes=num_hashes, bands=bands, max_freq=max_freq
    )
    return candidate_jaccard(candidates, sh, sh, threshold)


def incremental_neardup_pairs(
    new_docs: DataFrame,
    index_docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    num_hashes: int = 128,
    bands: int = 64,
    blacklist: DataFrame | None = None,
) -> DataFrame:
    """Daily-batch incremental near-dup detection: (index_doc, new_doc,
    jaccard ≥ threshold) pairs linking each NEW document to the EXISTING
    corpus documents it near-duplicates. doc_ids must be globally unique
    across both inputs (they key the Jaccard size lookups).

    This is the operation a running 100 TB pipeline performs daily: dedup
    today's crawl against the accumulated index WITHOUT re-joining the index
    against itself. The banded-signature cross-side equi-join touches the
    index only through its (doc_id, band, bucket) signature table — in
    production that table is computed once per doc at ingest (the SAME fixed
    hash family, see minhash_banded) and persisted columnar, so each day
    pays: one scan of the new batch + one bucket-join against stored
    signatures. Intra-batch duplicates are deliberately out of scope — run
    minhash_lsh_pairs on the batch for those.

    No per-side frequency cap is applied (a cap computed per side would
    diverge from one computed jointly); instead ``blacklist`` takes the
    production artifact — a hot-shingle table maintained ON THE INDEX —
    applied as a hint-free LEFT ANTI join on both sides (same degrade-safe
    shape as ngram_jaccard's). Verification is ``candidate_jaccard`` — the
    self-join path's exact Jaccard on candidate pairs only — with each
    pair's shingles and sizes read from its own side's table. (A union of
    the two tables would defeat their caches when both sides derive from
    one source, as they do in the query registry.) Both shingle tables are
    persisted (each feeds banding + verification + sizes)."""
    sh_new = shingles(new_docs, n=n, max_freq=None)
    sh_idx = shingles(index_docs, n=n, max_freq=None)
    if blacklist is not None:
        sh_new = sh_new.join(blacklist.select("shingle"), "shingle", "left_anti")
        sh_idx = sh_idx.join(blacklist.select("shingle"), "shingle", "left_anti")
    sh_new = persist(sh_new)
    sh_idx = persist(sh_idx)
    b_new = minhash_banded(sh_new, num_hashes=num_hashes, bands=bands)
    b_idx = minhash_banded(sh_idx, num_hashes=num_hashes, bands=bands)
    candidates = (
        b_idx.alias("a")
        .join(
            b_new.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return candidate_jaccard(candidates, sh_idx, sh_new, threshold).select(
        F.col("doc_a").alias("index_doc"),
        F.col("doc_b").alias("new_doc"),
        "jaccard",
    )


def dedup_components(pairs: DataFrame) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the near-dup
    pair graph, emitting (doc_id, keeper_id) for every doc that appears in a
    pair — keeper = the component's min doc_id (the standard keep-lowest-id
    dedup policy; a training pipeline anti-joins the corpus against rows
    with doc_id != keeper_id).

    Iterative min-label propagation with pointer halving: each round every
    node takes the min label over itself and its neighbors (self-edges fold
    the "own label" case into the one join+agg), then jumps to its label's
    label — converging in O(log diameter) rounds. The driver loop's only
    scalar action is a changed-row count per round — no data ever collects
    to the driver.

    Iteration state is cut from lineage with ``localCheckpoint`` (the
    standard Spark iterative-algorithm pattern): per-round plans reference a
    materialized RDD, never the pair-producer's plan. This matters twice —
    it stops the plan from doubling per round, and it sidesteps a cache
    pitfall measured here: a SELF-UNION over a persisted DataFrame defeats
    cache substitution (the re-deduplicated second branch no longer
    canonically matches the cache entry), silently recomputing the upstream
    pair producer once per reference. (Cluster note: localCheckpoint trades
    executor-loss recoverability for speed; a long-running cluster job would
    use reliable checkpoint() to the job's checkpoint dir instead.)

    The result reads the converged labels checkpoint, which the caller's
    ``frames.scope()`` frees once the action has run.
    """
    # both directions AND both self-edges in ONE pass over the pair
    # producer (a 4-struct explode + distinct — the old both→selfe→union
    # shape materialized three frames / three jobs for the same edge set;
    # self-edges fold the "own label" case into the one join+agg)
    edges = local_checkpoint(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
                    ),
                    F.struct(
                        F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
                    ),
                    F.struct(
                        F.col("doc_a").alias("a"), F.col("doc_a").alias("b")
                    ),
                    F.struct(
                        F.col("doc_b").alias("a"), F.col("doc_b").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    labels = local_checkpoint(
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    while True:
        # one materialization per round: propagate + pointer-halve + attach
        # the previous label, checkpoint the wide (doc_id, label, old) frame,
        # then read the changed-count off the materialized RDD — a narrow
        # scan, not the shuffle join the old 3-job round paid. ``stepped``
        # is deliberately NOT checkpointed: its two references share one
        # subtree whose exchange the planner reuses (ReusedExchange), so
        # folding it into the round's single job drops a whole
        # materialize+job cycle per round with no recompute.
        stepped = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("b"), F.col("label").alias("nl")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nl").alias("label"))
            .select(F.col("a").alias("doc_id"), "label")
        )
        # pointer halving: label ← label(label) (min-monotone, only lowers)
        new_labels = local_checkpoint(
            stepped.join(
                stepped.select(
                    F.col("doc_id").alias("label"), F.col("label").alias("l2")
                ),
                "label",
                "left",
            )
            .join(
                labels.select("doc_id", F.col("label").alias("old")), "doc_id"
            )
            .select(
                "doc_id", F.coalesce("l2", "label").alias("label"), "old"
            )
        )
        changed = (
            new_labels.filter(F.col("label") != F.col("old")).count()
        )
        # new_labels is materialized and carries everything the next round
        # needs — free the previous round's checkpoint so storage stays
        # O(1) across rounds
        release(labels)
        labels = new_labels
        if changed == 0:
            break
    release(edges)  # converged: no further propagation rounds
    return labels.select("doc_id", F.col("label").alias("keeper_id"))


def dedup_apply(corpus: DataFrame, pairs: DataFrame) -> DataFrame:
    """Materialize the deduplicated corpus: resolve duplicate clusters over
    the near-dup pair graph (``dedup_components``) and LEFT ANTI join the
    corpus against the non-keepers — the final step a training pipeline runs
    daily to emit the surviving (doc_id, text) rows.

    Scale notes (100 TB): the components table only contains docs that
    appear in a pair — a small fraction of the corpus — and the anti-join is
    a shuffle-on-key (or AQE-chosen broadcast when the non-keeper set is
    small) equi-join; the corpus is never collected or cross-joined.
    Reference analog: the incremental-skip anti-join precedent,
    /root/reference/model/utils/image.py:243-245.
    """
    non_keepers = (
        dedup_components(pairs)
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id")
    )
    return corpus.join(non_keepers, "doc_id", "left_anti")


def simhash_64(corpus: DataFrame) -> DataFrame:
    """64-bit SimHash per document from md5-derived word-hash bits —
    (doc_id, simhash).

    Weighted bit-vote: for each of 64 bit positions, +1 if the word hash has
    the bit set else -1; simhash bit = sign(vote). Word-hash bit b is bit
    (b mod 4) of hex digit (b div 4) of md5(word) — md5 (not xxhash64) so the
    DuckDB oracle can derive the exact same bits from string ops; the whole
    thing stays built-in expressions inside whole-stage codegen, no UDF.
    """
    words = corpus.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    hexd = F.md5("w")
    # 16 hex-digit values (0..15), one projection
    vals = words.select(
        "doc_id",
        *[
            (F.instr(F.lit("0123456789abcdef"), F.substring(hexd, d + 1, 1)) - 1)
            .cast("int")
            .alias(f"v{d}")
            for d in range(16)
        ],
    )
    votes = vals.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"v{b // 4}"), b % 4).bitwiseAND(F.lit(1)) == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    return votes.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"b{b}") > 0,
                    F.lit(2**b if b < 63 else -(2**63)).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                for b in range(64)
            ]
        ).alias("simhash"),
    )


def simhash_pairs(
    corpus: DataFrame, max_hamming: int = 7, n_blocks: int = 8
) -> DataFrame:
    """SimHash near-duplicate pairs with Hamming distance ≤ max_hamming —
    (doc_a, doc_b, hamming), doc_a < doc_b.

    Candidate generation is bit-block banding (the Hamming analog of MinHash
    banding): the 64-bit signature splits into ``n_blocks`` equal blocks; by
    pigeonhole any pair within Hamming ≤ n_blocks-1 shares at least one whole
    block, so an equi-join on (block_idx, block_bits) finds every true pair
    for max_hamming ≤ n_blocks-1 — never a cross join. Verification is one
    bit_count(xor) per candidate. Arithmetic-vs-logical shift doesn't matter:
    the & mask keeps only the block's own bits.
    """
    assert max_hamming <= n_blocks - 1, "banding guarantee needs blocks > hamming"
    bits_per = 64 // n_blocks
    mask = (1 << bits_per) - 1
    # persisted: both self-join sides read the signatures — otherwise the
    # 64-vote aggregation runs twice. Persist the 1-row-per-doc sigs, NOT the
    # exploded 8-rows-per-doc block table: the explode is a cheap map-side
    # projection each side recomputes from cache, and the persisted footprint
    # (what the r3 profile flagged as the pairing-stage drift) stays 8x
    # smaller.
    sigs = persist(simhash_64(corpus))
    block_structs = [
        F.struct(
            F.lit(k).alias("block_idx"),
            F.shiftright(F.col("simhash"), k * bits_per)
            .bitwiseAND(F.lit(mask))
            .alias("block_bits"),
        )
        for k in range(n_blocks)
    ]
    blocks = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*block_structs)).alias("bk")
    ).select(
        "doc_id",
        "simhash",
        F.col("bk.block_idx").alias("block_idx"),
        F.col("bk.block_bits").alias("block_bits"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    cands = a.join(
        b,
        (F.col("a.block_idx") == F.col("b.block_idx"))
        & (F.col("a.block_bits") == F.col("b.block_bits"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("sa"),
        F.col("b.simhash").alias("sb"),
    )
    # Verify BEFORE deduplicating: bit_count(xor) is a per-row expression,
    # and hamming ≤ max_hamming rejects almost every candidate (random
    # signatures average distance 32), so the distinct's exchange shuffles
    # only true near-dup pairs instead of every multi-block collision.
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
