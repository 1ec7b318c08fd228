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

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..frames import local_checkpoint, persist, release
from . import text_analysis as TA

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

    Each text is split ONCE into a words column below the ``transform``:
    Spark does not eliminate common subexpressions inside a lambda, so a
    ``split`` written into the lambda's ``element_at`` calls re-splits the
    whole text for every word of it — quadratic in document length
    (tests/test_plans.py pins that no split sits under a lambda).
    """
    words = F.col("_words")

    def _shingle(i):
        parts = []
        for k in range(n):
            if k:
                parts.append(F.lit("|"))
            parts.append(F.element_at(words, i + k))
        return F.concat(*parts)  # concat (not concat_ws): NULL word → NULL shingle

    sh = (
        corpus.select("doc_id", TA.tokens(F.col("text")).alias("_words"))
        .select(
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


def shingle_sets(sh: DataFrame) -> DataFrame:
    """Distinct shingle rows → one row per doc: (doc_id, shingles
    array<string>), the table the LSH path signs and verifies from."""
    return sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shingles"))


def _jaccard(inter: Column, na: Column, nb: Column) -> Column:
    """inter/(|A|+|B|-inter) rounded to 4 places — the one formula the
    exact and the candidate verification share, so both emit equal values."""
    return F.round(inter / (na + nb - inter), 4).cast("double").alias("jaccard")


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
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return (
        inter.join(sizes.toDF("doc_a", "na"), "doc_a")
        .join(sizes.toDF("doc_b", "nb"), "doc_b")
        .select("doc_a", "doc_b", _jaccard(F.col("inter"), F.col("na"), F.col("nb")))
        .filter(F.col("jaccard") >= threshold)
    )


def candidate_jaccard(
    candidates: DataFrame, sets_a: DataFrame, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for CANDIDATE pairs only — the LSH verification step of
    both the self-join (``sets_a`` and ``sets_b`` the same table) and the
    incremental path (the index's and the batch's tables).

    ``sets_a``/``sets_b`` are per-doc shingle-set tables (``shingle_sets``):
    each candidate (doc_a, doc_b) picks up doc_a's set from ``sets_a`` and
    doc_b's from ``sets_b`` through two ``doc_id`` joins, and the pair's
    intersection is ``size(array_intersect(a, b))`` — a per-row expression,
    so verification adds no aggregate and shuffles no shingle rows. Cost is
    O(candidates × avg shingles/doc), never the full corpus self-join — this
    is what makes the LSH actually prune at 10^12-doc scale. (The sets are
    distinct, so the intersection size is the shared-shingle count the
    row-table formulation counts; a pair sharing none scores 0 and drops
    for any threshold > 0.)

    Join strategy is left to AQE on BOTH joins: candidate volume scales with
    the true-duplicate count, so an unconditional broadcast hint would blow
    the driver on duplicate-heavy corpora at exactly the scale the LSH path
    serves. AQE sees the real sizes at runtime and broadcasts when small
    (the common case), falling back to a shuffle join otherwise."""
    sa, sb = F.col("sa"), F.col("sb")
    inter = F.size(F.array_intersect(sa, sb))
    return (
        candidates.join(sets_a.toDF("doc_a", "sa"), "doc_a")
        .join(sets_b.toDF("doc_b", "sb"), "doc_b")
        .select("doc_a", "doc_b", _jaccard(inter, F.size(sa), F.size(sb)))
        .filter(F.col("jaccard") >= threshold)
    )


# Shingle keys per slice of the signing UDF's hash matrix: each slice is a
# (SIGN_SLICE_KEYS × num_hashes) int64 array — 4 MiB at 128 hashes.
SIGN_SLICE_KEYS = 4096


def _min_hashes(
    x: np.ndarray, offsets: np.ndarray, A: np.ndarray, B: np.ndarray, p: int
) -> np.ndarray:
    """(docs, len(A)) int64 minima of h_i(x) = (A_i·x + B_i) mod p, doc d's
    keys being ``x[offsets[d]:offsets[d+1]]`` (every doc non-empty).

    The hash matrix is built SIGN_SLICE_KEYS keys at a time; a doc whose
    keys straddle a slice boundary folds its per-slice minima together, so
    the result does not depend on where the boundaries fall."""
    out = np.full((len(offsets) - 1, len(A)), p, dtype=np.int64)  # p > any h
    for s in range(0, len(x), SIGN_SLICE_KEYS):
        e = min(s + SIGN_SLICE_KEYS, len(x))
        h = x[s:e, None] * A  # < 2^62: exact in int64
        h += B
        h %= p
        d0 = np.searchsorted(offsets, s, "right") - 1  # the doc holding key s
        d1 = np.searchsorted(offsets, e, "left")  # docs starting before e
        seg = np.minimum.reduceat(h, np.maximum(offsets[d0:d1], s) - s, axis=0)
        np.minimum(out[d0:d1], seg, out=out[d0:d1])
    return out


def minhash_banded(
    sets: DataFrame, num_hashes: int = 128, bands: int = 64
) -> DataFrame:
    """(doc_id, band, bucket) banded MinHash signatures for a per-doc
    shingle-set table (``shingle_sets``, whose sets are never empty).

    Factored out of ``minhash_band_candidates`` so the incremental path can
    sign today's batch and the historical index with the SAME fixed hash
    family (rng seed is a module constant — signatures computed on different
    days/jobs stay join-compatible, which is what makes a persisted
    signature index possible at all). Not persisted here: the self-join
    caller persists (both sides read it); the incremental caller reads each
    side once and a persist would only waste executor memory.

    The 128 permutation-free min-hashes h_i(x) = (a_i·x + b_i) mod p
    (p = 2^31−1, x = pmod(xxhash64(shingle), p)) are computed VECTORIZED in
    numpy, one input row per doc: the JVM turns each doc's shingle array
    into an array of keys x (so the shingle strings never reach Python),
    and a stateless ``mapInArrow`` computes each Arrow batch's
    (keys × 128) hash matrix and takes every doc's minima with
    ``np.minimum.reduceat`` over the list offsets. No exchange and no
    cross-batch state: a doc's keys arrive in one row. Bucket =
    xxhash64(h0, h1) is computed back in the JVM so banding stays
    join-compatible with any previously persisted signature index; the
    signatures are the exact int64 minima every earlier formulation
    computed (same A, B, p; 64 bands × 2 rows).

    Python memory per Arrow batch of D docs holding K keys in all, with
    H = num_hashes: the keys (8·K bytes), the minima (8·D·H) and one hash
    slice plus its segment minima (≤ 2 · 8·SIGN_SLICE_KEYS·H = 8 MiB at
    H = 128) — independent of how many shingles one doc has (SCALE.md)."""
    rows_per_band = num_hashes // bands
    assert rows_per_band == 2, "banding layout assumes 2 rows per band"
    p = 2147483647  # 2^31 - 1
    rng = np.random.default_rng(0x31A5_2026)
    A = (1 + rng.integers(0, p - 1, num_hashes)).astype(np.int64)
    B = rng.integers(0, p, num_hashes).astype(np.int64)
    band_ids = np.arange(bands, dtype=np.int32)

    keyed = sets.select(
        "doc_id",
        F.transform(
            "shingles", lambda s: F.pmod(F.xxhash64(s), F.lit(p)).cast("long")
        ).alias("x"),
    )

    def sig(batches):
        import pyarrow as pa

        for rb in batches:
            if not rb.num_rows:
                continue
            xs = rb.column("x")
            offsets = xs.offsets.to_numpy()
            m = _min_hashes(
                xs.flatten().to_numpy(zero_copy_only=False),
                offsets - offsets[0],
                A,
                B,
                p,
            )
            # band b's rows are hashes [2b, 2b + 1]
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("doc_id").take(np.repeat(np.arange(rb.num_rows), bands)),
                    pa.array(np.tile(band_ids, rb.num_rows)),
                    pa.array(m[:, 0::2].reshape(-1)),
                    pa.array(m[:, 1::2].reshape(-1)),
                ],
                names=["doc_id", "band", "h0", "h1"],
            )

    doc_type = sets.schema["doc_id"].dataType.simpleString()
    per_band = keyed.mapInArrow(
        sig, schema=f"doc_id {doc_type}, band int, h0 long, h1 long"
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

    Returns ``(candidates, sets, banded)``: the distinct (doc_a, doc_b)
    candidate pairs from the band-bucket equi-join, the persisted per-doc
    shingle-set table (``shingle_sets`` of the capped, distinct shingles)
    that both signing and the caller's verification (``candidate_jaccard``)
    read, and the persisted banded-signature table (both released by the
    caller's ``frames.scope()``). Split out of ``minhash_lsh_pairs`` so the
    band self-join — the one shuffle in this suite whose key CAN skew (a
    bucket shared by a large clone family holds every clone's row) — is
    directly inspectable; tests/test_skew.py drives this stage under AQE
    skew-split and checks the join's partition handling, not the verified
    output."""
    sets = persist(shingle_sets(shingles(corpus, n=n, max_freq=max_freq)))
    # persisted: the self-join below reads banded on BOTH sides — without this
    # the signature build runs twice (measured 2× stage cost)
    banded = persist(minhash_banded(sets, num_hashes=num_hashes, bands=bands))
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
    return candidates, sets, banded


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
    (p = 2^31-1; a_i*x fits a 64-bit long) over xxhash64 shingle keys
    (``minhash_banded``); banding (64 bands × 2 rows) buckets candidate
    pairs with an equi-join (never a cross join); candidates are then
    verified with exact Jaccard computed ONLY for the candidate pairs
    (candidate_jaccard — the full-corpus self-join is never built), so
    output = true pairs ≥ threshold (LSH only prunes). At 64×2 banding,
    P(miss) for s ≥ 0.6 is ≤ (1-0.36)^64 ≈ 4e-13.
    """
    candidates, sets, _banded = minhash_band_candidates(
        corpus, n=n, num_hashes=num_hashes, bands=bands, max_freq=max_freq
    )
    return candidate_jaccard(candidates, sets, sets, threshold)


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
    across both inputs (they key the verification's set lookups).

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
    pair's set read from its own side's table. (A union of the two tables
    would defeat their caches when both sides derive from one source, as
    they do in the query registry.) Both shingle-set tables are persisted
    (each feeds banding + verification)."""
    sh_new = shingles(new_docs, n=n, max_freq=None)
    sh_idx = shingles(index_docs, n=n, max_freq=None)
    if blacklist is not None:
        sh_new = sh_new.join(blacklist.select("shingle"), "shingle", "left_anti")
        sh_idx = sh_idx.join(blacklist.select("shingle"), "shingle", "left_anti")
    sets_new = persist(shingle_sets(sh_new))
    sets_idx = persist(shingle_sets(sh_idx))
    b_new = minhash_banded(sets_new, num_hashes=num_hashes, bands=bands)
    b_idx = minhash_banded(sets_idx, num_hashes=num_hashes, bands=bands)
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
    return candidate_jaccard(candidates, sets_idx, sets_new, threshold).select(
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
    label — converging in O(log diameter) rounds. Every label starts as the
    node's own id, so round 1 needs no label table: it is ``min(b)`` over
    the edges. Each round's aggregate also reads the node's previous label
    off its self-edge, and the changed-label count is an ``Observation`` on
    the round's one materialization — no extra join and no count job, and
    no data ever collects to the driver.

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
    # (a, b, nl): every edge with b's current label — round 1's labels are
    # the ids themselves
    labelled = edges.withColumn("nl", F.col("b"))
    labels = None
    while True:
        # one materialization per round: propagate, read the old label off
        # the self-edge, pointer-halve, checkpoint. ``stepped`` is
        # deliberately NOT checkpointed: its two references share one
        # subtree whose exchange the planner reuses (ReusedExchange), so
        # folding it into the round's single job drops a whole
        # materialize+job cycle per round with no recompute.
        stepped = labelled.groupBy(F.col("a").alias("doc_id")).agg(
            F.min("nl").alias("label"),
            F.max(F.when(F.col("a") == F.col("b"), F.col("nl"))).alias("old"),
        )
        # pointer halving: label ← label(label) (min-monotone, only lowers)
        halved = stepped.join(
            stepped.select(F.col("doc_id").alias("label"), F.col("label").alias("l2")),
            "label",
            "left",
        ).select("doc_id", F.coalesce("l2", "label").alias("label"), "old")
        obs = Observation()
        new_labels = local_checkpoint(
            halved.observe(
                obs, F.count(F.when(F.col("label") != F.col("old"), 1)).alias("changed")
            ).select("doc_id", "label")
        )
        # new_labels is materialized and carries everything the next round
        # needs — free the previous round's checkpoint so storage stays
        # O(1) across rounds
        if labels is not None:
            release(labels)
        labels = new_labels
        if obs.get["changed"] == 0:
            break
        labelled = edges.join(
            labels.select(F.col("doc_id").alias("b"), F.col("label").alias("nl")),
            "b",
        )
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


# The daily near-dup step's shingle width and Jaccard threshold.
NEAR_DUP_N = 3
NEAR_DUP_THRESHOLD = 0.5


def drop_near_dups(corpus: DataFrame) -> DataFrame:
    """The daily pipeline's near-dup step: MinHash-LSH pairs at
    ``NEAR_DUP_N``-word shingles and Jaccard ≥ ``NEAR_DUP_THRESHOLD``, then
    ``dedup_apply``. The composed ``curate_and_budget`` and the staged
    dedup job both call it, so the two cannot drift apart. ``corpus`` feeds
    both the pair generation and the anti-join: pass a persisted or
    materialized frame."""
    return dedup_apply(
        corpus,
        minhash_lsh_pairs(corpus, n=NEAR_DUP_N, threshold=NEAR_DUP_THRESHOLD),
    )


def simhash_64(corpus: DataFrame) -> DataFrame:
    """64-bit SimHash per document from md5-derived word-hash bits —
    (doc_id, simhash).

    Weighted bit-vote: for each of 64 bit positions, +1 if the word hash has
    the bit set else -1; simhash bit = sign(vote). Word-hash bit b is bit
    (b mod 4) of hex digit (b div 4) of md5(word) — md5 (not xxhash64) so the
    DuckDB oracle can derive the exact same bits from string ops; the whole
    thing stays built-in expressions inside whole-stage codegen, no UDF.
    """
    hexd = F.md5("w")
    # 16 hex-digit values (0..15), one projection
    vals = corpus.select(
        "doc_id", F.explode(TA.words(F.col("text"))).alias("w")
    ).select(
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
