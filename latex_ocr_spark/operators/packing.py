"""Training-sequence assembly operators: sequence packing, chunk-level
dedup, and deterministic stratified splits — the last mile between a curated
corpus and a training run. No reference counterpart (the reference trains on
single formula images, /root/reference/model/base.py); these are the
operations a 100 TB text pipeline needs once the corpus is curated.

All three are deterministic (hash- or id-ordered, no RNG) so reruns and the
DuckDB oracles are byte-stable, and all three are built-in-expression only —
zero UDFs, zero collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import text_analysis as TA


def _shard_expr(col, n_shards: int):
    """Deterministic uniform shard in [0, n_shards): first 6 hex chars of
    md5 → int. Content-hash based (not doc_id % n) so clustered or sparse id
    ranges still spread; 24 bits keeps the DuckDB mirror exact
    (('0x' || substr(md5(x),1,6))::BIGINT % n)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 6), 16, 10)
        .cast("bigint") % n_shards
    )


def pack_sequences(
    corpus: DataFrame, seq_len: int = 256, n_shards: int | None = None
) -> DataFrame:
    """GPT-style concat-and-chop sequence packing: documents are laid
    end-to-end and chopped into fixed ``seq_len``-token blocks; each doc is
    assigned the block where it STARTS plus its offset inside that block
    (the tokenizer-side writer consumes exactly this layout).

    Scale design: a single global concatenation order would be one total
    sort — the serial trap at 100 TB. Instead each doc hashes into one of
    ``n_shards`` deterministic shards and packing runs per shard (window
    cumsum ordered by doc_id within shard). Parallelism = n_shards; the
    default derives from the cluster (max(defaultParallelism, 16), the
    decode-partition heuristic's pattern) so a bigger cluster gets more
    shards without retuning — note the shard count is part of the LAYOUT:
    reruns that must reproduce a prior run's (shard, seq_id, offset) must
    pin n_shards explicitly (the gate query pins 16). Packing waste is
    unchanged by sharding because blocks are chopped, not bin-packed, and
    the layout stays fully deterministic — every run and every engine
    agrees on (shard, seq_id, offset) per doc.

    Returns (doc_id, shard, seq_id, offset, n_words): seq_id is the
    in-shard block index, offset the doc's first-word position in it.
    """
    if n_shards is None:
        n_shards = max(corpus.sparkSession.sparkContext.defaultParallelism, 16)
    base = corpus.select(
        "doc_id",
        _shard_expr(F.col("doc_id"), n_shards).alias("shard"),
        TA.n_words(F.col("text")).alias("n_words"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_words").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "shard",
        F.floor(cum_before / seq_len).cast("bigint").alias("seq_id"),
        (cum_before % seq_len).cast("bigint").alias("offset"),
        "n_words",
    )


def chunk_dedup(corpus: DataFrame, chunk_words: int = 20) -> DataFrame:
    """Chunk-level exact dedup: split each document into fixed
    ``chunk_words``-word chunks, drop every chunk whose content was already
    seen anywhere in the corpus (keeper = lowest (doc_id, chunk_idx) —
    first occurrence wins), and reassemble each doc from its surviving
    chunks in order. This is the sub-document analog of exact dedup:
    boilerplate paragraphs repeated across pages disappear while the
    unique remainder of each page survives — per-doc dedup (fingerprint /
    MinHash) can only keep or drop whole documents.

    Scale: chunking is a per-row explode (map-side); the keeper is computed
    TWO-PHASE — ``groupBy(md5(chunk)).agg(min(struct(doc_id, idx)))`` gets
    map-side partial combine, so a web-scale boilerplate chunk reduces to
    one row per map task BEFORE the exchange, then an equi-join marks each
    occurrence (AQE can skew-split a join, unlike a window). The old
    ``Window.partitionBy(chunk)`` keeper put a hot chunk's entire occurrence
    set in ONE window task with no WindowGroupLimit pushdown (every row
    survives to reassembly). Keying the shuffle on md5(chunk) (~32 B) also
    beats shuffling raw chunk text. Emits every input doc:
    (doc_id, text [surviving chunks joined], n_chunks, n_kept); a fully
    duplicated doc survives as an empty string with n_kept = 0.
    """
    # the words are a column below the chunking lambda: a split written
    # inside it would re-split the text once per chunk
    words = F.col("_words")
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunks = F.when(F.size(words) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * chunk_words + 1, chunk_words)
        ),
    )).otherwise(F.array().cast("array<string>"))
    exploded = corpus.select(
        "doc_id", TA.words(F.col("text")).alias("_words")
    ).select("doc_id", F.posexplode_outer(chunks).alias("idx", "chunk"))
    # phase 1: first occurrence per chunk content (hash agg, partial combine)
    keepers = (
        exploded.filter(F.col("chunk").isNotNull())
        .groupBy(F.md5(F.col("chunk")).alias("chunk_md5"))
        .agg(F.min(F.struct("doc_id", "idx")).alias("first_occ"))
    )
    # phase 2: mark occurrences — same keeper as the old
    # row_number-over-(doc_id, idx) window (min over struct<doc_id, idx> is
    # the identical lexicographic order), modulo md5 collisions
    flagged = exploded.join(
        keepers, F.md5(F.col("chunk")) == F.col("chunk_md5"), "left"
    ).withColumn(
        "kept",
        F.col("chunk").isNotNull()
        & (F.struct("doc_id", "idx") == F.col("first_occ")),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"),
                                F.struct(F.col("idx"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("text"),
            F.count(F.col("chunk")).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


def stratified_split(
    corpus: DataFrame,
    fractions: tuple = (("train", 0.98), ("val", 0.01), ("test", 0.01)),
) -> DataFrame:
    """Deterministic train/val/test assignment: cumulative fraction
    boundaries, rendered as 8-hex string literals, carve each document's
    uniform ``doc_draw()`` into splits (engine-exact, as in
    ``sample_to_budget``). Membership is a pure function of doc_id: stable
    under repartitioning, appends, and reruns, and any engine reproduces it.

    Pure per-row expressions — zero shuffles. Emits (doc_id, lang, split).
    """
    total = sum(f for _, f in fractions)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    h = TA.doc_draw()
    cum = 0.0
    expr = F.lit(fractions[-1][0])  # fallback = last split
    cases = []
    for name, frac in fractions[:-1]:
        cum += frac
        bound = format(min(int(cum * 2**32), 2**32 - 1), "08x")
        cases.append((name, bound))
    for name, bound in reversed(cases):
        expr = F.when(h < F.lit(bound), F.lit(name)).otherwise(expr)
    return corpus.select("doc_id", "lang", expr.alias("split"))
