"""Incremental (batch-vs-index) near-dup detection semantics."""

from __future__ import annotations


DOCS = [
    # historical index: ids < 100
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "completely different words about spark shuffles and joins here"),
    (3, "another unrelated document mentioning parquet scans and pruning"),
    # today's batch: ids >= 100
    (101, "the quick brown fox jumps over the lazy dog today"),  # copy of 1
    (102, "the quick brown fox jumps over the lazy dog tonight"),  # near 1
    (103, "fresh content never seen before in the index at all"),
    (104, "fresh content never seen before in the index at all"),  # intra-batch dup
]


def _split(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    return df.filter("doc_id >= 100"), df.filter("doc_id < 100")


def test_incremental_links_new_to_index_only(spark):
    from latex_ocr_spark.frames import scope
    from latex_ocr_spark.operators.dedup import incremental_neardup_pairs

    new, idx = _split(spark)
    with scope():
        pairs = incremental_neardup_pairs(new, idx, threshold=0.5)
        got = {(r.index_doc, r.new_doc): r.jaccard for r in pairs.collect()}
    assert got[(1, 101)] == 1.0  # exact copy
    assert (1, 102) in got and got[(1, 102)] < 1.0  # near-dup
    # intra-batch duplicate pair 103/104 is out of scope by contract
    assert all(a < 100 <= b for a, b in got)
    assert not any(b in (103, 104) for _, b in got)


def test_incremental_blacklist_degrades_recall_not_correctness(spark):
    from latex_ocr_spark.operators.dedup import (
        incremental_neardup_pairs,
        shingles,
    )

    new, idx = _split(spark)
    # blacklist EVERY index shingle -> zero candidates, empty result (the
    # hot-shingle anti-join is hint-free and can't produce false pairs)
    bl = shingles(idx).select("shingle").distinct()
    assert incremental_neardup_pairs(new, idx, blacklist=bl).count() == 0


def test_incremental_matches_self_join_on_cross_pairs(spark):
    """Cross-side pairs from the incremental path equal the corresponding
    subset of the full self-join path (same corpus, no frequency cap)."""
    from latex_ocr_spark.operators.dedup import (
        incremental_neardup_pairs,
        jaccard_pairs,
    )

    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.5, max_freq=None).collect()
        if r.doc_a < 100 <= r.doc_b
    }
    inc = {
        (r.index_doc, r.new_doc): r.jaccard
        for r in incremental_neardup_pairs(
            df.filter("doc_id >= 100"), df.filter("doc_id < 100"), threshold=0.5
        ).collect()
    }
    assert inc == full
