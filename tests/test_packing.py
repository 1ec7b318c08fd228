"""Unit oracles for the sequence-assembly operators (pack_sequences,
chunk_dedup, stratified_split) — tiny hand-checkable corpora; the sf0.01
hash gate covers them at scale."""

from __future__ import annotations

import hashlib

import pytest

from latex_ocr_spark.operators.packing import (
    chunk_dedup,
    pack_sequences,
    stratified_split,
)


def test_pack_sequences_single_shard_layout(spark):
    """With one shard the layout is the plain concat-and-chop: doc word
    counts 3, 4, 2 at seq_len 5 → starts at offsets 0, 3, 2-of-block-1."""
    rows = [(1, "a b c"), (2, "d e f g"), (3, "h i")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.shard, r.seq_id, r.offset, r.n_words)
        for r in pack_sequences(docs, seq_len=5, n_shards=1).collect()
    }
    assert got == {
        1: (0, 0, 0, 3),   # starts block 0 offset 0
        2: (0, 0, 3, 4),   # cum_before 3
        3: (0, 1, 2, 2),   # cum_before 7 → block 1, offset 2
    }


def test_pack_sequences_shard_is_md5_derived(spark):
    docs = spark.createDataFrame(
        [(i, "w") for i in range(50)], "doc_id long, text string"
    )
    got = {r.doc_id: r.shard for r in
           pack_sequences(docs, seq_len=4, n_shards=16).collect()}
    expect = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) % 16
        for i in range(50)
    }
    assert got == expect


def test_pack_sequences_default_shards_derive_from_parallelism(spark):
    """n_shards=None derives max(defaultParallelism, 16) — the layout knob
    scales with the cluster instead of a constant (r7 verdict ask #6); an
    explicit n_shards (as the gate query pins) is untouched."""
    docs = spark.createDataFrame(
        [(i, "w x y") for i in range(64)], "doc_id long, text string"
    )
    derived = max(spark.sparkContext.defaultParallelism, 16)
    shards = {r.shard for r in pack_sequences(docs, seq_len=4).collect()}
    assert shards <= set(range(derived))
    expect = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) % derived
        for i in range(64)
    }
    got = {r.doc_id: r.shard for r in pack_sequences(docs, seq_len=4).collect()}
    assert got == expect


def test_chunk_dedup_cross_doc_within_doc_and_full_dup(spark):
    rows = [
        (1, "a b c d e f"),        # chunks: 'a b c', 'd e f' — both novel
        (2, "a b c x y z"),        # 'a b c' already seen → only 'x y z'
        (3, "a b c d e f"),        # full duplicate of doc 1 → empty
        (4, "p q r p q r"),        # within-doc repeat → one survives
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_chunks, r.n_kept)
        for r in chunk_dedup(docs, chunk_words=3).collect()
    }
    assert got[1] == ("a b c d e f", 2, 2)
    assert got[2] == ("x y z", 2, 1)
    assert got[3] == ("", 2, 0)
    assert got[4] == ("p q r", 2, 1)


def test_chunk_dedup_short_and_empty_docs(spark):
    rows = [(1, "only two"), (2, ""), (3, "only two")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_chunks, r.n_kept)
        for r in chunk_dedup(docs, chunk_words=5).collect()
    }
    assert got[1] == ("only two", 1, 1)
    assert got[2] == ("", 0, 0)      # empty doc survives as an empty row
    assert got[3] == ("", 1, 0)      # its single chunk is a dup of doc 1


def test_chunk_dedup_hot_chunk_two_phase_keeper(spark):
    """Clone-heavy corpus (one boilerplate chunk in 200 of 220 docs): the
    two-phase keeper (hash agg on md5(chunk) + join-back) must produce
    exactly the first-occurrence-wins result the old per-chunk window
    produced, and the plan must contain NO window node — the hot chunk's
    occurrence set must never serialize into a single window task (r7
    verdict scale-cliff #2; a join is AQE-skew-splittable, a window is
    not)."""
    hot = "the same boiler plate"  # one 4-word chunk repeated corpus-wide
    rows = [(i, f"{hot} unique tail {i} x") for i in range(200)]
    rows += [(1000 + i, f"fresh content {i} y z") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_chunks, r.n_kept)
        for r in chunk_dedup(docs, chunk_words=4).collect()
    }
    # python reference: first (doc_id, idx) occurrence of each chunk wins
    seen: dict[str, tuple] = {}
    expect: dict[int, tuple] = {}
    for doc_id, text in sorted(rows):
        words = [w for w in text.split(" ") if w]
        chunks = [
            " ".join(words[i : i + 4]) for i in range(0, len(words), 4)
        ]
        keptc = []
        for idx, c in enumerate(chunks):
            if c not in seen:
                seen[c] = (doc_id, idx)
                keptc.append(c)
        expect[doc_id] = (" ".join(keptc), len(chunks), len(keptc))
    assert got == expect
    plan = chunk_dedup(docs, chunk_words=4)._jdf.queryExecution().executedPlan().toString()
    assert ") Window" not in plan and "WindowExec" not in plan
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan
    docs = spark.createDataFrame(
        [(i, "t", "en") for i in range(300)],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: r.split for r in stratified_split(docs).collect()}
    b_train = format(min(int(0.98 * 2**32), 2**32 - 1), "08x")
    b_val = format(min(int(0.99 * 2**32), 2**32 - 1), "08x")
    for i in range(300):
        h = hashlib.md5(str(i).encode()).hexdigest()[:8]
        expect = "train" if h < b_train else ("val" if h < b_val else "test")
        assert got[i] == expect
    with pytest.raises(ValueError, match="sum to 1"):
        stratified_split(docs, fractions=(("a", 0.5), ("b", 0.1)))
