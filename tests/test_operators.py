"""Unit tests for dedup / similarity / text-analysis operators (Spark-side
semantics; the Spark-vs-DuckDB equivalence is exercised by
tools/check_oracles.py and the driver's correctness gate)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.operators import dedup as D
from latex_ocr_spark.operators import similarity as S
from latex_ocr_spark.operators import text_analysis as TA

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def dup_corpus(spark):
    return D.corpus_with_dups(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_dedup_finds_planted_copies(spark, dup_corpus):
    groups = D.exact_dedup_groups(dup_corpus).collect()
    n_planted = dup_corpus.filter(F.col("doc_id") >= 2000000).count()
    assert len(groups) == n_planted
    for g in groups:
        assert g.n_members == 2
        assert g.keeper_doc_id < 2000000


def test_jaccard_pairs_rank_planted_near_dups_first(spark, dup_corpus):
    pairs = D.jaccard_pairs(dup_corpus, n=3, threshold=0.5).collect()
    assert pairs, "expected planted near-dup pairs above threshold"
    found = {(p.doc_a, p.doc_b) for p in pairs}
    for p in pairs:
        assert p.doc_a < p.doc_b
        assert 0.5 <= p.jaccard <= 1.0
    # recall: every planted exact copy (identical text → jaccard 1.0) and the
    # 5-word-drop near-copies of long docs must be found. (The corpus also
    # contains NATURAL near-dups — e.g. sf0.001 docs 0 and 50 — which is fine.)
    base = dup_corpus.filter(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1000000)
    ).collect()
    long_ids = [r.doc_id for r in base if len(r.text.split(" ")) >= 40]
    assert long_ids
    for d in long_ids:
        assert (d, d + 1000000) in found, f"missed planted near-dup of doc {d}"


def test_minhash_lsh_equals_exact_jaccard(spark, dup_corpus):
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(dup_corpus, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(dup_corpus, n=3, threshold=0.5).collect()
    }
    assert lsh == exact  # verify step removes FPs; banding recall = 1.0 here


def test_min_hashes_fold_across_slice_boundaries():
    """The signing kernel builds its hash matrix SIGN_SLICE_KEYS keys at a
    time; docs that straddle one or two slice boundaries sign exactly as a
    direct (keys × hashes) numpy reference does."""
    k = D.SIGN_SLICE_KEYS
    rng = np.random.default_rng(7)
    p = 2147483647
    A = 1 + rng.integers(0, p - 1, 128)
    B = rng.integers(0, p, 128)
    sizes = [3, k - 2, k + 5, 2 * k + 7, 1]  # boundaries fall inside docs 1-3
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    x = rng.integers(0, p, offsets[-1])
    want = np.stack([
        ((x[a:b, None] * A + B) % p).min(axis=0)
        for a, b in zip(offsets[:-1], offsets[1:])
    ])
    np.testing.assert_array_equal(D._min_hashes(x, offsets, A, B, p), want)


def test_simhash_identical_for_exact_dups_and_close_for_near_dups(spark, dup_corpus):
    sim = {r.doc_id: r.simhash for r in D.simhash_64(dup_corpus).collect()}
    base_ids = [d for d in sim if d < 1000000 and (d + 2000000) in sim]
    assert base_ids
    for d in base_ids[:20]:
        assert sim[d] == sim[d + 2000000], "exact copy must share simhash"
    near_ids = [d for d in sim if d < 1000000 and (d + 1000000) in sim]
    hammings = [
        bin((sim[d] ^ sim[d + 1000000]) & 0xFFFFFFFFFFFFFFFF).count("1")
        for d in near_ids
    ]
    assert sum(hammings) / len(hammings) < 24, "near-dups should be hamming-close"


def test_simhash_pairs_match_bruteforce_hamming(spark, dup_corpus):
    """Bit-block banding with 8 blocks must find EXACTLY the pairs within
    Hamming ≤ 7 (pigeonhole guarantee) — brute-force checked on the test
    corpus, plus every planted exact copy at hamming 0."""
    sim = {r.doc_id: r.simhash for r in D.simhash_64(dup_corpus).collect()}
    ids = sorted(sim)
    expect = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin((sim[a] ^ sim[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= 7:
                expect.add((a, b))
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_pairs(dup_corpus, max_hamming=7, n_blocks=8).collect()
    }
    assert set(got) == expect
    exact_copies = {d for d in sim if d >= 2000000}
    for d in exact_copies:
        assert got[(d - 2000000, d)] == 0


def test_cosine_topk_exact_properties(spark, embeddings):
    top = S.cosine_topk(embeddings, k=5, n_queries=10).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(10))
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rows)
        assert len(rows) == 5


def test_lsh_topk_recall_against_exact(spark, embeddings):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embeddings, k=5, n_queries=20).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_cosine_topk(embeddings, k=5, n_queries=20).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"SRP-LSH recall too low: {recall}"

    # scale contract: at n_planes=8 + 1-bit multi-probe the candidate volume
    # must stay well under brute force (old n_planes=4 setup scored ~0.75×
    # brute force; the point of more planes is corpus-scale bucket headroom)
    n_corpus = embeddings.count()
    n_cands = S.srp_topk_candidates(embeddings, n_queries=20).count()
    ratio = n_cands / (20 * (n_corpus - 1))
    print(f"\nSRP-LSH candidates/brute-force ratio: {ratio:.3f} ({n_cands} cands)")
    assert ratio < 0.6, f"candidate set too large: {ratio:.3f}"


def test_dom_extraction_beats_regex_on_nested_and_malformed_markup(spark):
    """Cases the regex fast path provably fails: nested same-tag boilerplate
    leaks trailing text, an unclosed <aside> is never matched, and a link-farm
    div survives tag-stripping. The DOM walk recovers exactly the content."""
    content = "real content survives the walk"
    html = (
        "<html><body>"
        "<header>Outer <header>deep</header> header tail</header>"
        '<div><a href="/">Home</a> <a href="/b">About</a></div>'
        "<div><aside>Unclosed ad text</div>"
        f"<article><p>{content}</p></article>"
        "<footer>fine print</footer></body></html>"
    )
    assert TA.dom_main_text(html) == content

    df = spark.createDataFrame([(1, html)], ["doc_id", "html"])
    regex_out = TA.strip_boilerplate(df, "html").collect()[0].main_text
    assert "header tail" in regex_out, "regex should leak nested-header tail"
    assert "Unclosed ad text" in regex_out, "regex can't drop unclosed aside"
    assert "Home" in regex_out, "regex keeps the link farm"

    dom_out = TA.extract_main_content_dom(df, "html").collect()[0].main_text
    assert dom_out == content


def test_dom_extraction_script_cdata_and_stray_close_tags(spark):
    html = (
        '<body><script>if (1 < 2) { document.write("</div>"); }</script>'
        "</span><p>kept text</p></body>"
    )
    assert TA.dom_main_text(html) == "kept text"


def test_token_count_and_quality(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat."), (2, "a b")], ["doc_id", "text"]
    )
    tc = {r.doc_id: r for r in TA.token_count(docs).collect()}
    assert tc[1].n_words == 6
    # greedy-BPE over BPE_MERGES: the|c,at|s,at|on|the|m,at,. = 10 subwords
    assert tc[1].n_subwords == 10
    assert tc[2].n_words == 2 and tc[2].n_subwords == 2  # no merge applies
    q = {r.doc_id: r for r in TA.quality_score(docs).collect()}
    assert q[1].punct_ratio > 0
    assert q[2].quality_keep == 0  # too short
    # 'the' appears twice among 6 whitespace tokens ('mat.' carries the dot)
    assert abs(q[1].stopword_ratio - round(2 / 6, 4)) < 1e-9


def test_bpe_subword_rank_order_and_adjacent_merges(spark):
    """Merges apply strictly in rank order and must catch adjacent repeats:
    'thth' -> th|th (2), 'ing' -> in+g -> ing (1), 'mat' -> m|at because
    (a,t) outranks (m,a)."""
    docs = spark.createDataFrame(
        [(1, "thth"), (2, "ing"), (3, "mat"), (4, "")], ["doc_id", "text"]
    )
    tc = {r.doc_id: r.n_subwords for r in TA.token_count(docs).collect()}
    assert tc == {1: 2, 2: 1, 3: 2, 4: 0}


def test_stopword_count_exact_on_adjacent_repeats(spark):
    """'the the' must count 2 — the old padded length-difference replace
    consumed the shared separator and missed every second of a run."""
    docs = spark.createDataFrame(
        [(1, "the the"), (2, "the the the of of")], ["doc_id", "text"]
    )
    q = {r.doc_id: r for r in TA.quality_score(docs).collect()}
    assert abs(q[1].stopword_ratio - 1.0) < 1e-9  # 2/2, not 1/2
    assert abs(q[2].stopword_ratio - 1.0) < 1e-9  # 5/5


def test_language_id_markers(spark):
    docs = spark.createDataFrame(
        [
            (1, "der hund und die katze und das haus"),
            (2, "the cat and the dog of the house"),
            (3, "xyz qqq zzz"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in TA.language_id(docs).collect()}
    assert out[1] == "de"
    assert out[2] == "en"
    assert out[3] == "und"


def test_curate_corpus_gates_and_fingerprint_dedup(spark):
    """Composed curation: language gate drops non-English, quality gate
    drops short docs, fingerprint dedup keeps the min-doc_id copy of
    case/whitespace-equivalent texts."""
    en = "the cat and the dog are in the house with a mat"
    docs = spark.createDataFrame(
        [
            (1, en),
            (2, "der hund und die katze und das haus mit der maus ist da"),
            (3, "the cat"),  # too short
            (4, "The  CAT and the dog are in the house with a  mat"),  # dup of 1
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id for r in TA.curate_corpus(docs).collect()}
    assert got == {1}


def test_fingerprint_normalization(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world")], ["doc_id", "text"]
    )
    fp = {r.doc_id: r.fp_md5 for r in TA.fingerprint(docs).collect()}
    assert fp[1] == fp[2]


def test_embedding_neardup_finds_planted_shifts(spark, embeddings):
    pairs = S.embedding_neardup_pairs(embeddings, threshold=0.99).collect()
    n_planted = embeddings.filter(F.col("vec_id") % 20 == 0).count()
    assert len(pairs) == n_planted
    for p in pairs:
        assert p.vec_b == p.vec_a + 1000000  # each pair is (v, shifted copy)
        assert p.sim >= 0.99


def test_ivf_topk_recall_vs_brute_force(spark, embeddings):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embeddings, k=5, n_queries=20).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_cosine_topk(embeddings, k=5, n_queries=20).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # probing all cells must reproduce brute force exactly
    full = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_cosine_topk(
            embeddings, k=5, n_queries=20, n_centroids=8, n_probe=8
        ).collect()
    }
    assert full == exact


def test_strip_boilerplate(spark):
    docs = spark.createDataFrame(
        [
            (
                1,
                '<html><head><title>T</title><script>if (1 < 2) alert("x");'
                "</script></head><body><NAV>menu</NAV><p>Real   content"
                "</p><br/><footer>foot</footer></body></html>",
            ),
            (2, "no markup at all"),
        ],
        ["doc_id", "html"],
    )
    out = {r.doc_id: r.main_text for r in TA.strip_boilerplate(docs).collect()}
    assert out[1] == "Real content"  # head/nav/footer gone, whitespace collapsed
    assert out[2] == "no markup at all"


def test_dedup_components_multihop_chain(spark):
    """Min-label propagation must converge across multi-hop chains (diameter
    > 1), merge branched clusters, and keep disjoint components apart."""
    from latex_ocr_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [
            (10, 20), (20, 30), (30, 40),   # chain: keeper 10
            (5, 50), (5, 60),               # star: keeper 5
            (100, 200),                     # separate pair: keeper 100
        ],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.keeper_id for r in dedup_components(pairs).collect()}
    assert got == {
        10: 10, 20: 10, 30: 10, 40: 10,
        5: 5, 50: 5, 60: 5,
        100: 100, 200: 100,
    }


def test_dedup_apply_emits_keepers_and_untouched_docs(spark):
    """dedup_apply = corpus LEFT ANTI non-keepers: survivors are every
    cluster's min doc_id plus all docs never seen in a pair."""
    from latex_ocr_spark.operators.dedup import dedup_apply

    corpus = spark.createDataFrame(
        [(d, f"text {d}") for d in (5, 10, 20, 30, 50, 777)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (5, 50)], "doc_a long, doc_b long"
    )
    got = {r.doc_id for r in dedup_apply(corpus, pairs).collect()}
    assert got == {5, 10, 777}  # keepers 5,10 + never-paired 777


def test_dedup_components_releases_checkpoint_storage(spark):
    """Iteration state must not accumulate: after the fixpoint, the only
    persisted RDD left is the final labels checkpoint the result reads."""
    from latex_ocr_spark.operators.dedup import dedup_components

    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (40, 50), (50, 60)],
        "doc_a long, doc_b long",
    )
    result = dedup_components(pairs)
    assert result.count() == 6
    # exactly one new persisted RDD (the returned labels checkpoint) may
    # remain; per-round stepped/labels and the edge tables must be freed
    assert len(jsc.getRDDStorageInfo()) <= before + 1


def test_bpe_subword_matches_listwise_reference(spark):
    """Property check: the marker-string replace-chain implementation must
    equal a direct list-based greedy BPE (apply merges in rank order over
    the token list, left-to-right non-overlapping) on seeded random text."""
    import random

    def bpe_count_py(text: str) -> int:
        total = 0
        for word in text.split(" "):
            toks = list(word)
            for a, b in TA.BPE_MERGES:
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            total += len(toks)
        return total

    rng = random.Random(42)
    alphabet = "theandingofmatrswx .,!"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
        for _ in range(60)
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r.doc_id: r.n_subwords for r in TA.token_count(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i] == bpe_count_py(t), (t, got[i], bpe_count_py(t))
