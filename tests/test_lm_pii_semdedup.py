"""Oracle tests for the round-7 curation additions: bigram-LM scoring
(lm.py), PII redaction, and SemDeDup-style semantic dedup.

Each Spark result is checked against an independent pure-Python reference
computed in-process (the same train/score math, the same re patterns, the
same argmax/pair semantics) — not against a re-expression in Spark."""

from __future__ import annotations

import math
import random
import re

import pytest


# ---------------------------------------------------------------- bigram LM

DOCS = [
    (1, "a b a b c"),
    (2, "a b"),
    (3, "x"),
    (4, ""),
    (5, "c c c a"),
]


def _py_lm(docs, alpha):
    """Pure-python add-alpha bigram CE, the operator's contract."""
    bigrams = {}
    ctx = {}
    vocab = set()
    per_doc = {}
    for doc_id, text in docs:
        toks = [w for w in text.split(" ") if w]
        bgs = list(zip(toks, toks[1:]))
        per_doc[doc_id] = bgs
        for w1, w2 in bgs:
            bigrams[(w1, w2)] = bigrams.get((w1, w2), 0) + 1
            ctx[w1] = ctx.get(w1, 0) + 1
            vocab.add(w2)
    v = len(vocab)
    out = {}
    for doc_id, bgs in per_doc.items():
        if not bgs:
            continue
        nll = [
            -math.log(
                (bigrams.get(bg, 0) + alpha) / (ctx.get(bg[0], 0) + alpha * v)
            )
            for bg in bgs
        ]
        ce = sum(nll) / len(nll)
        out[doc_id] = (len(bgs), ce, math.exp(ce))
    return out


def test_lm_score_matches_python_reference(spark):
    from latex_ocr_spark.operators.lm import lm_score

    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {r.doc_id: r for r in lm_score(df, alpha=0.5).collect()}
    want = _py_lm(DOCS, alpha=0.5)
    assert set(got) == set(want)  # <2-token docs produce no row
    for doc_id, (n, ce, ppl) in want.items():
        assert got[doc_id].n_bigrams == n
        assert got[doc_id].cross_entropy == pytest.approx(ce, abs=1e-12)
        assert got[doc_id].perplexity == pytest.approx(ppl, rel=1e-12)


def test_lm_scores_unseen_corpus_against_trained_model(spark):
    """Score a corpus containing bigrams/contexts the model never saw —
    the coalesce(0) smoothing path (production: trusted-model scoring)."""
    from latex_ocr_spark.operators.lm import lm_cross_entropy, train_bigram_lm

    train = spark.createDataFrame(DOCS, ["doc_id", "text"])
    model, ctx, vocab = train_bigram_lm(train)
    test = spark.createDataFrame([(9, "z z a b")], ["doc_id", "text"])
    row = lm_cross_entropy(test, model, ctx, vocab, alpha=0.5).collect()[0]
    # v=3 (a,b,c — "x" never occurs in a bigram); bigrams:
    # (z,z)->(0+.5)/(0+1.5), (z,a)->(0+.5)/(0+1.5), (a,b)->(3+.5)/(3+1.5)
    want = -(
        math.log(0.5 / 1.5) + math.log(0.5 / 1.5) + math.log(3.5 / 4.5)
    ) / 3.0
    assert row.n_bigrams == 3
    assert row.cross_entropy == pytest.approx(want, abs=1e-12)


def test_lm_min_count_prunes_model_but_not_normalization(spark):
    from latex_ocr_spark.operators.lm import train_bigram_lm

    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    model, ctx, vocab = train_bigram_lm(df, min_count=2)
    kept = {(r.w1, r.w2): r.c_bigram for r in model.collect()}
    assert kept == {("a", "b"): 3, ("c", "c"): 2}  # singletons pruned
    # ctx/|V| stay pre-pruning: ctx(b)=2 from (b,a),(b,c) both singletons
    assert {r.w1: r.c_ctx for r in ctx.collect()}["b"] == 2
    assert vocab.collect()[0].v == 3


def test_lm_fluency_gate_drops_high_ce_tail(spark):
    from latex_ocr_spark.frames import scope
    from latex_ocr_spark.operators.lm import lm_fluency_gate

    rows = [(i, "the cat sat on the mat again") for i in range(4)]
    rows.append((10, "zx qy wk jv bn pm"))  # unique bigrams -> high CE
    rows.append((11, "solo"))  # <2 tokens -> no LM evidence, dropped
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with scope():
        kept, scores = lm_fluency_gate(df, top_frac=0.75)
        ids = {r.doc_id for r in kept.collect()}
        ce = {r.doc_id: r.cross_entropy for r in scores.collect()}
    assert ids == {0, 1, 2, 3}
    assert ce[10] > ce[0]
    assert 11 not in ce


def test_lm_fluency_gate_percentile_is_bounded_cardinality(spark):
    """The gate's threshold is percentile(round(ce, 4), f) and the keep test
    compares round(ce, 4) — bounded-cardinality aggregation state at any
    corpus size (r7 verdict scale-cliff #1). Tie-dense corpus: many docs
    share one exact score; the boundary doc whose ROUNDED score equals the
    threshold is kept (<=), docs strictly above are dropped."""
    from latex_ocr_spark.frames import scope
    from latex_ocr_spark.operators.lm import lm_fluency_gate, lm_score

    # 8 clones (identical CE) + 2 high-CE outliers
    rows = [(i, "the cat sat on the mat") for i in range(8)]
    rows += [(100, "qz wv xj kp bn md"), (101, "zq vw jx pk nb dm")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with scope():
        kept, scores = lm_fluency_gate(df, top_frac=0.8)
        ids = {r.doc_id for r in kept.collect()}
        ce = {r.doc_id: round(r.cross_entropy, 4) for r in scores.collect()}
    # threshold = percentile of rounded scores at 0.8 over
    # [c]*8 + [h1, h2]: index 0.8*(10-1) = 7.2 → between c (rank 7) and the
    # 9th value; with 8 ties at c the interpolated value sits on/above c, so
    # every clone passes and both outliers (far above) are dropped
    assert ids == set(range(8))
    assert all(ce[i] == ce[0] for i in range(8))
    assert min(ce[100], ce[101]) > ce[0]


# ------------------------------------------------------------- PII redaction

PII_TEXTS = [
    (1, "mail jo.doe+x@sub.example.org or x@y.io now"),
    (2, "host 192.168.0.1 and 10.0.0.255, not 1234.5.6.7"),
    (3, "call +4915123456789 or +1234567 but not +12 34"),
    (4, "clean text 1.2 v3 a@b only"),
]


def _py_redact(text):
    from latex_ocr_spark.operators.text_analysis import PII_RULES

    counts = {}
    red = text
    for name, pat, token in PII_RULES:
        counts[name] = len(re.findall(pat, text))
        red = re.sub(pat, token, red)
    return red, counts


def test_pii_redact_matches_python_re(spark):
    from latex_ocr_spark.operators.text_analysis import pii_redact

    df = spark.createDataFrame(PII_TEXTS, ["doc_id", "text"])
    got = {r.doc_id: r for r in pii_redact(df).collect()}
    for doc_id, text in PII_TEXTS:
        red, counts = _py_redact(text)
        assert got[doc_id].text_redacted == red, doc_id
        assert got[doc_id].n_email == counts["email"]
        assert got[doc_id].n_ip == counts["ip"]
        assert got[doc_id].n_phone == counts["phone"]


def test_pii_redact_specific_semantics(spark):
    from latex_ocr_spark.operators.text_analysis import pii_redact

    df = spark.createDataFrame(PII_TEXTS, ["doc_id", "text"])
    got = {r.doc_id: r for r in pii_redact(df).collect()}
    assert got[1].text_redacted == "mail <EMAIL> or <EMAIL> now"
    # 1234.5.6.7 has no word boundary before a 4th digit — \b\d{1,3} can
    # still anchor inside; the rule masks the dotted-quad-looking tail.
    assert got[2].n_ip >= 2 and "<IP>" in got[2].text_redacted
    assert got[3].text_redacted.count("<PHONE>") == 2
    assert got[4].text_redacted == PII_TEXTS[3][1]  # a@b: no TLD, untouched

    # idempotence: redacting redacted text changes nothing
    red = spark.createDataFrame(
        [(r.doc_id, r.text_redacted) for r in got.values()], ["doc_id", "text"]
    )
    again = {r.doc_id: r.text_redacted for r in pii_redact(red).collect()}
    assert again == {r.doc_id: r.text_redacted for r in got.values()}


# ------------------------------------------------------------ semantic dedup


def _synthetic_embeddings():
    rng = random.Random(7)
    centers = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0],
               [0.0, 0.0, 10.0, 0.0]]
    rows = []
    for i in range(30):
        c = centers[i % 3]
        # spread wide enough that distinct vectors stay below cosine 0.99
        rows.append((i, [x + rng.uniform(-3.0, 3.0) for x in c], 0))
    return rows


def _py_semantic_dedup(rows, n_clusters, threshold):
    """Pure-python mirror incl. emb_with_dups augmentation + 4dp rounding."""
    vecs = {i: list(v) for i, v, _ in rows}
    for i, v, _ in rows:
        if i % 20 == 0:
            vecs[i + 1000000] = [x + 0.01 for x in v]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    cents = sorted(vecs)[:n_clusters]
    cluster = {
        i: max(cents, key=lambda c: (cos(vecs[i], vecs[c]), -c)) for i in vecs
    }
    removed = set()
    for b in vecs:
        for a in vecs:
            if a < b and cluster[a] == cluster[b] and round(
                cos(vecs[a], vecs[b]), 4
            ) >= threshold:
                removed.add(b)
                break
    return {i: (cluster[i], 0 if i in removed else 1) for i in vecs}


def test_semantic_dedup_matches_python_reference(spark):
    from latex_ocr_spark.frames import scope
    from latex_ocr_spark.operators.similarity import semantic_dedup

    rows = _synthetic_embeddings()
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    with scope():
        out = semantic_dedup(emb, n_clusters=3, threshold=0.99)
        got = {r.vec_id: (r.cluster, r.kept) for r in out.collect()}
    want = _py_semantic_dedup(rows, n_clusters=3, threshold=0.99)
    assert got == want
    # the augmented copies (vec_id 0 and 20) are exact near-dups of their
    # originals -> the copy is removed, the lower-id original kept
    assert got[1000000][1] == 0 and got[0][1] == 1
    assert got[1000020][1] == 0 and got[20][1] == 1
