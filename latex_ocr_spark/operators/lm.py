"""Distributed bigram language-model training + scoring (CCNet-style
fluency signal for corpus curation).

A production training-data pipeline scores every document's fluency under a
language model trained on trusted text and drops or buckets the tail
(CCNet, Wenzek et al., LREC 2020 — the KenLM-perplexity filter). The
reference repo's only language model is its seq2seq decoder
(reference model/seq2seq_model.py); corpus-side LM scoring belongs to the
"operations a large-scale training-data pipeline needs" charter, so this is
a Spark-first design, not a port:

- bigrams come from ``zip_with`` over two slices of the SAME token array —
  zero joins, zero posexplode self-joins; the only cost is the token scan;
- counts aggregate with map-side partial combine (hash agg on the bigram
  key); context totals reuse the bigram counts, never re-scan the corpus;
- scoring is two plain equi-joins with NO broadcast hint (model size is
  data-dependent; AQE broadcasts a pruned model from runtime stats — the
  house no-unconditional-hint rule from round 4). |V| is a 1-row broadcast.

100 TB: the token scan is one linear pass; the bigram-count shuffle and the
scoring join both key on (w1, w2); ``min_count`` prunes the model tail
(KenLM-style) so the scoring join's build side stays bounded at any corpus
size. Train and score halves are independent — production trains on a
trusted subsample and scores the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import persist
from . import text_analysis as TA


def doc_bigrams(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2) — one row per in-document bigram occurrence.

    The tokens are the text's words (``text_analysis.words``, as in
    token_count). Docs with < 2 words contribute no rows: the `when` guard
    leaves NULL and explode drops it — no separate filter pass, and no
    Spark `sequence(a, b)` descending-sequence trap.
    """
    toks = TA.words(F.col(text_col))
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    )
    return corpus.select(F.col("doc_id"), F.explode(pairs).alias("bg")).select(
        "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )


def train_bigram_lm(
    corpus: DataFrame, text_col: str = "text", min_count: int = 1
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(model, ctx, vocab): bigram counts, left-context totals, |V| (1 row).

    model: (w1, w2, c_bigram) with c_bigram >= min_count — the pruning knob
    that bounds the scoring join's model side. ctx totals and |V| are
    computed BEFORE pruning (from the unpruned counts, not a corpus
    re-scan) so probabilities stay normalized against the full event space.
    """
    bg = doc_bigrams(corpus, text_col)
    full = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bigram"))
    ctx = full.groupBy("w1").agg(F.sum("c_bigram").alias("c_ctx"))
    vocab = full.agg(F.countDistinct("w2").alias("v"))
    model = full.filter(F.col("c_bigram") >= min_count) if min_count > 1 else full
    return model, ctx, vocab


def lm_cross_entropy(
    corpus: DataFrame,
    model: DataFrame,
    ctx: DataFrame,
    vocab: DataFrame,
    alpha: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Per-document add-alpha bigram cross-entropy + perplexity.

    P(w2|w1) = (c_bigram + alpha) / (c_ctx + alpha·|V|);
    cross_entropy = mean(-ln P) over the doc's bigrams;
    perplexity = exp(cross_entropy).

    Unseen bigrams/contexts coalesce to 0, so the operator scores ANY
    corpus against ANY trained model (the production shape: trusted-subset
    model, full-corpus scoring). Docs with < 2 tokens have no bigrams and
    no output row. Model/ctx joins carry no broadcast hint (data-dependent
    sides — AQE decides); |V| is a constant-shape 1-row broadcast.
    """
    bg = doc_bigrams(corpus, text_col)
    scored = (
        bg.join(model, ["w1", "w2"], "left")
        .join(ctx, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll",
            -F.log(
                (F.coalesce(F.col("c_bigram"), F.lit(0)) + F.lit(alpha))
                / (F.coalesce(F.col("c_ctx"), F.lit(0)) + F.lit(alpha) * F.col("v"))
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.avg("nll").alias("cross_entropy"),
    )
    return agg.withColumn("perplexity", F.exp(F.col("cross_entropy")))


def lm_score(
    corpus: DataFrame,
    alpha: float = 0.5,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Train on the corpus and score the same corpus (the self-scoring gate
    shape — every bigram is in-model, exercising the smoothed main path);
    production callers split train (trusted subset) from score (full)."""
    model, ctx, vocab = train_bigram_lm(corpus, text_col, min_count)
    return lm_cross_entropy(corpus, model, ctx, vocab, alpha, text_col)


def lm_fluency_gate(
    corpus: DataFrame,
    top_frac: float = 0.9,
    alpha: float = 0.5,
    min_count: int = 1,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Keep the ``top_frac`` most-fluent documents (lowest bigram cross-
    entropy) — the CCNet-style LM filter as a pipeline gate.

    The threshold is DERIVED from the corpus (exact percentile of the score
    distribution, computed distributed and broadcast back as one row — the
    same data-driven-threshold shape as curate_by_percentile), never a
    constant. The percentile is taken over the score ROUNDED to 4dp and the
    gate compares the same rounded score: cross_entropy is continuous (one
    distinct value per document), and Spark's exact ``percentile`` buffers
    O(distinct values) per aggregation — unbounded at corpus scale. The
    repo's own cardinality rule (quality_percentiles' scale note) says
    exact percentile is safe only for bounded-cardinality signals;
    pre-rounding bounds the buffer at ~10^5 entries for any corpus size
    while moving the threshold by < 1e-4 nats. Docs with < 2 tokens carry
    no LM evidence and are dropped (they're junk for training regardless).
    Returns (kept_corpus, scores): scores is persisted because it feeds
    both the percentile aggregation and the keep filter; the caller's
    ``frames.scope()`` releases it."""
    scores = persist(
        lm_score(corpus, alpha=alpha, min_count=min_count, text_col=text_col)
        .select("doc_id", "cross_entropy")
    )
    thresh = scores.agg(
        F.expr(
            f"percentile(round(cross_entropy, 4), {float(top_frac)})"
        ).alias("ce_max")
    )
    keep = (
        scores.crossJoin(F.broadcast(thresh))
        .filter(F.round(F.col("cross_entropy"), 4) <= F.col("ce_max"))
        .select("doc_id")
    )
    return corpus.join(keep, "doc_id"), scores
