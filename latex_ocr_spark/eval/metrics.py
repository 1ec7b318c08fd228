"""Corpus scoring aggregations (SURVEY.md §2.4 A3/A4/A5), re-expressed as
DataFrame aggregations over a (ref, hyp) pair table.

Reference formulas:
  exact match   — /root/reference/model/evaluation/text.py:41-57
                  (fraction of rows with token-sequence equality)
  edit distance — model/evaluation/text.py:76-92
                  1 - sum(levenshtein) / sum(max(len_ref, len_hyp))
  BLEU-4        — model/evaluation/text.py:60-73 (nltk corpus_bleu, uniform
                  1/4 weights): corpus-level clipped n-gram precision product
                  with brevity penalty — per-row stats in a pandas UDF, global
                  sums in a single agg.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_match_rate(pairs: DataFrame, ref: str = "ref", hyp: str = "hyp") -> DataFrame:
    """avg(ref == hyp) — whole-token-sequence equality on the joined strings."""
    return pairs.agg(
        F.round(
            F.avg((F.col(ref) == F.col(hyp)).cast("double")), 4
        ).alias("exact_match")
    )


def edit_distance_score(pairs: DataFrame, ref: str = "ref", hyp: str = "hyp") -> DataFrame:
    """1 - Σlev/Σmaxlen at CHARACTER level via the built-in levenshtein
    (JVM-side). The reference computes token-level distance; character level
    is the Spark-native equivalent and is what `F.levenshtein` gives us —
    both are reported by `token_edit_distance_score` below."""
    agg = pairs.agg(
        F.sum(F.levenshtein(ref, hyp)).alias("lev"),
        F.sum(F.greatest(F.length(ref), F.length(hyp))).alias("den"),
    )
    return agg.select(
        F.round(1.0 - F.col("lev") / F.col("den"), 4).alias("edit_distance_score")
    )


def token_edit_distance_score(
    pairs: DataFrame, ref: str = "ref", hyp: str = "hyp"
) -> DataFrame:
    """Token-level variant (the reference's exact semantics) — map tokens of
    each row to single unicode codepoints, then levenshtein on those proxy
    strings; pure built-in expressions via a per-row vocabulary. The token
    arrays and the vocabulary are columns computed once per row below the
    encoding lambdas (a split inside a lambda is re-run per token)."""
    rw, hw, toks = F.col("_rw"), F.col("_hw"), F.col("_toks")

    def enc(words):
        return F.concat_ws(
            "",
            F.transform(words, lambda t: F.chr(F.array_position(toks, t) + 192)),
        )

    agg = (
        pairs.select(
            F.split(F.col(ref), " ").alias("_rw"), F.split(F.col(hyp), " ").alias("_hw")
        )
        .select(rw, hw, F.array_distinct(F.concat(rw, hw)).alias("_toks"))
        .select(enc(rw).alias("_r"), enc(hw).alias("_h"))
        .agg(
            F.sum(F.levenshtein("_r", "_h")).alias("lev"),
            F.sum(F.greatest(F.length("_r"), F.length("_h"))).alias("den"),
        )
    )
    return agg.select(
        F.round(1.0 - F.col("lev") / F.col("den"), 4).alias("token_edit_distance_score")
    )


def _ngram_counts(tokens: list[str], n: int) -> Counter:
    return Counter(tuple(tokens[i : i + n]) for i in range(len(tokens) - n + 1))


def _grams_expr(words_col: str, n: int):
    """Array of space-joined n-grams as a built-in expression. The size guard
    matters: sequence(1, 0) yields a DESCENDING [1, 0], not an empty array."""
    return F.expr(
        f"CASE WHEN size({words_col}) >= {n} THEN "
        f"transform(sequence(1, size({words_col}) - {n - 1}), "
        f"i -> array_join(slice({words_col}, i, {n}), ' ')) "
        f"ELSE array() END"
    )


def bleu4_relational(pairs: DataFrame, ref: str = "ref", hyp: str = "hyp") -> DataFrame:
    """Corpus BLEU-4 as a single relational plan (no UDF, no driver math):
    n-grams for orders 1–4 exploded in one pass, clipped counts via a
    left join of hyp-gram counts onto ref-gram counts, final scalar (geometric
    mean of precisions × brevity penalty) as one expression over the joined
    1-row aggregates. Same formula as ``bleu4`` (nltk corpus_bleu, uniform
    weights, no smoothing — /root/reference/model/evaluation/text.py:60-73);
    SQL-expressible so the DuckDB oracle can replay it exactly."""
    # pair key derived from content, NOT monotonically_increasing_id: the id
    # is re-evaluated independently in the hc/rc plan branches and need not
    # assign the same value to the same row twice. Hash collisions merge two
    # identical (ref,hyp) pairs, which leaves every corpus-level sum unchanged
    # (min(2a,2b) = 2·min(a,b) when the pairs are equal).
    base = pairs.select(
        F.xxhash64(F.col(ref), F.col(hyp)).alias("pair_id"),
        F.split(F.col(ref), " ").alias("rw"),
        F.split(F.col(hyp), " ").alias("hw"),
    )

    def gram_counts(words_col: str):
        # single-arg lambda factory: a two-parameter lambda (even with a
        # default) makes F.transform pass the ARRAY INDEX as the second arg
        def tag(n):
            return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

        structs = F.flatten(
            F.array(
                *[F.transform(_grams_expr(words_col, n), tag(n)) for n in range(1, 5)]
            )
        )
        return (
            base.select("pair_id", F.explode(structs).alias("g"))
            .groupBy("pair_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
            .agg(F.count("*").alias("cnt"))
        )

    hc = gram_counts("hw")
    rc = gram_counts("rw").withColumnRenamed("cnt", "rcnt")
    per_n = (
        hc.join(rc, ["pair_id", "n", "gram"], "left")
        .groupBy("n")
        .agg(
            F.sum(F.least(F.col("cnt"), F.coalesce(F.col("rcnt"), F.lit(0)))).alias("clip"),
            F.sum("cnt").alias("tot"),
        )
    )
    stats = per_n.agg(
        *[
            F.sum(F.when(F.col("n") == n, F.col(c))).alias(f"{c}{n}")
            for n in range(1, 5)
            for c in ("clip", "tot")
        ]
    )
    lens = base.agg(
        F.sum(F.size("hw")).alias("hyp_len"), F.sum(F.size("rw")).alias("ref_len")
    )
    joined = stats.crossJoin(lens)
    log_sum = sum(
        F.log(F.col(f"clip{n}").cast("double") / F.col(f"tot{n}")) for n in range(1, 5)
    )
    bp = F.when(F.col("hyp_len") > F.col("ref_len"), F.lit(1.0)).otherwise(
        F.exp(1.0 - F.col("ref_len").cast("double") / F.col("hyp_len"))
    )
    any_zero = sum(
        (
            (F.col(f"clip{n}") == 0) | F.col(f"clip{n}").isNull()
            | (F.col(f"tot{n}") == 0) | F.col(f"tot{n}").isNull()
        ).cast("int")
        for n in range(1, 5)
    )
    return joined.select(
        F.round(
            F.when(any_zero > 0, F.lit(0.0)).otherwise(bp * F.exp(log_sum / 4.0)), 4
        )
        .cast("double")
        .alias("bleu4")
    )


def bleu4(pairs: DataFrame, ref: str = "ref", hyp: str = "hyp") -> DataFrame:
    """Corpus BLEU-4 (uniform weights, no smoothing — nltk default):
    per-row clipped counts in an Arrow-batched pandas UDF, one global agg."""
    schema = (
        "c1 long, t1 long, c2 long, t2 long, c3 long, t3 long, c4 long, t4 long, "
        "hyp_len long, ref_len long"
    )

    def stats(batches):
        for pdf in batches:
            rows = []
            for r, h in zip(pdf[ref], pdf[hyp]):
                rt = r.split(" ") if r else []
                ht = h.split(" ") if h else []
                row = {}
                for n in range(1, 5):
                    hc = _ngram_counts(ht, n)
                    rc = _ngram_counts(rt, n)
                    row[f"c{n}"] = sum(min(c, rc[g]) for g, c in hc.items())
                    row[f"t{n}"] = max(sum(hc.values()), 0)
                row["hyp_len"] = len(ht)
                row["ref_len"] = len(rt)
                rows.append(row)
            yield pd.DataFrame(rows)

    agg = (
        pairs.select(ref, hyp)
        .mapInPandas(stats, schema=schema)
        .agg(
            *[F.sum(c).alias(c) for c in
              ["c1", "t1", "c2", "t2", "c3", "t3", "c4", "t4", "hyp_len", "ref_len"]]
        )
        .collect()[0]
    )
    precisions = []
    for n in range(1, 5):
        c, t = agg[f"c{n}"], agg[f"t{n}"]
        if not t or not c:
            return pairs.sparkSession.createDataFrame([(0.0,)], "bleu4 double")
        precisions.append(c / t)
    bp = 1.0 if agg["hyp_len"] > agg["ref_len"] else math.exp(
        1 - agg["ref_len"] / max(agg["hyp_len"], 1)
    )
    score = bp * math.exp(sum(math.log(p) for p in precisions) / 4.0)
    return pairs.sparkSession.createDataFrame([(round(score, 4),)], "bleu4 double")
