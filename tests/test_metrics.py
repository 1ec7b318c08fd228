"""Metric aggregations vs the reference formulas on tiny hand-made cases
(/root/reference/model/evaluation/text.py:41-92, SURVEY.md §5)."""

from __future__ import annotations

import math

import pytest

from latex_ocr_spark.eval.metrics import (
    bleu4,
    edit_distance_score,
    exact_match_rate,
    token_edit_distance_score,
)


@pytest.fixture(scope="module")
def pairs(spark):
    return spark.createDataFrame(
        [
            ("a b c", "a b c"),      # exact
            ("a b c d", "a b x d"),  # 1 substitution of 4 tokens
            ("x y", "x y z"),        # 1 insertion
        ],
        ["ref", "hyp"],
    )


def test_exact_match(spark, pairs):
    assert exact_match_rate(pairs).collect()[0].exact_match == round(1 / 3, 4)


def test_char_edit_distance(spark, pairs):
    # char-level: lev("a b c","a b c")=0; lev("a b c d","a b x d")=1;
    # lev("x y","x y z")=2 (adds " z"); denominators 5,7,5
    expect = round(1 - (0 + 1 + 2) / (5 + 7 + 5), 4)
    assert edit_distance_score(pairs).collect()[0].edit_distance_score == expect


def test_token_edit_distance_matches_reference_formula(spark, pairs):
    # token-level: 0/3, 1/4, 1/3 → 1 - (0+1+1)/(3+4+3)
    expect = round(1 - 2 / 10, 4)
    got = token_edit_distance_score(pairs).collect()[0].token_edit_distance_score
    assert got == expect


def test_bleu4_perfect_and_degraded(spark):
    perfect = spark.createDataFrame(
        [("a b c d e", "a b c d e")] * 3, ["ref", "hyp"]
    )
    assert bleu4(perfect).collect()[0].bleu4 == 1.0
    # corpus-level clipped precision hand-check
    p = spark.createDataFrame(
        [("a b c d e", "a b c d x")], ["ref", "hyp"]
    )
    # unigrams 4/5, bigrams 3/4, trigrams 2/3, 4grams 1/2; bp=1 (equal len)
    expect = round(math.exp(sum(math.log(x) for x in (4 / 5, 3 / 4, 2 / 3, 1 / 2)) / 4), 4)
    assert bleu4(p).collect()[0].bleu4 == expect


def test_bleu4_relational_matches_pandas_bleu4(spark):
    from latex_ocr_spark.eval.metrics import bleu4, bleu4_relational

    rows = [
        ("a b c d e f g", "a b c d e f g"),          # perfect
        ("a b c d e f g h i", "b c d e f g h i"),    # prefix dropped
        ("x y z w q r s t", "x y z z w q r s"),      # local swap/dup
    ]
    pairs = spark.createDataFrame(rows, ["ref", "hyp"])
    got = bleu4_relational(pairs).collect()[0].bleu4
    want = bleu4(pairs).collect()[0].bleu4
    assert abs(got - want) < 1e-9, (got, want)


def test_perplexity_matches_single_process_oracle(spark, corpus):
    """A2: distributed teacher-forced masked-CE perplexity equals the
    single-process replica (exp(Σce/Σn) over the same kernels) at sf0.001,
    and per-step masking holds (ce of a length-L row ignores padded steps:
    n_words == token count + 1 for the appended END)."""
    import duckdb

    from latex_ocr_spark.config import ModelConfig
    from latex_ocr_spark.eval.perplexity import perplexity_metric
    from latex_ocr_spark.fixtures.oracle_store import ensure_oracle_perplexity
    from tests.conftest import SF_DIR

    path = ensure_oracle_perplexity(SF_DIR, profile="small")
    got = perplexity_metric(spark, corpus, cfg=ModelConfig.small()).collect()[0]
    want = duckdb.sql(
        f"SELECT round(exp(sum(ce_sum) / sum(n_words)), 4) AS p, "
        f"sum(n_words) AS n FROM read_parquet('{path}')"
    ).fetchone()
    assert got.n_words == want[1]
    assert abs(got.perplexity - float(want[0])) < 1e-9
    assert got.perplexity > 1.0  # CE of a softmax is positive


def test_perplexity_runs_one_python_stage(spark, corpus):
    """Perplexity runs extraction's shape: the executed plan holds exactly
    one Python UDF node, a MapInPandas (no grouped FlatMapGroupsInPandas
    stage), over the media scan with no join and exactly one Exchange
    below it."""
    from latex_ocr_spark.config import ModelConfig
    from latex_ocr_spark.eval.perplexity import perplexity_metric
    from tests.plan_walk import below, executed_nodes, name, python_nodes

    nodes = executed_nodes(perplexity_metric(spark, corpus, cfg=ModelConfig.small()))
    assert not [n for n in nodes if name(n) == "FlatMapGroupsInPandasExec"]
    udfs = python_nodes(nodes)
    assert [name(n) for n in udfs] == ["MapInPandasExec"]
    below_udf = [name(n) for n in below(udfs[0])]
    assert not [n for n in below_udf if "Join" in n], below_udf
    assert below_udf.count("ShuffleExchangeExec") == 1, below_udf
