"""Plan-shape invariants of the engine's operators at sf0.001: pruned
scans, equi-joins instead of cartesians, one scan per fact table,
broadcast dimension sides, and shuffles keyed where the operator's scale
argument needs them. Each test reads the physical plan as planned, before
adaptive execution; the few properties that adaptive execution decides at
run time are read from the executed plan instead.

Pinned elsewhere: extraction's single MapInPandas
(test_pipeline_e2e.py), the band-join skew split (test_skew.py) and
chunk_dedup's window-free keeper (test_packing.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.config import ModelConfig
from latex_ocr_spark.eval.metrics import token_edit_distance_score
from latex_ocr_spark.frames import scope
from latex_ocr_spark.operators import dedup as D
from latex_ocr_spark.operators import relational as R
from latex_ocr_spark.operators import similarity as S
from latex_ocr_spark.operators import text_analysis as TA
from latex_ocr_spark.operators.lm import lm_score
from latex_ocr_spark.operators.packing import chunk_dedup, pack_sequences
from latex_ocr_spark.pipeline import composed_training_pipeline
from latex_ocr_spark.sources import read_docs
from tests.conftest import SF_DIR
from tests.plan_walk import (
    below,
    column_names,
    executed_nodes,
    hash_keys,
    name,
    planned_nodes,
    seq,
)


def _table(spark, t):
    return spark.read.parquet(f"{SF_DIR}/{t}.parquet")


def _tpch(query, *tables):
    return lambda spark, corpus: query(*(_table(spark, t) for t in tables))


def _docs(spark):
    return _table(spark, "documents")


# name → (spark, corpus) → DataFrame
QUERIES = {
    "minhash_lsh_pairs": lambda spark, corpus: D.minhash_lsh_pairs(
        D.corpus_with_dups(spark, SF_DIR), threshold=0.5
    ),
    "embedding_neardup_pairs": lambda spark, corpus: S.embedding_neardup_pairs(
        _table(spark, "embeddings")
    ),
    "dedup_apply": lambda spark, corpus: D.dedup_apply(
        D.corpus_with_dups(spark, SF_DIR),
        D.minhash_lsh_pairs(D.corpus_with_dups(spark, SF_DIR), threshold=0.5),
    ),
    "composed_training_pipeline": lambda spark, corpus: composed_training_pipeline(
        spark, corpus, cfg=ModelConfig.small()
    ),
    "incremental_neardup_pairs": lambda spark, corpus: D.incremental_neardup_pairs(
        _docs(spark).filter("doc_id % 2 = 1"),
        _docs(spark).filter("doc_id % 2 = 0"),
        threshold=0.5,
    ),
    "semantic_dedup": lambda spark, corpus: S.semantic_dedup(
        _table(spark, "embeddings"), n_clusters=8
    ),
    "lm_score": lambda spark, corpus: lm_score(_docs(spark), alpha=0.5),
    "curate_corpus": lambda spark, corpus: TA.curate_corpus(
        D.corpus_with_dups(spark, SF_DIR)
    ),
    "pack_sequences": lambda spark, corpus: pack_sequences(
        _docs(spark), seq_len=256, n_shards=16
    ),
    "domain_cap": lambda spark, corpus: TA.domain_cap(_docs(spark), max_per_domain=10),
    "upsample_mix": lambda spark, corpus: TA.upsample_mix(
        _docs(spark), {"en": 2.5, "zh": 1.25, "fr": 0.5}
    ),
    "tpch_q2": _tpch(R.tpch_q2, "region", "nation", "supplier", "lineitem", "part"),
    "tpch_q3": _tpch(R.tpch_q3, "customer", "orders", "lineitem"),
    "tpch_q7": _tpch(R.tpch_q7, "nation", "customer", "supplier", "orders", "lineitem"),
    "tpch_q14": _tpch(R.tpch_q14, "part", "lineitem"),
    "tpch_q18": _tpch(R.tpch_q18, "customer", "orders", "lineitem"),
    "tpch_q20": _tpch(R.tpch_q20, "part", "supplier", "nation", "lineitem"),
    "tpch_q21": _tpch(R.tpch_q21, "supplier", "lineitem", "orders"),
}


@pytest.fixture(scope="module")
def plan(spark, corpus):
    """``plan(name)`` → the planned nodes of ``QUERIES[name]``, built once
    per module inside a ``scope()`` that releases what the query persisted."""
    built = {}

    def nodes(key):
        if key not in built:
            with scope():
                built[key] = planned_nodes(QUERIES[key](spark, corpus))
        return built[key]

    return nodes


def _named(nodes, cls):
    return [n for n in nodes if name(n) == cls]


def _joins(nodes):
    return [n for n in nodes if name(n).endswith("JoinExec")]


def _join_type(join) -> str:
    return str(join.joinType().toString())


def _refs(expr) -> tuple[str, ...]:
    """The columns an expression reads."""
    return column_names(expr.references().toSeq())


def _exchange_keys(nodes):
    return [hash_keys(n) for n in _named(nodes, "ShuffleExchangeExec")]


def _scanned(scan) -> set[str]:
    """The table names a file scan reads (``lineitem.parquet`` → ``lineitem``)."""
    roots = seq(scan.relation().location().rootPaths())
    return {str(p.getName()).removesuffix(".parquet") for p in roots}


def _scans(nodes, table):
    return [n for n in _named(nodes, "FileSourceScanExec") if table in _scanned(n)]


def test_docs_scan_prunes_partitions_and_columns(spark, corpus):
    """``read_docs(parts=...)`` prunes directories at the scan and reads
    only the projected column."""
    nodes = planned_nodes(read_docs(spark, corpus, parts=[3, 4]).select("doc_id"))
    (scan,) = _named(nodes, "FileSourceScanExec")
    assert any("part" in _refs(f) for f in seq(scan.partitionFilters()))
    assert list(scan.requiredSchema().fieldNames()) == ["doc_id"]


@pytest.mark.parametrize(
    "key",
    [
        "minhash_lsh_pairs",
        "embedding_neardup_pairs",
        "dedup_apply",
        "tpch_q2",
        "composed_training_pipeline",
        "incremental_neardup_pairs",
    ],
)
def test_no_cartesian_or_nested_loop_join(plan, key):
    """Candidate generation, verification and materialization are
    equi-joins: no cartesian product and no nested-loop join anywhere,
    cached sub-plans included."""
    names = [name(n) for n in plan(key)]
    assert "CartesianProductExec" not in names
    assert "BroadcastNestedLoopJoinExec" not in names


def test_incremental_candidates_join_on_band_bucket(plan):
    """New docs meet the index through an equi-join on (band, bucket)."""
    keys = [column_names(j.leftKeys()) for j in _joins(plan("incremental_neardup_pairs"))]
    assert ("band", "bucket") in keys, keys


def test_lm_score_only_cross_join_is_the_vocabulary_size(plan):
    """Bigram counts join by key; the one nested loop is the cross join
    with the 1-row |V|."""
    nodes = plan("lm_score")
    assert not _named(nodes, "CartesianProductExec")
    nl = _named(nodes, "BroadcastNestedLoopJoinExec")
    assert [_join_type(j) for j in nl] == ["Cross"]


def test_semantic_dedup_pairs_shuffle_on_cluster(plan):
    """Near-dup pairs join within a cluster: a shuffle on the cluster id,
    never a cartesian (the constant-K centroid assignment is a broadcast
    nested loop)."""
    nodes = plan("semantic_dedup")
    assert not _named(nodes, "CartesianProductExec")
    assert ("cluster",) in _exchange_keys(nodes)


def _decode_homes(root) -> list:
    """Where extraction's decode UDF runs, one entry per run: "query" for
    the query's own nodes, else the id of the cached frame whose plan
    holds it. Each cached frame's plan is counted once, however many
    branches read it."""
    homes, seen, todo = [], set(), [("query", root)]
    while todo:
        home, top = todo.pop()
        if home in seen:
            continue
        seen.add(home)
        own = [top] + below(top, stop=lambda n: name(n) == "InMemoryTableScanExec")
        homes += [
            home
            for n in _named(own, "MapInPandasExec")
            if n.func().name() == "infer_rows"
        ]
        todo += [
            (s.relation().cacheBuilder().hashCode(), s.relation().cachedPlan())
            for s in _named(own, "InMemoryTableScanExec")
        ]
    return homes


def test_training_pipeline_decodes_once_into_the_cache(plan):
    """The composed pipeline's branches read the persisted reassembled
    corpus: the decode UDF runs once, inside one cached frame, not once
    per dup-union arm or per dedup side."""
    homes = _decode_homes(plan("composed_training_pipeline")[0])
    assert len(homes) == 1 and homes != ["query"], homes


@pytest.mark.parametrize("key", ["tpch_q18", "tpch_q20", "tpch_q21", "tpch_q2"])
def test_fact_table_scanned_once(plan, key):
    """Decorrelated subqueries reuse one lineitem scan instead of reading
    the fact table again."""
    assert len(_scans(plan(key), "lineitem")) == 1


def test_q21_windows_share_one_exchange(plan):
    """Q21's EXISTS and NOT EXISTS windows run back to back on one
    orderkey partitioning, with no shuffle between them."""
    top, *rest = _named(plan("tpch_q21"), "WindowExec")
    assert len(rest) == 1
    between = [name(n) for n in below(top, stop=lambda n: name(n) == "WindowExec")]
    assert "WindowExec" in between and "ShuffleExchangeExec" not in between


def test_q7_customer_join_below_fact_join(plan):
    """Q7 filters orders to the two nations' customers before orders meet
    lineitem: the o_custkey join is under the l_orderkey join."""
    joins = {column_names(j.leftKeys()): j for j in _joins(plan("tpch_q7"))}
    fact = joins[("l_orderkey",)]
    assert joins[("o_custkey",)] in below(fact)


@pytest.mark.parametrize(
    "key, pushed, dims",
    [
        (
            "tpch_q3",
            {"lineitem": "l_shipdate", "orders": "o_orderdate", "customer": "c_mktsegment"},
            {"orders", "customer"},
        ),
        ("tpch_q14", {"lineitem": "l_shipdate"}, {"part"}),
    ],
)
def test_filters_pushed_and_dimensions_broadcast(spark, corpus, key, pushed, dims):
    """Date and segment predicates reach the parquet scans, and at run
    time every join broadcasts its dimension side."""
    nodes = executed_nodes(QUERIES[key](spark, corpus))
    for table, col in pushed.items():
        (scan,) = _scans(nodes, table)
        # a comparison, not only IsNotNull(col)
        assert f"({col}," in str(scan.metadata().apply("PushedFilters")), table
    joins = _joins(nodes)
    assert joins and all(name(j) == "BroadcastHashJoinExec" for j in joins)
    broadcast = set().union(
        *(_scanned(s) for x in _named(nodes, "BroadcastExchangeExec")
          for s in _named(below(x), "FileSourceScanExec"))
    )
    assert broadcast == dims


def test_curation_gates_run_before_the_shuffle(plan):
    """The language and quality gates filter rows map-side: no gate sits
    above a shuffle, and every shuffle sees only gated rows."""
    nodes = plan("curate_corpus")

    def is_gate(n):
        return name(n) == "FilterExec" and "text" in _refs(n.condition())

    gates = [n for n in nodes if is_gate(n)]
    exchanges = _named(nodes, "ShuffleExchangeExec")
    assert gates and exchanges
    for g in gates:
        assert not _named(below(g), "ShuffleExchangeExec")
    for x in exchanges:
        assert any(is_gate(n) for n in below(x))


def test_pack_sequences_one_shuffle_on_shard(plan):
    assert _exchange_keys(plan("pack_sequences")) == [("shard",)]


def test_domain_cap_exchanges(plan):
    """Phase 1 spreads a hot domain over its input splits, (domain, _pid);
    phase 2 ranks the bounded remainder per domain."""
    keys = _exchange_keys(plan("domain_cap"))
    assert ("domain", "_pid") in keys and ("domain",) in keys, keys


def test_upsample_mix_has_no_exchange_or_join(plan):
    names = [name(n) for n in plan("upsample_mix")]
    assert not [n for n in names if "Exchange" in n or "Join" in n or "Cartesian" in n]


def test_jaccard_cap_is_broadcast_anti_join(spark):
    """The hot-shingle cap is an anti-join that adaptive execution
    broadcasts from the blacklist's measured size. max_freq=2 makes the
    blacklist non-empty at this scale; an empty one is planned away."""
    with scope():
        jc = D.jaccard_pairs(
            D.corpus_with_dups(spark, SF_DIR), threshold=0.5, max_freq=2
        )
        anti = [j for j in _joins(executed_nodes(jc)) if _join_type(j) == "LeftAnti"]
    assert anti and all(name(j) == "BroadcastHashJoinExec" for j in anti)


def _split_under_lambda(df) -> set[str]:
    """The ``split``/``lower`` expressions (by class) that sit inside a
    lambda function anywhere in ``df``'s optimized plan."""
    found, nodes = set(), [df._jdf.queryExecution().optimizedPlan()]
    while nodes:
        node = nodes.pop()
        nodes += seq(node.children())
        exprs = [(e, False) for e in seq(node.expressions())]
        while exprs:
            e, in_lambda = exprs.pop()
            if in_lambda and name(e) in ("StringSplit", "Lower"):
                found.add(name(e))
            in_lambda = in_lambda or name(e) == "LambdaFunction"
            exprs += [(c, in_lambda) for c in seq(e.children())]
    return found


SPLITTING_QUERIES = {
    "shingles": lambda docs: D.shingles(docs, n=3),
    "repetition_ratio": lambda docs: TA.repetition_ratio(docs, keep_text=True),
    "decontaminate": lambda docs: TA.decontaminate(docs, docs.limit(5)),
    "chunk_dedup": lambda docs: chunk_dedup(docs, chunk_words=20),
    "token_edit_distance": lambda docs: token_edit_distance_score(
        docs.select(F.col("text").alias("ref"), F.upper("text").alias("hyp"))
    ),
}


@pytest.mark.parametrize("key", SPLITTING_QUERIES)
def test_text_split_once_per_row(spark, key):
    """Operators that index into a text's words inside a lambda split the
    text once per row, below the lambda. Spark does not share a
    subexpression across a lambda's calls, so a split inside one re-splits
    the whole text for every element it produces: quadratic in document
    length."""
    assert _split_under_lambda(SPLITTING_QUERIES[key](_docs(spark))) == set()
