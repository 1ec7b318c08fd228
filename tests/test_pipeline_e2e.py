"""End-to-end golden test: the distributed pipeline must be span-sequence
equal — (kind, text, media_ref, order) per document — to the single-process
numpy oracle (SURVEY.md §5, the analog of the reference's row-aligned
ref/hyp golden files, /root/reference/model/evaluation/text.py:107-145).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.config import ModelConfig, PipelineConfig
from latex_ocr_spark.fixtures.corpus import formula_for, parse_media_ref, render_media_ref
from latex_ocr_spark.fixtures.glyphs import render_formula
from latex_ocr_spark.fixtures.png import decode_png
from latex_ocr_spark.kernels.oracle import Model, oracle_decode_images
from latex_ocr_spark.pipeline import explode_spans, extract_documents, extract_spans
from latex_ocr_spark.sources import read_docs, read_media

PARTS = [0, 1]  # partition-pruned subset keeps the test fast AND tests pruning


def _oracle_expected(spark, corpus, cfg):
    """Single-process golden: derive every doc's expected span sequence."""
    docs = read_docs(spark, corpus, parts=PARTS).collect()
    model = Model(cfg)
    expected = {}
    # batch-decode all media spans through the oracle in one pass
    jobs = []  # (doc_id, idx_in_doc, rgb)
    for row in docs:
        spans = sorted(
            (s.asDict() for s in row.spans), key=lambda s: s["offset"]
        )
        expected[row.doc_id] = spans
        for s in spans:
            if s["kind"] == "media":
                d, j = parse_media_ref(s["media_ref"])
                latex, scale = formula_for(d, j)
                jobs.append((row.doc_id, s["offset"], render_formula(latex, scale)))
    texts = oracle_decode_images([j[2] for j in jobs], model)
    for (doc_id, offset, _), latex in zip(jobs, texts):
        for s in expected[doc_id]:
            if s["offset"] == offset:
                s["text"] = latex
    return expected


@pytest.fixture(scope="module")
def extracted(spark, corpus):
    cfg = ModelConfig.small()
    out = extract_documents(spark, corpus, cfg=cfg, parts=PARTS)
    rows = out.collect()
    return cfg, {r.doc_id: [s.asDict() for s in r.spans] for r in rows}


def test_media_images_match_fixture(spark, corpus):
    """The media table rows decode back to the rendered fixture images."""
    rows = read_media(spark, corpus).limit(5).collect()
    for r in rows:
        d, j = parse_media_ref(r.media_ref)
        latex, scale = formula_for(d, j)
        img = render_formula(latex, scale)
        assert (r.height, r.width) == img.shape[:2]
        assert np.array_equal(decode_png(bytes(r.image)), img)
        assert r.latex_true == latex


def test_span_counts_and_routing(spark, corpus):
    spans = explode_spans(read_docs(spark, corpus, parts=PARTS))
    n_text = spans.filter(F.col("kind") == "text").count()
    n_media = spans.filter(F.col("kind") == "media").count()
    assert n_text == n_media + spans.select("doc_id").distinct().count()


def test_e2e_span_sequence_equality(spark, corpus, extracted):
    """THE north-rule gate: exact (kind, text, media_ref, order) equality
    per document vs the oracle, on the partition-pruned subset."""
    cfg, got = extracted
    expected = _oracle_expected(spark, corpus, cfg)
    assert set(got) == set(expected)
    n_mismatch = 0
    for doc_id, exp_spans in expected.items():
        got_spans = got[doc_id]
        if [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got_spans
        ] != [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp_spans]:
            n_mismatch += 1
    assert n_mismatch == 0, f"{n_mismatch}/{len(expected)} documents mismatch"


def test_text_spans_pass_through_byte_identical(spark, corpus):
    """kind='text' spans must reach the output untouched and reassembled text
    must equal the source document text (chunking covers the full string)."""
    import duckdb

    from tests.conftest import SF_DIR

    out = extract_documents(spark, corpus, cfg=ModelConfig.small(), parts=PARTS)
    joined_text = (
        out.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "text")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.sort_array(F.collect_list(F.struct("s.offset", "s.text"))), lambda x: x["text"])
            ).alias("reassembled")
        )
        .collect()
    )
    src = {
        f"doc-{d}": t
        for d, t in duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    }
    assert len(joined_text) > 0
    for r in joined_text:
        assert r.reassembled == src[r.doc_id], r.doc_id


def test_beam_pipeline_matches_beam_oracle(spark, corpus):
    """Same gate under beam-search decoding (config-selected like the
    reference's configs/model.json 'decoding')."""
    cfg = ModelConfig.small(decoding="beam_search")
    out = extract_documents(spark, corpus, cfg=cfg, parts=[2])
    got = {r.doc_id: [s.asDict() for s in r.spans] for r in out.collect()}
    # oracle on part 2
    docs = read_docs(spark, corpus, parts=[2]).collect()
    model = Model(cfg)
    for row in docs:
        spans = sorted((s.asDict() for s in row.spans), key=lambda s: s["offset"])
        imgs, offs = [], []
        for s in spans:
            if s["kind"] == "media":
                d, j = parse_media_ref(s["media_ref"])
                latex, scale = formula_for(d, j)
                imgs.append(render_formula(latex, scale))
                offs.append(s["offset"])
        texts = oracle_decode_images(imgs, model)
        by_off = dict(zip(offs, texts))
        for s in spans:
            if s["kind"] == "media":
                s["text"] = by_off[s["offset"]]
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got[row.doc_id]
        ] == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]



def test_extraction_runs_one_python_stage(spark, corpus):
    """Media spans cross into Python once: the executed extraction plan
    holds exactly one Python UDF node, a MapInPandas (no grouped
    FlatMapGroupsInPandas stage), fed by exactly one Exchange from the
    media join."""

    def children(node):  # looks through AQE's wrapper and query stages
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if cls.endswith("QueryStageExec"):
            return [node.plan()]
        return [node.children().apply(i) for i in range(node.children().size())]

    flat = extract_spans(spark, corpus, cfg=ModelConfig.small(), parts=[0])
    flat.collect()
    nodes, todo = [], [flat._jdf.queryExecution().executedPlan()]
    while todo:
        nodes.append(todo.pop())
        todo += children(nodes[-1])
    udfs = [n for n in nodes if ".sql.execution.python." in n.getClass().getName()]
    assert [n.getClass().getSimpleName() for n in udfs] == ["MapInPandasExec"]
    below_udf, node = [], udfs[0]
    while "Join" not in node.getClass().getSimpleName():
        (node,) = children(node)
        below_udf.append(node.getClass().getSimpleName())
    assert below_udf.count("ShuffleExchangeExec") == 1, below_udf
