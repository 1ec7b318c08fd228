"""Every frame the engine persists or checkpoints has one owner that frees
it: ``latex_ocr_spark.frames.scope()``.

The census runs each persisting query inside a scope, and each downstream
stage of the daily job (which opens its own), then checks that the cache
manager is empty and that no persistent RDD was left behind — the second
check is the one that sees a checkpoint, which ``clearCache()`` cannot free.
The ``ast`` test pins that no engine path persists, caches, checkpoints or
unpersists a frame except through ``frames``."""

from __future__ import annotations

import ast
import contextlib
import pathlib

import pytest

import __spark_entry__ as E
from latex_ocr_spark.frames import scope
from latex_ocr_spark.operators import checkpoint as CK
from tests.conftest import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent

# the queries whose operators persist or checkpoint a shared intermediate
PERSISTING_QUERIES = [
    "ngram_jaccard_pairs",
    "curate_corpus",
    "curate_percentile",
    "simhash_pairs",
    "lsh_cosine_topk",
    "embedding_neardup",
    "semantic_dedup",
    "minhash_lsh_pairs",
    "incremental_neardup",
    "dedup_components",
    "dedup_apply",
    "training_pipeline",
]


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@contextlib.contextmanager
def _leaves_nothing(spark):
    """Assert that the block leaves no cache-manager entry and no new
    persistent RDD (cached or checkpointed) behind."""
    spark.catalog.clearCache()
    before = _persistent_rdds(spark)
    yield
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _persistent_rdds(spark) - before == set()


@pytest.mark.parametrize("name", PERSISTING_QUERIES)
def test_query_frees_its_frames(spark, name):
    with _leaves_nothing(spark), scope():
        E.queries()[name](spark, SF_DIR).count()


@pytest.fixture(scope="module")
def stage_dir(spark, tmp_path_factory):
    """An output dir holding every downstream stage's input: a 4-doc
    extraction with one near-dup pair, run through curate, dedup and
    budget once."""
    out = str(tmp_path_factory.mktemp("frames_stages"))
    texts = [
        "the cat and the dog are in the house with a mat",
        "the cat and the dog are in the house with a mat today",
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a man and his dog were walking to the park in the early morning",
    ]
    spark.createDataFrame(
        [(f"doc-{i}", 0, [(t,)]) for i, t in enumerate(texts)],
        "doc_id string, part int, spans array<struct<text: string>>",
    ).write.parquet(f"{out}/extracted/docs")
    for stage in ("curate", "dedup", "budget"):
        STAGES[stage](spark, out)
    return out


STAGES = {
    "curate": lambda spark, out: CK.run_curate_stage(spark, f"{out}/extracted", out),
    "dedup": lambda spark, out: CK.run_dedup_stage(spark, out),
    "budget": lambda spark, out: CK.run_budget_stage(spark, out),
    "mix": lambda spark, out: CK.run_mix_stage(spark, out, lm_top_frac=0.9),
}
# rows each stage writes: the near-dup pair collapses in dedup, and the LM
# fluency gate (the mix stage's persisting path) drops the least fluent doc
N_DOCS = {"curate": 4, "dedup": 3, "budget": 3, "mix": 2}


@pytest.mark.parametrize("stage", STAGES)
def test_stage_frees_its_frames(spark, stage_dir, stage):
    """Each stage owns its scope: nothing it persisted or checkpointed
    outlives its write."""
    with _leaves_nothing(spark):
        row = STAGES[stage](spark, stage_dir)
    assert row["n_docs"] == N_DOCS[stage]


# ---------------------------------------------------------------------------
# no bare persist / cache / checkpoint / unpersist outside ``frames``
# ---------------------------------------------------------------------------

LIFETIME_CALLS = {"persist", "cache", "localCheckpoint", "unpersist"}


def _lifetime_calls(tree: ast.AST):
    """(method, line) of every ``<expr>.persist(...)``, ``.cache(...)``,
    ``.localCheckpoint(...)`` and ``.unpersist(...)`` call."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in LIFETIME_CALLS
        ):
            yield node.func.attr, node.lineno


def bare_lifetime_calls() -> list[str]:
    paths = [
        p
        for p in sorted((REPO / "latex_ocr_spark").rglob("*.py"))
        if p.name != "frames.py"
    ] + [REPO / "__spark_entry__.py", REPO / "job.py"]
    return [
        f"{p.relative_to(REPO)}:{line} .{attr}()"
        for p in paths
        for attr, line in _lifetime_calls(ast.parse(p.read_text(), filename=str(p)))
    ]


def test_engine_persists_only_through_frames():
    assert bare_lifetime_calls() == []


def test_lifetime_census_sees_every_call_form():
    tree = ast.parse(
        "df.persist()\nf(x).cache()\ndf.localCheckpoint(eager=True)\n"
        "df.select('a').unpersist(True)\ndf.persist\nfrom_persist(df)\n"
    )
    assert sorted(a for a, _ in _lifetime_calls(tree)) == sorted(LIFETIME_CALLS)
