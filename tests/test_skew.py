"""Skew-breaking evidence (north rule: "salts / repartitions to break skew
from documents with many formula images").

The adversarial input for the model stage at cluster scale is a corpus whose
formula images all land in ONE shape bucket — e.g. a template site rendering
every formula at the same size. A stage keyed on the bucket would put the
whole corpus into one group = one task = one executor core, no matter how
many executors the cluster has. The model stage (``inference.model_stage``,
shared by extraction and perplexity) has no key: it round-robins the PNG
rows over ``defaultParallelism`` partitions and batches by shape inside each
partition, so the hot bucket spreads evenly over every core. The MinHash
band self-join's hot keys are split by AQE instead.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.config import ModelConfig, PipelineConfig
from latex_ocr_spark.fixtures.glyphs import render_formula
from latex_ocr_spark.fixtures.png import encode_png
from latex_ocr_spark.operators.inference import decode_media, preprocess_spans
from latex_ocr_spark.pipeline import broadcast_weights

N_MEDIA = 256


@pytest.fixture(scope="module")
def hot_feed(spark):
    """A one-bucket (all-identical-shape) corpus of N_MEDIA media spans
    across 4 documents."""
    png = encode_png(render_formula(r"a + b", 1))  # same image => same bucket
    rows = [
        (f"doc-{i % 4:04d}", i % 4, i, f"m{i:05d}.png", bytearray(png))
        for i in range(N_MEDIA)
    ]
    return spark.createDataFrame(
        rows, "doc_id string, part int, `offset` int, media_ref string, image binary"
    )


@pytest.fixture(scope="module")
def hot_bucket_groups(hot_feed):
    """Group sizes by shape bucket after prepro."""
    prepped = preprocess_spans(hot_feed.repartition(8), PipelineConfig())
    return (
        prepped.groupBy("bucket_w", "bucket_h")
        .agg(F.count("*").alias("n"))
        .collect()
    )


def test_hot_bucket_is_single_shape(hot_bucket_groups):
    """The scenario is real: every span landed in exactly one shape bucket."""
    assert [g.n for g in hot_bucket_groups] == [N_MEDIA]


def test_round_robin_spreads_hot_bucket(spark, hot_feed):
    """The model stage spreads the one-bucket corpus over every core: each
    of its ``defaultParallelism`` partitions holds some rows, none more than
    twice an even share."""
    cfg = ModelConfig.small()
    decoded = decode_media(
        hot_feed, broadcast_weights(spark, cfg), cfg, PipelineConfig()
    )
    n_parts = spark.sparkContext.defaultParallelism
    sizes = {
        r.pid: r["count"]
        for r in decoded.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    }
    assert sum(sizes.values()) == N_MEDIA
    assert sorted(sizes) == list(range(n_parts)), sizes
    assert max(sizes.values()) <= 2 * N_MEDIA / n_parts, sizes


def test_minhash_band_join_aqe_skew_split(spark):
    """The MinHash band self-join is the one dedup shuffle whose key can
    skew: a large clone family (template pages, boilerplate mirrors) shares
    every band bucket, so ONE (band, bucket) key holds the whole family —
    hash partitioning puts the family's quadratic pair explosion on a
    single task regardless of cluster size.

    Remedy under test: AQE skew-join split (on by default at cluster scale;
    thresholds lowered here because the default 256 MB partition floor is
    unreachable in a unit test). A corpus where 1/3 of docs are identical
    must (a) produce a SortMergeJoin(skew=true) with both sides'
    AQEShuffleRead marked 'skewed' — the hot partitions were split into
    subpartition tasks — and (b) return exactly the same candidate set as
    an unsplit run (skew handling is a physical rewrite, never semantic)."""
    from latex_ocr_spark.operators.dedup import minhash_band_candidates

    n_docs, n_hot = 1200, 400
    rows = [
        (i, "the quick brown fox jumps over the lazy dog again and again")
        if i < n_hot
        else (
            i,
            f"unique document number {i} speaks of topic {i * 7 % 991} "
            f"and idea {i * 13 % 877} entirely",
        )
        for i in range(n_docs)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # unit-test floors: defaults (256 MB / 64 MB) never trigger on KBs
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        # force the shuffle join the 100 TB corpus would use (at test scale
        # the banded table would broadcast and hide the skew path entirely)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}

    def run(skew_enabled: bool):
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", str(skew_enabled).lower()
        )
        cand, sh, banded = minhash_band_candidates(
            corpus, n=3, num_hashes=8, bands=4, max_freq=None
        )
        pairs = {(r.doc_a, r.doc_b) for r in cand.collect()}
        plan = cand._jdf.queryExecution().executedPlan().toString()
        sh.unpersist()
        banded.unpersist()
        return pairs, plan

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        split_pairs, split_plan = run(skew_enabled=True)
        plain_pairs, plain_plan = run(skew_enabled=False)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.clearCache()

    # the skewed scenario is real: every hot pair is a candidate (identical
    # docs agree on every band — LSH cannot miss them)
    hot_expected = {
        (a, b) for a in range(n_hot) for b in range(a + 1, n_hot)
    }
    assert hot_expected <= split_pairs

    # (a) the split happened
    assert "SortMergeJoin(skew=true)" in split_plan, split_plan[-2000:]
    assert split_plan.count("coalesced and skewed") >= 2  # both join sides
    assert "skew=true" not in plain_plan

    # (b) physical rewrite only — candidate sets identical
    assert split_pairs == plain_pairs

