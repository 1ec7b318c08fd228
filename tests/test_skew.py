"""Skew-breaking evidence for the (bucket, salt)-grouped model stage (north
rule: "salts / repartitions to break skew from documents with many formula
images"). Extraction round-robins its media rows and needs no key; the
teacher-forced perplexity stage (eval/perplexity.py) groups by shape bucket.

The adversarial input at cluster scale is a corpus whose formula images all
land in ONE shape bucket — e.g. a template site rendering every formula at
the same size.  Without the salt, groupBy(bucket) would put the whole corpus
into a single applyInPandas group = one task = one executor core, no matter
how many executors the cluster has.  The deterministic per-ref salt
(crc32(media_ref) % salt_buckets, ``preprocess_spans``) must spread that hot
bucket over ~salt_buckets independent groups with balanced sizes.
"""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.config import PipelineConfig
from latex_ocr_spark.fixtures.glyphs import render_formula
from latex_ocr_spark.fixtures.png import encode_png
from latex_ocr_spark.operators.inference import preprocess_spans

N_MEDIA = 256


@pytest.fixture(scope="module")
def hot_bucket_groups(spark):
    """Group sizes after prepro+salting of a one-bucket (all-identical-shape)
    corpus of N_MEDIA media spans across 4 documents."""
    pipe = PipelineConfig()
    png = encode_png(render_formula(r"a + b", 1))  # same image => same bucket
    rows = [
        (f"doc-{i % 4:04d}", i % 4, i, f"m{i:05d}.png", bytearray(png))
        for i in range(N_MEDIA)
    ]
    feed = spark.createDataFrame(
        rows, "doc_id string, part int, `offset` int, media_ref string, image binary"
    )
    prepped = preprocess_spans(feed.repartition(8), pipe)
    groups = (
        prepped.groupBy("bucket_w", "bucket_h", "salt")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    ref_salts = prepped.select("media_ref", "salt").collect()
    return pipe, groups, ref_salts


def test_hot_bucket_is_single_shape(hot_bucket_groups):
    """The scenario is real: every span landed in exactly one shape bucket."""
    _, groups, _ = hot_bucket_groups
    assert len({(g.bucket_w, g.bucket_h) for g in groups}) == 1


def test_salt_spreads_hot_bucket(hot_bucket_groups):
    """The hot bucket fans out over ~salt_buckets groups, not 1."""
    pipe, groups, _ = hot_bucket_groups
    n_groups = len(groups)
    # coupon-collector expectation for 256 refs into 128 cells is ~111
    # distinct cells; anything >= half the cells proves uniform spreading
    assert n_groups >= pipe.salt_buckets // 2, n_groups
    sizes = sorted(g.n for g in groups)
    assert sum(sizes) == N_MEDIA
    # balls-in-bins max for 256-into-128 concentrates around 6-7; a max this
    # small bounds any single task at ~6/256 of the corpus (vs 100% unsalted)
    assert sizes[-1] <= 16, sizes[-5:]


def test_salt_is_deterministic_content_hash(hot_bucket_groups):
    """Salt derives from media_ref content, not partition placement — the
    same ref lands in the same group on any cluster layout (resume safety).

    Asserts the production salt column equals the documented formula
    crc32(media_ref) % salt_buckets for EVERY row, plus one pinned literal
    so a silent formula change (different hash, different encoding, different
    modulus) fails loudly rather than tautologically passing."""
    pipe, _, ref_salts = hot_bucket_groups
    assert len(ref_salts) == N_MEDIA
    for row in ref_salts:
        assert row.salt == zlib.crc32(row.media_ref.encode()) % pipe.salt_buckets
    # pinned: zlib.crc32(b"m00007.png") == 0x..., % 128 == 127
    assert pipe.salt_buckets == 128
    by_ref = {r.media_ref: r.salt for r in ref_salts}
    assert by_ref["m00007.png"] == 127


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

