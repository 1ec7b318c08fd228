"""Output checks run on every timed pass.

Extraction passes end in one collect of three columns per document:

* ``full`` — xxhash64 over every output column (doc_id, part and the whole
  span array, media text included). Its XOR and its sum modulo a prime over
  all documents make an order-insensitive digest, which must be identical
  across the passes of a run.
* ``key`` — xxhash64 over the doc's structure: span kinds and offsets, the
  text of text spans and the media_ref of media spans, sorted by offset. The
  same expression over the *input* docs table gives the expected value, so a
  lost, moved or altered span shows up per document.
* ``sample`` — the span array as JSON for a seeded sample of documents, whose
  media texts must equal ``kernels.oracle.oracle_decode_images``.
"""

from __future__ import annotations

import json
import os

import numpy as np

DIGEST_PRIME = (1 << 61) - 1


def span_key(spans_col):
    """Structure-only hash input for one document's span array: sorted
    (offset, kind, text-or-media_ref) triples as JSON."""
    from pyspark.sql import functions as F

    return F.to_json(
        F.sort_array(
            F.transform(
                spans_col,
                lambda s: F.struct(
                    s["offset"].alias("offset"),
                    s["kind"].alias("kind"),
                    F.when(s["kind"] == "text", s["text"])
                    .otherwise(s["media_ref"])
                    .alias("v"),
                ),
            )
        )
    )


def expected_keys(spark, corpus_dir: str) -> dict[str, int]:
    """doc_id → structure hash of the input docs table."""
    from pyspark.sql import functions as F

    from latex_ocr_spark.sources import read_docs

    rows = (
        read_docs(spark, corpus_dir)
        .select("doc_id", F.xxhash64("doc_id", "part", span_key(F.col("spans"))).alias("k"))
        .toPandas()
    )
    return dict(zip(rows["doc_id"], rows["k"].astype(np.int64)))


def consume(docs_df, sample_docs: list[str]):
    """The pass's terminal action: one row per output document with its
    full hash, structure hash and (sampled docs only) span JSON."""
    from pyspark.sql import functions as F

    return docs_df.select(
        "doc_id",
        F.xxhash64("doc_id", "part", F.to_json("spans")).alias("full"),
        F.xxhash64("doc_id", "part", span_key(F.col("spans"))).alias("key"),
        F.when(F.col("doc_id").isin(sample_docs), F.to_json("spans")).alias(
            "sample"
        ),
    ).toPandas()


def digest(full_hashes) -> tuple[int, int, int]:
    """Order-insensitive digest of the full hashes: (count, xor, sum mod p)."""
    h = np.asarray(full_hashes, dtype=np.int64)
    x = int(np.bitwise_xor.reduce(h)) if len(h) else 0
    s = sum(int(v) % DIGEST_PRIME for v in h) % DIGEST_PRIME
    return len(h), x, s


def check_extraction(pdf, expected: dict[str, int], oracle: dict[str, str]) -> list[str]:
    """Problems found in one pass's collected output (empty when correct).
    ``oracle`` maps sampled media_ref → expected decoded LaTeX."""
    problems: list[str] = []
    if len(pdf) != len(expected):
        problems.append(f"doc count {len(pdf)} != input {len(expected)}")
    if pdf["doc_id"].duplicated().any():
        problems.append("duplicate doc_id in output")
    got = dict(zip(pdf["doc_id"], pdf["key"].astype(np.int64)))
    bad = [d for d, k in expected.items() if got.get(d) != k]
    if bad:
        problems.append(f"{len(bad)} docs differ from input spans, e.g. {bad[0]}")
    seen: dict[str, str] = {}
    for js in pdf["sample"].dropna():
        for s in json.loads(js):
            if s.get("kind") == "media":
                seen[s["media_ref"]] = s.get("text") or ""
    for ref, want in oracle.items():
        if seen.get(ref) != want:
            problems.append(f"{ref}: decoded {seen.get(ref)!r} != oracle {want!r}")
    return problems


def media_sample(corpus_dir: str, seed: int, buckets, k: int = 6) -> dict[str, str]:
    """Seeded sample of media spans → doc_id, always including an image that
    takes the row-parallel fallback route (it fits no bucket after padding)
    when the corpus has one. Read straight from the media parquet with
    pyarrow, outside any timed window."""
    import pyarrow.parquet as pq

    from latex_ocr_spark.config import PAD_SIZE

    pad_h, pad_w = PAD_SIZE[0] + PAD_SIZE[2], PAD_SIZE[1] + PAD_SIZE[3]
    meta = pq.read_table(
        os.path.join(corpus_dir, "media"), columns=["media_ref", "height", "width"]
    ).to_pandas()
    meta = meta.sort_values("media_ref").reset_index(drop=True)
    rng = np.random.default_rng([seed, 17])
    picks = list(rng.choice(len(meta), size=min(k, len(meta)), replace=False))
    fits = np.zeros(len(meta), dtype=bool)
    for bw, bh in buckets:
        fits |= (meta["width"].values + pad_w <= bw) & (meta["height"].values + pad_h <= bh)
    big = np.flatnonzero(~fits)
    if len(big):
        picks.append(int(big[rng.integers(0, len(big))]))
    refs = sorted({meta["media_ref"][int(i)] for i in picks})
    # media_ref is img-<doc>-<j>: the owning doc is doc-<doc>
    return {r: "doc-" + r.split("-")[1] for r in refs}


def oracle_texts(corpus_dir: str, refs: list[str], cfg, pipe) -> dict[str, str]:
    """Single-process reference decode of the sampled media refs."""
    import pyarrow.parquet as pq

    from latex_ocr_spark.fixtures.png import decode_png
    from latex_ocr_spark.kernels.oracle import Model, oracle_decode_images

    tbl = pq.read_table(
        os.path.join(corpus_dir, "media"),
        columns=["media_ref", "image"],
        filters=[("media_ref", "in", refs)],
    ).to_pandas()
    images = [decode_png(bytes(b)) for b in tbl["image"]]
    texts = oracle_decode_images(images, Model(cfg), pipe)
    return dict(zip(tbl["media_ref"], texts))


def input_counts(corpus_dir: str) -> tuple[int, int]:
    """(docs, media spans) of the generated input, read with pyarrow."""
    import pyarrow.parquet as pq

    spans = pq.read_table(os.path.join(corpus_dir, "docs"), columns=["spans"])
    n_media = sum(
        1
        for row in spans.column("spans").to_pylist()
        for s in row
        if s["kind"] == "media"
    )
    return spans.num_rows, n_media


def lineage_rows(out_dir: str) -> list[dict]:
    """The checkpoint/lineage records a daily pass appended."""
    ckpt = os.path.join(out_dir, "_checkpoint")
    rows = []
    for name in sorted(os.listdir(ckpt)):
        if name.startswith("part-") and name.endswith(".json"):
            with open(os.path.join(ckpt, name)) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def check_daily(
    lineage: list[dict], n_docs: int, n_media: int, stage_rows: dict[str, int]
) -> list[str]:
    """Extraction lineage must reconcile with the input; stage row counts
    are compared across passes by the caller."""
    problems: list[str] = []
    done = [r for r in lineage if r["status"] == "done"]
    if sum(r["n_docs"] for r in done) != n_docs:
        problems.append(f"lineage n_docs {sum(r['n_docs'] for r in done)} != input {n_docs}")
    if sum(r["n_images"] for r in done) != n_media:
        problems.append(
            f"lineage n_images {sum(r['n_images'] for r in done)} != input {n_media}"
        )
    for stage, n in stage_rows.items():
        if n <= 0:
            problems.append(f"stage {stage} produced no rows")
    return problems
