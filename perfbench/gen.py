"""Seeded input generator for the extraction benchmark.

Writes a workload's ``(doc_id, text)`` source table and derives the docs and
media tables from it through the public ``sources.build_corpus``, so the
program only ever sees generated tables.

The corpus's *shape* is fixed by the workload: which doc ids exist decides
how many media spans each doc has, which images are blank, long or too big
for every bucket, and which partition a doc lands in (the derivation rule in
``fixtures/corpus.py`` keys all of these on ``doc_id`` modulo 3, 7, 16, 53,
97, 101 and 211). The seed moves every doc id by a multiple of
``SHAPE_PERIOD``, the least common multiple of those moduli, and draws the
texts. So two seeds give corpora of the same shape (same docs, images per
doc, fallback share and partitions) but different texts and formulas.

    python3 perfbench/gen.py --workload extract_dense --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

SHAPE_PERIOD = 3 * 7 * 16 * 53 * 97 * 101 * 211
# seed → id shift, kept small enough that formula keys stay inside int64
SEED_SLOTS = 100_003

# Word pools. ENGLISH carries the curate stage's language markers and
# stopwords so most docs pass its gates; the other pools make docs that
# the language gate drops.
ENGLISH = (
    "the a of and to in is was for on with as by at it from that this be are "
    "formula equation matrix vector integral sum limit proof lemma theorem "
    "value series bound space field group ring order kernel image basis "
    "operator function domain range metric norm graph path edge node tree "
    "set map point line plane curve surface angle circle prime number root "
    "power factor term degree sign ratio scale shift step rate model data"
).split()
# markers drawn three times as often as content words: stopword ratio ≈ 13%
EN_POOL = ENGLISH[:20] * 3 + ENGLISH[20:]
FOREIGN = {
    "de": "der die das und ist war nicht mit von zu den dem ein eine im auf "
          "sich auch nach bei aus wird sind als wie oder".split(),
    "fr": "le la les et est dans pour que une des au aux ce cette il elle "
          "sur ne pas plus par avec mais ses sont ont".split(),
}

# name → (n_docs, doc-id filter over the natural id sequence 0, 1, 2, ...)
WORKLOADS = {
    # every doc with at least one image; blank, long and oversized-fallback
    # formulas at the fixture's natural rates (doc 0 holds 12 images, one of
    # them fits no bucket)
    "extract_dense": (48, lambda d: d % 3 != 0 or d % 97 == 0),
    # the natural mix (0, 1 or 2 images per doc) for the daily chain, in
    # one doc partition; doc 0 is left out, as its twelve images (one of
    # them bucket-less) would make skewed docs ten times their natural rate
    "daily_job": (48, lambda d: d % 16 == 0 and d > 0),
}


def base_ids(workload: str) -> np.ndarray:
    """The workload's seed-independent doc ids (its shape)."""
    n_docs, keep = WORKLOADS[workload]
    out, d = [], 0
    while len(out) < n_docs:
        if keep(d):
            out.append(d)
        d += 1
    return np.asarray(out, dtype=np.int64)


def _sentence(rng: np.random.Generator, pool: list[str], n_words: int) -> str:
    return " ".join(pool[int(i)] for i in rng.integers(0, len(pool), n_words))


def source_table(workload: str, seed: int):
    """(doc_id int64, text str) pandas frame for ``workload`` at ``seed``.

    Doc classes are fixed by position ``i`` so every seed has the same mix:
      i % 12 == 6  near-duplicate of doc i-6 (two words replaced)
      i % 16 == 7  foreign-language doc (dropped by the language gate)
      i % 24 == 11 repetitive doc (dropped by the mix stage's repetition gate)
      otherwise    English text of 20-60 words
    On consecutive ids (``daily_job``) a near-duplicate copies a doc with
    the same media count, so the flattened text they share is not diluted
    by different decoded formulas."""
    import pandas as pd

    ids = base_ids(workload) + (seed % SEED_SLOTS + 1) * SHAPE_PERIOD
    rng = np.random.default_rng([seed, len(ids)])
    texts: list[str] = []
    for i in range(len(ids)):
        if i % 12 == 6:
            words = texts[i - 6].split(" ")
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = ENGLISH[
                    int(rng.integers(10, len(ENGLISH)))
                ]
            texts.append(" ".join(words))
        elif i % 16 == 7:
            pool = FOREIGN["de" if i % 32 == 7 else "fr"]
            texts.append(_sentence(rng, pool, int(rng.integers(20, 61))))
        elif i % 24 == 11:
            texts.append(" ".join(["the data of the model"] * 8))
        else:
            texts.append(_sentence(rng, EN_POOL, int(rng.integers(20, 61))))
    return pd.DataFrame({"doc_id": ids, "text": texts})


def generate(spark, workload: str, seed: int, root: str) -> str:
    """Write the source table and build the corpus (docs + media) from it
    under ``root/<workload>-<fingerprint>``; returns the corpus dir. The
    fingerprint hashes the source table, so a finished corpus is reused
    only for identical input."""
    import pandas as pd

    from latex_ocr_spark.sources import build_corpus

    table = source_table(workload, seed)
    fp = int(pd.util.hash_pandas_object(table, index=False).sum()) & (2**64 - 1)
    out_dir = os.path.join(root, f"{workload}-{fp:016x}")
    src_dir = os.path.join(out_dir, "src")
    src = os.path.join(src_dir, "documents.parquet")
    if not os.path.exists(src):
        os.makedirs(src_dir, exist_ok=True)
        table.to_parquet(src + ".tmp", index=False)
        os.replace(src + ".tmp", src)
    return build_corpus(spark, src_dir, out_dir=os.path.join(out_dir, "corpus"))


def use_checkout(root: str) -> None:
    """Import the engine from the checkout at ``root``, here and in the
    Spark Python workers this process starts."""
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    use_checkout(os.getcwd())
    from latex_ocr_spark.session import get_spark

    spark = get_spark(
        "perfbench-gen", cores=len(os.sched_getaffinity(0)),
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        print(generate(spark, args.workload, args.seed, args.out))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
