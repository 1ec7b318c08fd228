"""Materialized ground truth for the flagship media half.

Decodes every media_ref of a scale factor with the single-process numpy
oracle (kernels/oracle.py — the SAME kernel composition the Spark UDFs run,
north-star invariant) and writes (media_ref, latex) to a parquet that the
DuckDB side of the correctness gate reads with read_parquet(). This turns
extract_media_decoded from a rows-only check into a hash-matched row: Spark's
distributed bucketed decode must equal the single-process oracle span-for-span.

Pure python/pyarrow — no SparkSession — so the oracle side of the gate can
ensure it exists even if it runs before any Spark query.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import Decimal, ROUND_HALF_UP

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..config import ModelConfig, PipelineConfig
from ..kernels import KERNELS_VERSION
from ..kernels.oracle import Model, oracle_decode_images
from ..operators import similarity as S
from ..sources import corpus_dir
from .corpus import formula_for
from .glyphs import render_formula


def _fp(payload: dict) -> str:
    """8-hex config fingerprint baked into every oracle parquet filename:
    a numerics/config change produces a new name, so the gate rebuilds ground
    truth instead of silently comparing against a stale cache (the old
    existence-only check's known footgun)."""
    return hashlib.sha1(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:8]


def _model_cfg(profile: str) -> ModelConfig:
    return {
        "reference": ModelConfig.reference,
        "bench": ModelConfig.bench,
        "small": ModelConfig.small,
        # beam-search decoding variant of the small profile (reference
        # configs/model.json "decoding" switch); fingerprints distinctly via
        # the cfg dict, so it gets its own materialized decode cache
        "small_beam": lambda: ModelConfig.small(decoding="beam_search"),
    }[profile]()


def oracle_decodes_path(sf_dir: str, profile: str = "small") -> str:
    fp = _fp(
        {
            "kernels": KERNELS_VERSION,
            "model": _model_cfg(profile).to_dict(),
            "buckets": list(PipelineConfig().buckets),
        }
    )
    return os.path.join(
        corpus_dir(sf_dir), f"oracle_decodes_{profile}_{fp}.parquet"
    )


def _media_refs_for(sf_dir: str) -> list[str]:
    """Derive every media_ref from documents.parquet's doc_id column alone
    (the corpus derivation rule, fixtures/corpus.py docstring)."""
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"])
    refs: list[str] = []
    for d in tbl.column("doc_id").to_pylist():
        n_media = d % 3 + (12 if d % 97 == 0 else 0)
        refs.extend(f"img-{d}-{j}" for j in range(n_media))
    return refs


def oracle_prepro_path(sf_dir: str) -> str:
    fp = _fp({"kernels": KERNELS_VERSION, "buckets": list(PipelineConfig().buckets)})
    return os.path.join(corpus_dir(sf_dir), f"oracle_prepro_{fp}.parquet")


def ensure_oracle_prepro(sf_dir: str) -> str:
    """Single-process preprocess ground truth per media_ref:
    (media_ref, bucket_w, bucket_h, canvas_h, canvas_w). Lets the gate
    hash-check the distributed preprocess/bucketing stage (G1) against the
    same kernels run in one process — prepro only, no decode, so it is cheap
    and independent of the model profile."""
    from ..kernels import image_ops
    from ..config import PipelineConfig

    path = oracle_prepro_path(sf_dir)
    if os.path.exists(path):
        return path
    buckets = list(PipelineConfig().buckets)
    refs = _media_refs_for(sf_dir)
    rows = {"media_ref": [], "bucket_w": [], "bucket_h": [],
            "canvas_h": [], "canvas_w": []}
    for ref in refs:
        _, d, j = ref.split("-")
        latex, scale = formula_for(int(d), int(j))
        canvas, bw, bh, _ok = image_ops.preprocess(
            render_formula(latex, scale), buckets=buckets
        )
        rows["media_ref"].append(ref)
        rows["bucket_w"].append(int(bw))
        rows["bucket_h"].append(int(bh))
        rows["canvas_h"].append(int(canvas.shape[0]))
        rows["canvas_w"].append(int(canvas.shape[1]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(
        pa.table(
            {
                "media_ref": rows["media_ref"],
                "bucket_w": pa.array(rows["bucket_w"], pa.int32()),
                "bucket_h": pa.array(rows["bucket_h"], pa.int32()),
                "canvas_h": pa.array(rows["canvas_h"], pa.int32()),
                "canvas_w": pa.array(rows["canvas_w"], pa.int32()),
            }
        ),
        tmp,
    )
    os.replace(tmp, path)
    return path


def oracle_features_path(sf_dir: str) -> str:
    fp = _fp({"kernels": KERNELS_VERSION})
    return os.path.join(corpus_dir(sf_dir), f"oracle_features_{fp}.parquet")


def ensure_oracle_features(sf_dir: str) -> str:
    """Single-process image-feature ground truth per media_ref — the same
    greyscale/crop/stat computation operators/multimodal.image_features runs
    distributed, executed in one process over the deterministic renders."""
    from ..fixtures.png import encode_png
    from ..kernels import image_ops

    path = oracle_features_path(sf_dir)
    if os.path.exists(path):
        return path
    refs = _media_refs_for(sf_dir)
    out: dict[str, list] = {
        "media_ref": [], "height": [], "width": [], "n_bytes": [],
        "mean_luma": [], "nonwhite_frac": [], "content_h": [], "content_w": [],
    }
    for ref in refs:
        _, d, j = ref.split("-")
        latex, scale = formula_for(int(d), int(j))
        rgb = render_formula(latex, scale)
        png = encode_png(rgb)
        gray = image_ops.greyscale(rgb)
        cropped, ok = image_ops.crop_to_content(gray)
        out["media_ref"].append(ref)
        out["height"].append(gray.shape[0])
        out["width"].append(gray.shape[1])
        out["n_bytes"].append(len(png))
        out["mean_luma"].append(round(float(gray.mean()), 4))
        out["nonwhite_frac"].append(round(float((gray != 255).mean()), 4))
        out["content_h"].append(cropped.shape[0] if ok else 0)
        out["content_w"].append(cropped.shape[1] if ok else 0)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(
        pa.table(
            {
                "media_ref": out["media_ref"],
                "height": pa.array(out["height"], pa.int32()),
                "width": pa.array(out["width"], pa.int32()),
                "n_bytes": pa.array(out["n_bytes"], pa.int64()),
                "mean_luma": pa.array(out["mean_luma"], pa.float64()),
                "nonwhite_frac": pa.array(out["nonwhite_frac"], pa.float64()),
                "content_h": pa.array(out["content_h"], pa.int32()),
                "content_w": pa.array(out["content_w"], pa.int32()),
            }
        ),
        tmp,
    )
    os.replace(tmp, path)
    return path


def ensure_oracle_decodes(sf_dir: str, profile: str = "small") -> str:
    """Idempotent: render + single-process-decode every media_ref once per
    (sf, profile), cache as parquet, return the path."""
    path = oracle_decodes_path(sf_dir, profile)
    if os.path.exists(path):
        return path
    cfg = _model_cfg(profile)
    pipe = PipelineConfig()
    model = Model(cfg)
    refs = _media_refs_for(sf_dir)
    images: list[np.ndarray] = []
    for ref in refs:
        _, d, j = ref.split("-")
        latex, scale = formula_for(int(d), int(j))
        images.append(render_formula(latex, scale))
    decoded = oracle_decode_images(images, model, pipe)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(
        pa.table({"media_ref": refs, "latex": decoded}),
        tmp,
    )
    os.replace(tmp, path)  # atomic publish: concurrent builders both win
    return path


def oracle_perplexity_path(sf_dir: str, profile: str = "small") -> str:
    fp = _fp(
        {
            "kernels": KERNELS_VERSION,
            "model": _model_cfg(profile).to_dict(),
            "buckets": list(PipelineConfig().buckets),
        }
    )
    return os.path.join(
        corpus_dir(sf_dir), f"oracle_perplexity_{profile}_{fp}.parquet"
    )


def ensure_oracle_perplexity(sf_dir: str, profile: str = "small") -> str:
    """Single-process teacher-forced masked-CE ground truth per media_ref:
    (media_ref, ce_sum, n_words) — the same kernels the distributed
    eval/perplexity.py UDF runs (encode + AttentionDecoder.teacher_forced_ce
    on gold labels), composed in one process. Per-ref values agree with the
    workers' to ~1e-8 relative, not bit-for-bit: here each shape is one
    batch on the driver's BLAS kernel. The gate's DuckDB side applies
    exp(Σce/Σn) to these rows and rounds to 4dp, which absorbs that."""
    from ..kernels.decode import AttentionDecoder
    from ..kernels.encoder import encode
    from ..kernels.text_ops import pad_batch_formulas, tokenize
    from ..kernels import image_ops
    from ..kernels.weights import init_weights
    from .vocab import ID_END, ID_PAD, ID_UNK, N_TOK, TOK_TO_ID

    path = oracle_perplexity_path(sf_dir, profile)
    if os.path.exists(path):
        return path
    cfg = _model_cfg(profile)
    pipe = PipelineConfig()
    weights = init_weights(cfg, N_TOK)
    dec = AttentionDecoder(weights, cfg, ID_END)
    refs = _media_refs_for(sf_dir)
    pre: list[np.ndarray] = []
    formulas: list[list[int]] = []
    for ref in refs:
        _, d, j = ref.split("-")
        latex, scale = formula_for(int(d), int(j))
        canvas, _bw, _bh, _ok = image_ops.preprocess(
            render_formula(latex, scale), buckets=list(pipe.buckets)
        )
        pre.append(canvas)
        formulas.append(tokenize(latex, TOK_TO_ID, ID_UNK))
    by_shape: dict[tuple[int, int], list[int]] = {}
    for i, canvas in enumerate(pre):
        by_shape.setdefault(canvas.shape, []).append(i)
    ce_sums = [0.0] * len(refs)
    n_words = [0] * len(refs)
    for _shape, idxs in sorted(by_shape.items()):
        batch = np.stack([pre[i] for i in idxs])
        enc = encode(batch, weights, cfg)
        labels, lengths = pad_batch_formulas(
            [formulas[i] for i in idxs], ID_PAD, ID_END
        )
        ce = dec.teacher_forced_ce(enc, labels, lengths)
        for i, c, l in zip(idxs, ce, lengths):
            ce_sums[i] = float(c)
            n_words[i] = int(l)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(
        pa.table(
            {
                "media_ref": refs,
                "ce_sum": pa.array(ce_sums, pa.float64()),
                "n_words": pa.array(n_words, pa.int32()),
            }
        ),
        tmp,
    )
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# ANN ground truth (lsh_cosine_topk / ivf_cosine_topk)
#
# Both queries are deterministic given their seeds (similarity.SRP_SEED, the
# seeded k-means init), so exact single-process replicas close the last two
# rows-only gaps in the correctness gate — the same golden-file pattern as
# the decode oracle (reference analog: model/evaluation/text.py:107-145).
#
# Float discipline: Spark scores pairs with F.aggregate over zip_with — a
# strict LEFT FOLD in array order — and rounds with BigDecimal HALF_UP.
# These replicas fold in the same order in python floats (IEEE doubles) and
# round via Decimal(repr(x)) (shortest-repr, same as BigDecimal.valueOf), so
# every sim is bit-identical, not merely close.
# ---------------------------------------------------------------------------


def _fold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _fold_norm(a: list[float]) -> float:
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def _round4(x: float) -> float:
    v = float(
        Decimal(repr(float(x))).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )
    return 0.0 if v == 0.0 else v  # BigDecimal never yields -0.0; match it


def _load_embeddings(sf_dir: str) -> tuple[list[int], list[list[float]]]:
    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = t.column("vec_id").to_pylist()
    # float32 parquet values widen exactly to python doubles — the same cast
    # Spark's x.cast("double") performs
    vecs = [[float(x) for x in v] for v in t.column("embedding").to_pylist()]
    return ids, vecs


def _topk_rows(
    ids: list[int],
    vecs: list[list[float]],
    norms: list[float],
    qi: int,
    cand: set[int],
):
    """Exact re-rank of candidate indexes for query row qi: the TOPK_K best
    by (sim DESC rounded, neighbor_id ASC) — the same ordering as
    similarity._top_k."""
    scored = []
    for ci in cand:
        sim = _round4(_fold_dot(vecs[qi], vecs[ci]) / (norms[qi] * norms[ci]))
        scored.append((sim, ids[ci]))
    scored.sort(key=lambda t: (-t[0], t[1]))
    top = scored[: S.TOPK_K]
    return [(ids[qi], nid, sim, r) for r, (sim, nid) in enumerate(top, 1)]


def _write_topk(path: str, rows: list[tuple[int, int, float, int]]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(
        pa.table(
            {
                "query_id": pa.array([r[0] for r in rows], pa.int64()),
                "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
                "sim": pa.array([r[2] for r in rows], pa.float64()),
                "rank": pa.array([r[3] for r in rows], pa.int32()),
            }
        ),
        tmp,
    )
    os.replace(tmp, path)
    return path


def oracle_lsh_topk_path(sf_dir: str) -> str:
    fp = _fp(
        {
            "seed": S.SRP_SEED, "k": S.TOPK_K, "q": S.TOPK_QUERIES,
            "dim": S.SRP_DIM, "planes": S.SRP_PLANES, "tables": S.TOPK_TABLES,
            "probe": 1,  # 1-bit query-side multi-probe (similarity._probe_sigs)
        }
    )
    return os.path.join(corpus_dir(sf_dir), f"oracle_lsh_topk_{fp}.parquet")


def ensure_oracle_lsh_topk(sf_dir: str) -> str:
    """Single-process SRP-LSH top-k ground truth: the same plane matrix and
    sign-bit signatures (similarity.srp_sigs), the same 1-bit query-side
    multi-probe, exact re-rank — replayed in one process."""
    path = oracle_lsh_topk_path(sf_dir)
    if os.path.exists(path):
        return path
    ids, vecs = _load_embeddings(sf_dir)
    sigs = S.srp_sigs(
        np.array(vecs, dtype=np.float64), S.srp_plane_matrix(S.TOPK_TABLES)
    )
    buckets: dict[tuple[int, int], list[int]] = {}
    for i in range(len(ids)):
        for t in range(S.TOPK_TABLES):
            buckets.setdefault((t, int(sigs[i, t])), []).append(i)
    norms = [_fold_norm(v) for v in vecs]
    rows: list[tuple[int, int, float, int]] = []
    for qi, qid in enumerate(ids):
        if qid >= S.TOPK_QUERIES:
            continue
        cand: set[int] = set()
        for t in range(S.TOPK_TABLES):
            s = int(sigs[qi, t])
            for p in [s] + [s ^ (1 << b) for b in range(S.SRP_PLANES)]:
                cand.update(buckets.get((t, p), ()))
        cand.discard(qi)
        rows.extend(_topk_rows(ids, vecs, norms, qi, cand))
    return _write_topk(path, rows)


def oracle_ivf_topk_path(sf_dir: str) -> str:
    fp = _fp(
        {
            "seed": S.SRP_SEED, "k": S.TOPK_K, "q": S.TOPK_QUERIES,
            "cent": S.IVF_CENTROIDS, "probe": S.IVF_PROBE,
            "train": S.IVF_TRAIN_SAMPLE, "iters": S.IVF_KMEANS_ITERS,
        }
    )
    return os.path.join(corpus_dir(sf_dir), f"oracle_ivf_topk_{fp}.parquet")


def ensure_oracle_ivf_topk(sf_dir: str) -> str:
    """Single-process IVF top-k ground truth: trains centroids with the SAME
    BLAS-free similarity.ivf_train (bit-identical doubles), then replays
    assignment / probe / re-rank with left-fold dot products matching Spark's
    F.aggregate expression order."""
    path = oracle_ivf_topk_path(sf_dir)
    if os.path.exists(path):
        return path
    ids, vecs = _load_embeddings(sf_dir)
    order = sorted(range(len(ids)), key=lambda i: ids[i])[: S.IVF_TRAIN_SAMPLE]
    sample = np.array([vecs[i] for i in order], dtype=np.float64)
    cent = S.ivf_train(sample, S.IVF_CENTROIDS)
    centl = [[float(v) for v in c] for c in cent]

    # assignment: first-index-of-max == array_position(dots, array_max(dots))
    cells: dict[int, list[int]] = {}
    dots_all = [[_fold_dot(v, c) for c in centl] for v in vecs]
    for i, d in enumerate(dots_all):
        cells.setdefault(d.index(max(d)), []).append(i)
    norms = [_fold_norm(v) for v in vecs]
    rows: list[tuple[int, int, float, int]] = []
    for qi, qid in enumerate(ids):
        if qid >= S.TOPK_QUERIES:
            continue
        d = dots_all[qi]
        probed = sorted(range(S.IVF_CENTROIDS), key=lambda c: (-d[c], c))
        cand: set[int] = set()
        for c in probed[: S.IVF_PROBE]:
            cand.update(cells.get(c, ()))
        cand.discard(qi)
        rows.extend(_topk_rows(ids, vecs, norms, qi, cand))
    return _write_topk(path, rows)
