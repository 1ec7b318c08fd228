"""Engine configuration.

Mirrors the reference's JSON configs (values cited):
  - bucket table / max formula length: /root/reference/configs/data.json
  - model dims + decoding mode:        /root/reference/configs/model.json
  - special-token names:               /root/reference/configs/vocab.json

The reference merges free-form JSON dicts into an attribute namespace
(/root/reference/model/utils/general.py:88-120, later keys silently override).
We replace that with an explicit frozen dataclass — fail-fast, serializable,
broadcast-friendly.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
from typing import ClassVar

# Reference bucket table: configs/data.json "buckets" (width, height).
# get_new_size picks the FIRST bucket with w_b >= w and h_b >= h
# (/root/reference/model/utils/image.py:103-123); fallback = original size.
BUCKETS: list[tuple[int, int]] = [
    (240, 100), (320, 80), (400, 80), (400, 100), (480, 80), (480, 100),
    (560, 80), (560, 100), (640, 80), (640, 100), (720, 80), (720, 100),
    (720, 120), (720, 200), (800, 100), (800, 320), (1000, 200),
    (1000, 400), (1200, 200), (1600, 200), (1600, 1600),
]

# Special tokens appended after the base vocab, in this order
# (/root/reference/model/utils/text.py:59-62 via configs/vocab.json).
TOK_UNK = "_UNK"
TOK_PAD = "_PAD"
TOK_END = "_END"
SPECIALS = [TOK_UNK, TOK_PAD, TOK_END]

# Pad size top/left/bottom/right (/root/reference/model/utils/image.py:84-100).
PAD_SIZE = (8, 8, 8, 8)

# Downsample ratio (reference build pipeline, model/utils/image.py:150-161;
# we use the every-2nd-pixel variant, model/utils/image.py:74-81).
DOWN_RATIO = 2


@dataclass(frozen=True)
class ModelConfig:
    """Architecture hyperparameters.

    ``reference()`` returns the published dims (configs/model.json); tests and
    the bench use ``small()`` — the *architecture* (6-conv encoder, 2-D
    positional signal, attention LSTM, greedy/beam decode) is identical, only
    the dims shrink, exactly as the reference treats dims as config.
    """

    # encoder conv channels, reference: 64,128,256,256,512,512
    # (/root/reference/model/encoder.py:31-57)
    conv_channels: tuple[int, ...] = (64, 128, 256, 256, 512, 512)
    encoder_cnn: str = "vanilla"          # "vanilla" | "cnn" variant flag
    positional_embeddings: bool = True
    # attention cell dims (configs/model.json attn_cell_config)
    num_units: int = 512                  # LSTM hidden
    dim_e: int = 256                      # attention intermediate
    dim_o: int = 512                      # output projection
    dim_embeddings: int = 80
    cell_type: str = "lstm"               # "lstm" | "gru" (attn_cell_config.cell_type)
    decoding: str = "greedy"              # "greedy" | "beam_search"
    beam_size: int = 2
    div_gamma: float = 1.0
    div_prob: float = 0.0
    max_length_formula: int = 150         # decode cap = max_length_formula + 1
    weights_seed: int = 20260816

    @staticmethod
    def reference() -> "ModelConfig":
        return ModelConfig()

    @staticmethod
    def small(decoding: str = "greedy") -> "ModelConfig":
        """Small deterministic profile for tests/bench (same architecture)."""
        return ModelConfig(
            conv_channels=(8, 16, 32, 32, 64, 64),
            num_units=64,
            dim_e=32,
            dim_o=64,
            dim_embeddings=16,
            decoding=decoding,
            beam_size=2,
            max_length_formula=24,
        )

    @staticmethod
    def bench(decoding: str = "greedy") -> "ModelConfig":
        """Benchmark profile: sized so decode compute dominates scheduling
        overhead at sf0.1 (≈25× the small profile), a faithful stand-in for
        the reference's published dims on a per-core-throughput basis."""
        return ModelConfig(
            conv_channels=(32, 64, 128, 128, 256, 256),
            num_units=256,
            dim_e=128,
            dim_o=256,
            dim_embeddings=48,
            decoding=decoding,
            beam_size=2,
            max_length_formula=48,
        )

    def to_dict(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict) -> "ModelConfig":
        d = dict(d)
        d["conv_channels"] = tuple(d["conv_channels"])
        return ModelConfig(**d)


@dataclass(frozen=True)
class PipelineConfig:
    """Distributed-execution knobs (the part the reference doesn't have)."""

    buckets: tuple[tuple[int, int], ...] = tuple(BUCKETS)
    # Not a field: no engine code reads it. It survives only because
    # perfbench/layers.py's kernel replay still batches by the retired
    # (bucket, salt) key; it goes when that replay moves to shape_batches
    # (ROADMAP item 1).
    salt_buckets: ClassVar[int] = 128
    # max pixels per numpy batch inside the model UDF; bounds UDF memory
    # independent of Arrow record count (reference pads whole minibatches,
    # model/utils/image.py:27-44 — we bound by pixel budget instead).
    # 120k holds 20 canvases of the most common 50×120 shape. Measured on a
    # 4-core AVX-512 host (bench profile, one OpenBLAS SkylakeX thread),
    # encode is flat at 7.9–8.9 ms per image for batches of 8–112 such
    # canvases, and decode costs 4.5 / 3.6 / 3.9 / 4.3 ms per image at
    # batches of 16 / 32 / 64 / 112: a larger budget buys little and costs
    # memory, while far larger (4 MP) batches allocate ~100 MB im2col
    # buffers per conv call.
    batch_pixel_budget: int = 120_000
    # docs-table partition count for the synthetic corpus
    n_parts: int = 16
