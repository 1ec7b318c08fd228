"""Encoder zoo variants — the reference's pluggable torch model zoo
(/root/reference/model/img2seq_torch.py:69-83) re-expressed as seq2seq
encoder variants over the shared numpy conv kernels:

  simple_cnn — conv→batchnorm→leaky_relu→maxpool stacks
               (/root/reference/model/components/SimpleCNN.py:10-36)
  resnet9    — stem + 4 BasicBlock stages (two 3×3 convs + identity/1×1-proj
               skip per block), torchvision ResNet(BasicBlock, [1,1,1,1])
               (/root/reference/model/components/ResNet.py:8-13)
  densenet   — one dense block (concat growth layers) + 1×1 transition,
               the densenet169 alias's core connectivity pattern
               (/root/reference/model/components/DenseNet.py:3)

The reference uses these as image classifiers (fc head); here each variant
keeps a spatial (N,H',W',C) output with C = conv_channels[-1] so the same
attention decoder consumes any variant — the zoo is config-selected exactly
like the reference's ``getModel(model_name)``. Inference-mode batchnorm uses
seeded frozen statistics (no trained checkpoint ships with the reference).
All variant weights are drawn AFTER the base rng stream (weights.py) so
enabling a variant never changes base golden outputs.
"""

from __future__ import annotations

import numpy as np

from ..config import ModelConfig
from .encoder import _pad_same, conv2d, max_pool
from .image_ops import normalize


def leaky_relu(x: np.ndarray, alpha: float = 0.01) -> np.ndarray:
    return np.where(x >= 0, x, alpha * x).astype(np.float32)


def batchnorm(x: np.ndarray, w: dict, name: str, eps: float = 1e-5) -> np.ndarray:
    """Inference-mode batchnorm with frozen (seeded) statistics."""
    inv = w[f"{name}_gamma"] / np.sqrt(w[f"{name}_var"] + eps)
    return ((x - w[f"{name}_mean"]) * inv + w[f"{name}_beta"]).astype(np.float32)


def encode_simple_cnn(
    batch_u8: np.ndarray, w: dict, cfg: ModelConfig
) -> np.ndarray:
    """SimpleCNN.forward minus the classifier head: five
    conv→bn→leaky_relu→pool stages, stopping while the feature map is still
    spatial (the reference avg-pools to 1×1 for its fc head; a seq2seq
    encoder needs regions). Pooling is applied only while H,W ≥ 2 so narrow
    formula strips never collapse to zero size."""
    x = normalize(batch_u8)[:, :, :, None]
    for i in range(5):
        x = conv2d(x, w[f"scnn{i}_W"], w[f"scnn{i}_b"], "SAME")
        x = leaky_relu(batchnorm(x, w, f"scnn_bn{i}"))
        if i < 3 and x.shape[1] >= 2 and x.shape[2] >= 2:
            x = max_pool(x, (2, 2), (2, 2))
    return x


def _basic_block(x: np.ndarray, w: dict, name: str) -> np.ndarray:
    """torchvision BasicBlock: conv-bn-relu-conv-bn + skip, relu after add;
    1×1 projection on the skip when channel counts differ."""
    y = conv2d(x, w[f"{name}_c1_W"], w[f"{name}_c1_b"], "SAME")
    y = np.maximum(batchnorm(y, w, f"{name}_bn1"), 0.0)
    y = conv2d(y, w[f"{name}_c2_W"], w[f"{name}_c2_b"], "SAME")
    y = batchnorm(y, w, f"{name}_bn2")
    if x.shape[-1] != y.shape[-1]:
        x = conv2d(x, w[f"{name}_proj_W"], w[f"{name}_proj_b"], "SAME")
    return np.maximum(y + x, 0.0).astype(np.float32)


def encode_resnet9(batch_u8: np.ndarray, w: dict, cfg: ModelConfig) -> np.ndarray:
    """ResNet(BasicBlock, [1,1,1,1]): stem conv+bn+relu+pool, then one basic
    block per stage with channel doubling; stage downsampling via 2×2 maxpool
    while the map is large enough."""
    x = normalize(batch_u8)[:, :, :, None]
    x = conv2d(x, w["rn_stem_W"], w["rn_stem_b"], "SAME")
    x = np.maximum(batchnorm(x, w, "rn_stem_bn"), 0.0)
    x = max_pool(x, (2, 2), (2, 2))
    for s in range(4):
        if 0 < s < 3 and x.shape[1] >= 2 and x.shape[2] >= 2:
            x = max_pool(x, (2, 2), (2, 2))
        x = _basic_block(x, w, f"rn_b{s}")
    return x


def encode_densenet(batch_u8: np.ndarray, w: dict, cfg: ModelConfig) -> np.ndarray:
    """One dense block: each growth layer sees the CONCAT of all previous
    feature maps (the densenet connectivity), then a 1×1 transition conv maps
    to conv_channels[-1] for the decoder."""
    x = normalize(batch_u8)[:, :, :, None]
    x = conv2d(x, w["dn_stem_W"], w["dn_stem_b"], "SAME")
    x = np.maximum(batchnorm(x, w, "dn_stem_bn"), 0.0)
    x = max_pool(x, (2, 2), (2, 2))
    for i in range(3):
        g = conv2d(x, w[f"dn_g{i}_W"], w[f"dn_g{i}_b"], "SAME")
        g = np.maximum(batchnorm(g, w, f"dn_bn{i}"), 0.0)
        x = np.concatenate([x, g], axis=-1)
    if x.shape[1] >= 2 and x.shape[2] >= 2:
        x = max_pool(x, (2, 2), (2, 2))
    x = conv2d(x, w["dn_trans_W"], w["dn_trans_b"], "SAME")
    return np.maximum(x, 0.0).astype(np.float32)


ZOO = {
    "simple_cnn": encode_simple_cnn,
    "resnet9": encode_resnet9,
    "densenet": encode_densenet,
}
