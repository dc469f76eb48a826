"""True recurrent sequence learner — SURVEY §2.10 M9, closed.

The reference's M9 is a GRU encoder with attention pooling and a
cumulative-sum horizon head trained under a temporal Huber loss
(nn/nn-mps.py:689-758 SeqModel: GRU → attention pooling → head →
``torch.cumsum(out, dim=1)``; :668-686 TemporalHuber).  Round 2
closed the *dataflow* with a normal-equation ridge (ml/seqreg.py);
this module closes the *learner*: the body of a from-scratch numpy
GRU with the same architecture shape —

    x_seq (W×f) → GRUCell (torch gate order r,z,n; h' = (1−z)·n + z·h)

— whose hidden states feed the shared attention pooling + cumsum head
and the synchronous data-parallel Adam trainer in ml/encoder.py (the
distributed dataflow and its scale notes are documented there).

Scaled to the fixture: hidden width 12 (reference 128) — the
architecture SHAPE, not the capacity.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar

import numpy as np

from .encoder import Encoder, Sizes, head_sizes


def _sizes(f: int, cfg: GruConfig) -> Sizes:
    h = cfg.hidden
    return [
        ("W_ih", (3 * h, f)), ("W_hh", (3 * h, h)),
        ("b_ih", (3 * h,)), ("b_hh", (3 * h,)),
        *head_sizes(h, cfg),
    ]


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60, 60)))


def _forward(
    p: dict[str, np.ndarray], X: np.ndarray, cfg: GruConfig,
) -> tuple[np.ndarray, dict]:
    """X: (n, W, f).  Returns the hidden states H (n, W, h) and the
    cache for backward."""
    n, Wn, _ = X.shape
    h = cfg.hidden
    hs = np.zeros((n, h))
    cache_t = []
    H = np.empty((n, Wn, h))
    for t in range(Wn):
        gi = X[:, t, :] @ p["W_ih"].T + p["b_ih"]
        gh = hs @ p["W_hh"].T + p["b_hh"]
        r = _sigmoid(gi[:, :h] + gh[:, :h])
        z = _sigmoid(gi[:, h : 2 * h] + gh[:, h : 2 * h])
        nn = np.tanh(gi[:, 2 * h :] + r * gh[:, 2 * h :])
        h_new = (1.0 - z) * nn + z * hs
        cache_t.append((hs, r, z, nn, gh[:, 2 * h :]))
        hs = h_new
        H[:, t, :] = hs
    return H, {"X": X, "cache_t": cache_t}


def _backward(
    p: dict[str, np.ndarray], cache: dict, dH: np.ndarray, g: dict,
    cfg: GruConfig,
) -> None:
    """GRU BPTT from ∂loss/∂H (n, W, h); accumulates into g."""
    X = cache["X"]
    n, Wn, _ = X.shape
    h = cfg.hidden
    dh_next = np.zeros((n, h))
    for t in range(Wn - 1, -1, -1):
        dh = dH[:, t, :] + dh_next
        h_prev, r, z, nn, ghn = cache["cache_t"][t]
        dz = dh * (h_prev - nn)
        dnn = dh * (1.0 - z)
        dh_prev = dh * z
        da_n = dnn * (1.0 - nn * nn)           # pre-tanh of n gate
        dr = da_n * ghn
        da_r = dr * r * (1.0 - r)
        da_z = dz * z * (1.0 - z)
        dgi = np.concatenate([da_r, da_z, da_n], axis=1)          # (n, 3h)
        dgh = np.concatenate([da_r, da_z, da_n * r], axis=1)
        g["W_ih"] += dgi.T @ X[:, t, :]
        g["b_ih"] += dgi.sum(axis=0)
        g["W_hh"] += dgh.T @ h_prev
        g["b_hh"] += dgh.sum(axis=0)
        dh_next = dh_prev + dgh @ p["W_hh"]


@dataclass
class GruConfig:
    window: int = 8          # last-W frames (nn-mps.py:616)
    hidden: int = 12         # GRU width (reference uses 128; scaled to fixture)
    attn: int = 8            # attention-pooling projection width
    max_horizon: int = 16    # head emits this many per-0.1s-step increments
    lr: float = 0.05
    epochs: int = 60         # OOF optimum on the tracking fixture:
                             # 60 ep → 1.945, 120 ep → 2.121 (overfit)
    huber_delta: float = 1.0  # TemporalHuber's delta
    horizon_decay: float | None = None  # row weight = decay ** delta_t
    seed: int = 7
    partitions: int = 8      # gradient-scan parallelism at test scale

    encoder: ClassVar[Encoder] = Encoder("rnn", _sizes, _forward, _backward)
