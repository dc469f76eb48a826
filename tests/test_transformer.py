"""M9 third-encoder tests: the numpy spatio-temporal transformer
(ml/transformer.py, re-expressing nn/nn-transformer.py:558-750's
feature-as-token STTransformer) on the shared encoder lifecycle
(ml/encoder.py) — gradient exactness, training determinism, the
reference's own acceptance check (OOF beats the physics baseline)
and cross-feature attention.
"""

from __future__ import annotations

import numpy as np

from nfl26_bigdatabowl_prediction_spark.ml.encoder import Layout
from nfl26_bigdatabowl_prediction_spark.ml.transformer import TransformerConfig

from .encoder_checks import (
    check_beats_baseline,
    check_deterministic,
    check_gradient,
    check_save_load,
)


def test_transformer_backward_matches_numerical_gradient():
    # feature tokenizer + spatial and temporal attention blocks.
    # eps=1e-4: several token-embedding gradients are ~1e-6, where
    # 1e-5 differences sit at float64 roundoff (verified exact at
    # larger eps).
    lay = Layout(3, TransformerConfig(window=4, d_model=6, ffn=8, attn=3,
                                      max_horizon=4))
    check_gradient(lay, eps=1e-4, samples=150, noise=0.05, rows=5)


def test_transformer_attends_across_features():
    # the spatial stage must couple features within a timestep:
    # perturbing feature 0 changes the [CLS]-routed contribution of
    # other features, so the prediction shift differs from the sum of
    # per-feature shifts (a per-feature-linear tokenizer alone would
    # be additive)
    lay = Layout(3, TransformerConfig(window=3, d_model=6, ffn=8, attn=3,
                                      max_horizon=4))
    p = lay.unpack(lay.init(3) + 0.3 * np.random.default_rng(4).normal(
        size=lay.n_params))
    rng = np.random.default_rng(1)
    X = rng.normal(size=(4, 3, 3))
    dt = np.array([4, 4, 4, 4])
    base, _ = lay.forward(p, X, dt)
    Xa = X.copy(); Xa[:, :, 0] += 1.0
    Xb = X.copy(); Xb[:, :, 1] += 1.0
    Xab = X.copy(); Xab[:, :, 0] += 1.0; Xab[:, :, 1] += 1.0
    pa, _ = lay.forward(p, Xa, dt)
    pb, _ = lay.forward(p, Xb, dt)
    pab, _ = lay.forward(p, Xab, dt)
    assert not np.allclose((pa - base) + (pb - base), pab - base, atol=1e-10)


def test_transformer_training_is_deterministic(spark):
    check_deterministic(spark, TransformerConfig(window=4, d_model=4, ffn=6,
                                                 attn=3, max_horizon=6,
                                                 epochs=3, partitions=2))


def test_transformer_beats_physics_baseline(trained_encoders):
    # M9 third encoder (SURVEY §2.10).  Measured at the fixture
    # config (horizon_decay=0.9): 2.365 vs 2.887 (the attention
    # encoder trails the recurrent ones on this small fixture — 120
    # epochs already overfits to 2.645 — but clears the reference's
    # own acceptance bar).  Trained via the session-scoped fixture so the ~110 s
    # training is shared with any other consumer.
    check_beats_baseline(trained_encoders["transformer"], "stt", 1.15)


def test_transformer_save_load_roundtrip(tmp_path):
    check_save_load(tmp_path, TransformerConfig(window=3, d_model=4, ffn=6,
                                                attn=3, max_horizon=5))
