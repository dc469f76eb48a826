"""M9 second-encoder tests: the numpy CNN+BiLSTM + attention-pooling
sequence learner (ml/bilstm.py, re-expressing nn/nn-lstm.py:530-632)
on the shared encoder lifecycle (ml/encoder.py) — gradient exactness,
training determinism, the reference's own acceptance check (OOF
beats the physics baseline) and direction sensitivity.
"""

from __future__ import annotations

import numpy as np

from nfl26_bigdatabowl_prediction_spark.ml.bilstm import BiLstmConfig
from nfl26_bigdatabowl_prediction_spark.ml.encoder import Layout

from .encoder_checks import (
    check_beats_baseline,
    check_deterministic,
    check_gradient,
    check_save_load,
)


def test_bilstm_backward_matches_numerical_gradient():
    # conv front end + residual + two-direction LSTM BPTT
    lay = Layout(3, BiLstmConfig(window=4, hidden=4, conv=3, attn=3,
                                 max_horizon=4))
    check_gradient(lay, eps=1e-5, samples=120)


def test_bilstm_is_direction_sensitive():
    # a bidirectional encoder must see order: reversing the window
    # changes the prediction (a pure pooling model would not)
    lay = Layout(2, BiLstmConfig(window=5, hidden=4, conv=3, attn=3,
                                 max_horizon=4))
    p = lay.unpack(lay.init(3))
    X = np.random.default_rng(1).normal(size=(4, 5, 2))
    dt = np.array([4, 4, 4, 4])
    p1, _ = lay.forward(p, X, dt)
    p2, _ = lay.forward(p, X[:, ::-1, :].copy(), dt)
    assert not np.allclose(p1, p2)


def test_bilstm_training_is_deterministic(spark):
    check_deterministic(spark, BiLstmConfig(window=4, hidden=4, conv=3,
                                            attn=3, max_horizon=6,
                                            epochs=3, partitions=2))


def test_bilstm_beats_physics_baseline(trained_encoders):
    # M9 second encoder (SURVEY §2.10).  Measured at the fixture
    # config (horizon_decay=0.9): 2.142 vs 2.887 (between the ridge
    # 2.261 and the GRU 1.945 — consistent with the reference keeping
    # all three encoders).
    check_beats_baseline(trained_encoders["bilstm"], "bilstm", 1.25)


def test_bilstm_save_load_roundtrip(tmp_path):
    check_save_load(tmp_path, BiLstmConfig(window=3, hidden=4, conv=3,
                                           attn=3, max_horizon=5))
