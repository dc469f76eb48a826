"""Checks every M9 sequence encoder must pass (ml/encoder.py):
gradient exactness, training determinism, the reference's own
acceptance check (OOF beats the physics baseline, main_cuda.py:
1389-1401 / nn-mps.py:874-988), and a bitwise save/load round-trip.
Each encoder's test module calls them with its own settings."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from nfl26_bigdatabowl_prediction_spark.ml import encoder
from nfl26_bigdatabowl_prediction_spark.ml.encoder import Layout, SeqModel
from nfl26_bigdatabowl_prediction_spark.ml.folds import with_fold


def check_gradient(lay: Layout, eps: float, samples: int,
                   noise: float = 0.1, rows: int = 6) -> None:
    # Full-path gradient check (encoder body + attention softmax +
    # cumsum head) against central differences on a random parameter
    # subset.
    rng = np.random.default_rng(0)
    flat = lay.init(1) + rng.normal(0, noise, lay.n_params)
    X = rng.normal(size=(rows, lay.cfg.window, lay.f))
    dt = np.array([1, 2, 3, 4, 2, 3])[:rows]
    y = rng.normal(size=(rows, 2))

    def loss(fl):
        pred, _ = lay.forward(lay.unpack(fl), X, dt)
        e = pred - y
        return 0.5 * (e * e).sum()

    p = lay.unpack(flat)
    pred, cache = lay.forward(p, X, dt)
    g = lay.backward(p, cache, pred - y)
    ga = np.concatenate([g[n].ravel() for n, _ in lay.sizes()])
    for i in rng.choice(lay.n_params, samples, replace=False):
        fp = flat.copy()
        fp[i] += eps
        fm = flat.copy()
        fm[i] -= eps
        num = (loss(fp) - loss(fm)) / (2 * eps)
        rel = abs(num - ga[i]) / max(1e-8, abs(num) + abs(ga[i]))
        assert rel < 1e-5, (i, num, ga[i])


def check_deterministic(spark, cfg) -> None:
    # bitwise-identical parameters from two identical runs: seeded
    # init, full-batch gradients, float64 end-to-end.
    rng = np.random.default_rng(5)
    n, w, f = 60, cfg.window, 2
    pdf = pd.DataFrame(
        {
            "gid": np.arange(n),
            "x_seq": [rng.normal(size=w * f).tolist() for _ in range(n)],
            "res_x": rng.normal(size=n),
            "res_y": rng.normal(size=n),
            "delta_t": rng.choice([0.1, 0.3, 0.5], size=n),
        }
    )
    df = with_fold(spark.createDataFrame(pdf), ["gid"], k=3)
    m1 = encoder.train(df, ["a", "b"], k=3, cfg=cfg)
    m2 = encoder.train(df, ["a", "b"], k=3, cfg=cfg)
    for key in m1.params:
        assert (m1.params[key] == m2.params[key]).all()


def check_beats_baseline(result, prefix: str, anchor: float) -> None:
    # the distributed-Adam encoder must beat the constant-velocity
    # baseline out-of-fold on the tracking fixture by ``anchor``×.
    assert result.rmse_encoder * anchor < result.rmse_baseline, (
        result.rmse_encoder, result.rmse_baseline,
    )
    pred = result.predictions
    assert pred.filter(
        F.col(f"{prefix}_pred_x").isNull() | F.isnan(f"{prefix}_pred_x")
    ).count() == 0


def check_save_load(tmp_path, cfg) -> None:
    # S5 parity: bitwise param round-trip
    lay = Layout(2, cfg)
    m = SeqModel(["a", "b"], lay)
    m.params = {-1: lay.init(1), 0: lay.init(2), 1: lay.init(3)}
    m.mu = np.array([0.5, -1.0])
    m.sd = np.array([2.0, 3.0])
    encoder.save(m, str(tmp_path / "m"))
    m2 = encoder.load(str(tmp_path / "m"))
    assert m2.feature_cols == ["a", "b"]
    assert m2.layout == lay
    for k in m.params:
        assert (m2.params[k] == m.params[k]).all()
    assert (m2.mu == m.mu).all() and (m2.sd == m.sd).all()
