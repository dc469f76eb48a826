"""Sequence-encoder lifecycle shared by the three M9 encoders — SURVEY
§2.10 M9.

The reference ships one window pipeline around three models
(nn/nn-mps.py, nn-lstm.py, nn-transformer.py: "same pipeline,
different model").  This module is that pipeline, written once:

    x_seq (W×f) → encoder body (ml/rnn.py GRU, ml/bilstm.py CNN+BiLSTM,
                  ml/transformer.py spatio-temporal attention) → H (n, W, h)
                → tanh attention pooling (softmax over time)
                → linear head emitting per-step increments
                → cumsum over the horizon axis → residual at Δt

— trained under the reference's TemporalHuber loss (nn-mps.py:668-686)
by SYNCHRONOUS DATA-PARALLEL full-batch Adam.  Each epoch is ONE
distributed scan: executors compute per-partition loss gradients for
ALL K leave-one-fold-out models plus the pooled model against
broadcast parameters (the gradient of a sum decomposes over rows, so
partials sum associatively — the same posexplode → groupBy(model, pos)
→ sum reduce as seqreg's Gram pass), and only (K+1)·P scalars reach
the driver, which applies the Adam update.

An encoder is an ``Encoder`` spec — its parameter list and the
forward/backward of its body — named by its config type, so
``train_and_predict(inp, out, GruConfig())`` picks the GRU.

Scale notes (the 100 TB shape):
- This is exactly how synchronous distributed SGD works on any
  data-parallel framework: broadcast params, all-reduce gradients.
  Spark's shuffle-reduce stands in for the all-reduce ring; at
  cluster scale you would raise the batch (it is already full-batch)
  and overlap epochs with barrier-mode scheduling, but the dataflow
  is unchanged.
- Window prep stays pure JVM (ml/seqreg.window_matrix); Python only
  touches Arrow batches inside the gradient kernel.
- All K+1 models train in the SAME pass (rows forward once per
  model), so K-fold training costs K× executor FLOPs but 1× scans —
  scans, not FLOPs, are the scarce resource at 100 TB.

Everything is float64 and deterministically seeded: two runs produce
bitwise-identical models.
"""

from __future__ import annotations

import dataclasses
import importlib
import json
import os
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.features import TRAJECTORY_KEY, advanced_features, build_training_rows, clip
from .folds import with_fold
from .scoring import score
from .seqreg import DEFAULT_SEQ_FEATURES, window_matrix

Sizes = list[tuple[str, tuple[int, ...]]]


@dataclass(frozen=True)
class Encoder:
    """What differs between encoders; each config type names its own
    as the class attribute ``encoder``.  ``sizes(f, cfg)`` lists every
    parameter in flat-vector order (ending with ``head_sizes``);
    ``forward(p, X, cfg)`` returns (H (n, W, h), cache) and
    ``backward(p, cache, dH, g, cfg)`` adds the body's gradients to g."""

    prefix: str              # output columns {prefix}_pred_x / _pred_y
    sizes: Callable[[int, Any], Sizes]
    forward: Callable
    backward: Callable
    small_init: tuple[str, ...] = ()  # drawn from N(0, 0.02), not Glorot


@dataclass(frozen=True)
class Layout:
    """One encoder's flat parameter vector at input width f."""

    f: int
    cfg: Any  # an encoder config; type(cfg).encoder is its Encoder

    def sizes(self) -> Sizes:
        return self.cfg.encoder.sizes(self.f, self.cfg)

    @property
    def n_params(self) -> int:
        return sum(int(np.prod(s)) for _, s in self.sizes())

    def unpack(self, flat: np.ndarray) -> dict[str, np.ndarray]:
        out, pos = {}, 0
        for name, shape in self.sizes():
            n = int(np.prod(shape))
            out[name] = flat[pos : pos + n].reshape(shape)
            pos += n
        return out

    def init(self, seed: int) -> np.ndarray:
        """Glorot-ish deterministic init (seeded PCG64), zero biases;
        the encoder's ``small_init`` parameters (the transformer's token
        embeddings — the reference uses 0.01/0.02) draw from N(0, 0.02)."""
        rng = np.random.default_rng(seed)
        parts = []
        for name, shape in self.sizes():
            if name.startswith("b"):
                parts.append(np.zeros(shape))
            else:
                scale = (0.02 if name in self.cfg.encoder.small_init
                         else np.sqrt(2.0 / sum(shape[:2])))
                parts.append(rng.normal(0.0, scale, size=shape).ravel())
        return np.concatenate(parts)

    def forward(
        self, p: dict[str, np.ndarray], X: np.ndarray, dt: np.ndarray,
    ) -> tuple[np.ndarray, tuple]:
        """X: (n, W, f); dt: (n,) int horizons ≥1.  Returns pred (n, 2)
        and the cache for backward."""
        H, body = self.cfg.encoder.forward(p, X, self.cfg)
        pred, head = _head_forward(p, H, dt, self.cfg.max_horizon)
        return pred, (body, head)

    def backward(
        self, p: dict[str, np.ndarray], cache: tuple, dpred: np.ndarray,
    ) -> dict[str, np.ndarray]:
        """Gradient of Σ loss w.r.t. every parameter; dpred is
        ∂loss/∂pred (n, 2)."""
        body, head = cache
        g = {k: np.zeros_like(v) for k, v in p.items()}
        dH = _head_backward(p, head, dpred, g)
        self.cfg.encoder.backward(p, body, dH, g, self.cfg)
        return g


def head_sizes(h: int, cfg) -> Sizes:
    """Attention pooling over an H of width h, then the per-step
    increment head (cumsum outside)."""
    a, m = cfg.attn, cfg.max_horizon
    return [("Wa", (h, a)), ("ba", (a,)), ("va", (a,)),
            ("Wo", (h, 2 * m)), ("bo", (2 * m,))]


def _head_forward(
    p: dict[str, np.ndarray], H: np.ndarray, dt: np.ndarray, m: int,
) -> tuple[np.ndarray, dict]:
    n = H.shape[0]
    # attention pooling: s_t = tanh(h_t Wa + ba) · va, α = softmax_t
    U = np.tanh(H @ p["Wa"] + p["ba"])          # (n, W, A)
    S = U @ p["va"]                              # (n, W)
    S = S - S.max(axis=1, keepdims=True)
    E = np.exp(S)
    alpha = E / E.sum(axis=1, keepdims=True)     # (n, W)
    c = np.einsum("nw,nwh->nh", alpha, H)        # (n, h)
    out = c @ p["Wo"] + p["bo"]                  # (n, 2m) per-step increments
    inc = out.reshape(n, m, 2)
    # cumsum head: prediction at Δt = sum of the first Δt increments
    dtc = np.minimum(dt, m)
    mask = (np.arange(m)[None, :] < dtc[:, None]).astype(np.float64)
    pred = np.einsum("nm,nmc->nc", mask, inc)    # (n, 2)
    return pred, {"H": H, "U": U, "alpha": alpha, "c": c, "mask": mask}


def _head_backward(
    p: dict[str, np.ndarray], cache: dict, dpred: np.ndarray, g: dict,
) -> np.ndarray:
    """Fills g's head gradients; returns ∂loss/∂H."""
    H, U, alpha, c, mask = (
        cache["H"], cache["U"], cache["alpha"], cache["c"], cache["mask"],
    )
    n = H.shape[0]
    # head (cumsum → linear)
    dinc = mask[:, :, None] * dpred[:, None, :]           # (n, m, 2)
    dout = dinc.reshape(n, -1)
    g["Wo"] = c.T @ dout
    g["bo"] = dout.sum(axis=0)
    dc = dout @ p["Wo"].T                                  # (n, h)
    # attention pooling backward
    dalpha = np.einsum("nh,nwh->nw", dc, H)                # (n, W)
    dH = alpha[:, :, None] * dc[:, None, :]                # (n, W, h)
    dS = alpha * (dalpha - (alpha * dalpha).sum(axis=1, keepdims=True))
    dU = dS[:, :, None] * p["va"][None, None, :]           # (n, W, A)
    dpre = dU * (1.0 - U * U)                              # tanh'
    g["va"] = np.einsum("nw,nwa->a", dS, U)
    g["Wa"] = np.einsum("nwh,nwa->ha", H, dpre)
    g["ba"] = dpre.sum(axis=(0, 1))
    dH += dpre @ p["Wa"].T
    return dH


@dataclass
class SeqModel:
    feature_cols: list[str]
    layout: Layout
    # model id -> flat params; -1 is the pooled (all-rows) model
    params: dict[int, np.ndarray] = field(default_factory=dict)
    # per-feature standardization (computed once, Spark-side); raw
    # yard-scale inputs into a tanh/sigmoid cell saturate the gates
    mu: np.ndarray | None = None
    sd: np.ndarray | None = None


@dataclass
class SeqTrainResult:
    predictions: DataFrame
    rmse_baseline: float
    rmse_encoder: float


def _horizon_steps(delta_t: pd.Series) -> np.ndarray:
    # delta_t is SECONDS at 10 fps → horizon index in frame steps
    # (the cumsum head emits one increment per 0.1 s step)
    return np.maximum(
        1, np.rint(delta_t.to_numpy(np.float64) * 10.0).astype(np.int64)
    )


def _loss_grad_pack(
    params: dict[int, np.ndarray], pdf: pd.DataFrame, lay: Layout,
    mu: np.ndarray, sd: np.ndarray,
) -> list[tuple[int, list[float]]]:
    """Per-model [grad..., loss_sum, weight_sum] pack for one Arrow
    batch.  Model m trains on rows with fold != m; model −1 on all."""
    cfg = lay.cfg
    X = np.array(pdf["x_seq"].tolist(), dtype=np.float64).reshape(
        len(pdf), cfg.window, lay.f
    )
    X = (X - mu) / sd
    dt = _horizon_steps(pdf["delta_t"])
    y = np.stack(
        [pdf["res_x"].to_numpy(np.float64), pdf["res_y"].to_numpy(np.float64)],
        axis=1,
    )
    w = np.ones(len(pdf))
    if cfg.horizon_decay is not None:
        w = cfg.horizon_decay ** dt.astype(np.float64)
    fold = pdf["fold"].to_numpy(np.int64)
    delta = cfg.huber_delta
    rows = []
    for m, flat in params.items():
        sel = np.ones(len(pdf), dtype=bool) if m < 0 else (fold != m)
        if not sel.any():
            continue
        p = lay.unpack(flat)
        pred, cache = lay.forward(p, X[sel], dt[sel])
        e = pred - y[sel]
        ae = np.abs(e)
        # Huber: ½e² below delta, δ(|e| − ½δ) above (TemporalHuber core)
        l = np.where(ae <= delta, 0.5 * e * e, delta * (ae - 0.5 * delta))
        dl = np.where(ae <= delta, e, delta * np.sign(e))
        ws = w[sel][:, None]
        g = lay.backward(p, cache, dl * ws)
        flatg = np.concatenate([g[name].ravel() for name, _ in lay.sizes()])
        rows.append(
            (int(m), np.concatenate([flatg, [(l * ws).sum(), 2.0 * ws.sum()]]).tolist())
        )
    return rows


def train(
    train_df: DataFrame, feature_cols: list[str], k: int, cfg,
) -> SeqModel:
    """Synchronous data-parallel Adam fit of the encoder ``cfg`` picks.
    Expects columns fold, x_seq (array<double>, len W·f), res_x, res_y,
    delta_t.  Trains K leave-one-fold-out models + pooled (−1), all in
    one scan per epoch."""
    lay = Layout(len(feature_cols), cfg)
    P = lay.n_params
    f = lay.f
    # ONE tiny distributed agg for per-feature standardization (pad
    # zeros included — deterministic and shared by train and predict);
    # f rows reach the driver.
    stats = (
        train_df.select(F.posexplode("x_seq").alias("pos", "v"))
        .groupBy((F.col("pos") % f).alias("feat"))
        .agg(F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd"))
        .collect()
    )
    mu = np.zeros(f)
    sd = np.ones(f)
    for r in stats:
        mu[int(r["feat"])] = r["mu"]
        sd[int(r["feat"])] = max(float(r["sd"] or 0.0), 1e-9)
    models = {m: lay.init(cfg.seed + (0 if m < 0 else m + 1))
              for m in [-1, *range(k)]}
    adam_m = {m: np.zeros(P) for m in models}
    adam_v = {m: np.zeros(P) for m in models}
    b1, b2, eps = 0.9, 0.999, 1e-8

    src = train_df.select("fold", "x_seq", "res_x", "res_y", "delta_t").coalesce(
        cfg.partitions
    ).cache()
    src.count()  # pin: every epoch re-reads this exact projection

    for epoch in range(1, cfg.epochs + 1):
        cur = {m: v.copy() for m, v in models.items()}

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf):
                    yield pd.DataFrame(
                        _loss_grad_pack(cur, pdf, lay, mu, sd),
                        columns=["model", "g"],
                    )

        packed = src.mapInPandas(kernel, schema="model long, g array<double>")
        sums = (
            packed.select("model", F.posexplode("g").alias("pos", "v"))
            .groupBy("model", "pos")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
        packs: dict[int, np.ndarray] = {}
        for r in sums:
            packs.setdefault(r["model"], np.zeros(P + 2))[r["pos"]] = r["v"]
        for m, pack in packs.items():
            wsum = pack[P + 1]
            if wsum <= 0:
                continue
            grad = pack[:P] / wsum  # mean gradient (matches mean loss)
            adam_m[m] = b1 * adam_m[m] + (1 - b1) * grad
            adam_v[m] = b2 * adam_v[m] + (1 - b2) * grad * grad
            mhat = adam_m[m] / (1 - b1 ** epoch)
            vhat = adam_v[m] / (1 - b2 ** epoch)
            models[m] = models[m] - cfg.lr * mhat / (np.sqrt(vhat) + eps)

    src.unpersist()
    return SeqModel(feature_cols, lay, models, mu, sd)


def predict(model: SeqModel, df: DataFrame, oof: bool = True) -> DataFrame:
    """Adds {prefix}_pred_x / {prefix}_pred_y = clip(baseline +
    encoder residual), prefix from the encoder (rnn, bilstm, stt).
    ``oof=True`` routes each row to the model that never saw its fold;
    ``oof=False`` averages the K fold models' PREDICTIONS (a nonlinear
    net's fold ensemble is an output-space mean, unlike the linear
    coefficient mean in seqreg.predict_seq)."""
    lay = model.layout
    params = {m: v.copy() for m, v in model.params.items()}
    mu = model.mu if model.mu is not None else np.zeros(lay.f)
    sd = model.sd if model.sd is not None else np.ones(lay.f)

    @F.pandas_udf("array<double>")
    def fwd(fold: pd.Series, xv: pd.Series, dts: pd.Series) -> pd.Series:
        X = np.array(xv.tolist(), dtype=np.float64).reshape(
            -1, lay.cfg.window, lay.f
        )
        X = (X - mu) / sd
        dt = _horizon_steps(dts)
        out = np.empty((len(X), 2))
        if oof:
            fv = fold.to_numpy(np.int64)
            for m in np.unique(fv):
                if int(m) not in params:
                    # Falling back to the pooled model (params[-1])
                    # would silently LEAK: the pooled model saw this
                    # row's fold, so a fold-id mismatch (e.g. a model
                    # trained with a different k) must fail loudly.
                    raise ValueError(
                        f"no fold model for fold={int(m)}; trained folds: "
                        f"{sorted(f for f in params if f >= 0)} — "
                        "OOF prediction requires matching fold ids"
                    )
                idx = np.where(fv == m)[0]
                p = lay.unpack(params[int(m)])
                out[idx], _ = lay.forward(p, X[idx], dt[idx])
        else:
            folds = [m for m in params if m >= 0]
            acc = np.zeros((len(X), 2))
            for m in folds:
                pr, _ = lay.forward(lay.unpack(params[m]), X, dt)
                acc += pr
            out = acc / len(folds)
        return pd.Series([r.tolist() for r in out])

    prefix = lay.cfg.encoder.prefix
    p = df.withColumn(
        "_p", fwd(F.col("fold") if oof else F.lit(-1), F.col("x_seq"),
                  F.col("delta_t"))
    )
    return (
        p.withColumn(
            f"{prefix}_pred_x",
            clip(F.col("baseline_x") + F.col("_p")[0], 0.0, 120.0),
        )
        .withColumn(
            f"{prefix}_pred_y",
            clip(F.col("baseline_y") + F.col("_p")[1], 0.0, 53.3),
        )
        .drop("_p")
    )


def train_and_predict(
    input_df: DataFrame,
    output_df: DataFrame,
    cfg,
    feature_cols: list[str] | None = None,
    k: int = 5,
) -> SeqTrainResult:
    """E2's lifecycle (nn-mps.py:874-988) with the encoder ``cfg``
    picks: per-frame physics features → last-W windows → grouped
    folds → distributed-Adam fit → OOF prediction → metric."""
    feats = advanced_features(input_df)
    cols = [
        c for c in (feature_cols or DEFAULT_SEQ_FEATURES) if c in feats.columns
    ]
    seq = window_matrix(feats, cols, cfg.window)
    labeled = build_training_rows(feats, output_df)
    train_df = (
        labeled.filter(F.col("last_x").isNotNull())
        .join(seq, list(TRAJECTORY_KEY))
    )
    train_df = with_fold(train_df, list(TRAJECTORY_KEY), k=k).cache()
    model = train(train_df, cols, k, cfg)
    pred = predict(model, train_df, oof=True)
    prefix = model.layout.cfg.encoder.prefix

    def xy(px: str, py: str) -> DataFrame:
        return pred.select("id", F.col(px).alias("x"), F.col(py).alias("y"))

    sol = xy("target_x", "target_y")
    return SeqTrainResult(
        predictions=pred,
        rmse_baseline=score(sol, xy("baseline_x", "baseline_y")),
        rmse_encoder=score(sol, xy(f"{prefix}_pred_x", f"{prefix}_pred_y")),
    )


def save(model: SeqModel, path: str) -> None:
    """S5 analog (reference pickles its torch state dicts,
    main_cuda.py:1544-1559): one compressed npz — flat parameter
    vectors per model id + the config that fixes the layout +
    standardization."""
    os.makedirs(path, exist_ok=True)
    lay = model.layout
    cfg_type = type(lay.cfg)
    np.savez_compressed(
        os.path.join(path, "encoder.npz"),
        config=json.dumps({
            "module": cfg_type.__module__, "cls": cfg_type.__name__,
            "fields": dataclasses.asdict(lay.cfg),
        }),
        feature_cols=np.array(model.feature_cols, dtype=object),
        model_ids=np.array(sorted(model.params), dtype=np.int64),
        mu=model.mu if model.mu is not None else np.zeros(lay.f),
        sd=model.sd if model.sd is not None else np.ones(lay.f),
        **{f"p_{m}": model.params[m] for m in model.params},
    )


def load(path: str) -> SeqModel:
    z = np.load(os.path.join(path, "encoder.npz"), allow_pickle=True)
    meta = json.loads(str(z["config"]))
    if not meta["module"].startswith(__package__ + "."):
        raise ValueError(f"not an encoder config module: {meta['module']}")
    cfg_type =getattr(importlib.import_module(meta["module"]), meta["cls"])
    cols = [str(c) for c in z["feature_cols"]]
    model = SeqModel(cols, Layout(len(cols), cfg_type(**meta["fields"])))
    model.params = {int(m): z[f"p_{int(m)}"] for m in z["model_ids"]}
    model.mu, model.sd = z["mu"], z["sd"]
    return model
