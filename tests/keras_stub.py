"""Minimal keras stand-in for testing centimators_spark.ml without
keras installed — two capability tiers:

1. STRUCTURE (all five builders): every layer construction is recorded
   in ``CONSTRUCTED`` and every ``Model`` in ``MODELS``; tensors are
   ``Sym`` nodes that absorb any arithmetic/slicing, so builder code
   traces end-to-end and tests assert layer counts, wiring order, and
   compile() arguments.
2. NUMERIC (layer DAGs: Dense chains, stacked LSTM, transformer
   encoder blocks with residual adds and multi-head attention):
   Dense/LSTM/MultiHeadAttention/GlobalAveragePooling1D/Activation
   hold real numpy weights and forward passes (keras weight shapes
   and inference semantics); Dropout/noise/norm layers are
   inference-time identity; the arithmetic dunders on ``Sym`` record
   an evaluable op DAG (residual ``x + attn(x)``). ``Model`` supports
   the full serialization surface the engine's distributed scorer
   uses — ``to_json`` / ``get_weights`` / ``models.model_from_json``
   / ``set_weights`` / ``predict`` — over the whole DAG. This
   numerically pins target scaling and ``KerasEstimator._score_with``
   end-to-end (reference behavior: keras_estimators/base.py:89-100,
   129-130), and the recurrent/attention forward passes of the
   LSTM/transformer builders (reference sequence.py:114-153,
   transformer.py:108-245), without keras. Custom layers opt in by
   implementing the same ``forward`` / ``weight_list`` /
   ``take_weights`` / ``spec_config`` protocol (see
   architectures.custom_layers PositionEmbedding) and are rebuilt by
   name via register_keras_serializable's CUSTOM_OBJECTS registry.

Usage: ``install()`` registers the stub as ``sys.modules['keras']``
(only if real keras is absent); call ``reset()`` between builds.
"""

from __future__ import annotations

import json
import sys
import types

import numpy as np

CONSTRUCTED: list = []  # every Layer/Model instance, construction order
MODELS: list = []       # every functional Model
DISTRIBUTIONS: list = []  # every keras.distribution.set_distribution arg


def reset():
    CONSTRUCTED.clear()
    MODELS.clear()
    DISTRIBUTIONS.clear()


def constructed(cls_name: str) -> list:
    return [l for l in CONSTRUCTED if type(l).__name__ == cls_name]


class Sym:
    """Symbolic tensor: any op yields another Sym. Layer calls record
    producer + inputs, and the arithmetic dunders record (op, operands),
    so layer-DAG graphs — chains, residual adds, multi-input attention —
    can be numerically evaluated and serialized."""

    def __init__(self, producer=None, op=None, operands=(), op_kwargs=None):
        self.producer = producer
        self.op = op
        self.operands: tuple = tuple(operands)
        self.op_kwargs: dict = dict(op_kwargs or {})
        self.call_inputs: tuple = ()

    def _chain(self, *_a, **_k):
        return Sym(self)

    def _binop(name, flip=False):  # noqa: N805 — closure factory
        def fn(self, other):
            ops = (other, self) if flip else (self, other)
            return Sym(op=name, operands=ops)

        return fn

    __add__ = _binop("add")
    __radd__ = _binop("add", flip=True)
    __sub__ = _binop("sub")
    __rsub__ = _binop("sub", flip=True)
    __mul__ = _binop("mul")
    __rmul__ = _binop("mul", flip=True)
    __truediv__ = _binop("div")
    __rtruediv__ = _binop("div", flip=True)
    del _binop

    def __neg__(self):
        return Sym(op="neg", operands=(self,))

    __getitem__ = _chain

    def assign(self, _v):
        pass


_OP_FNS = {
    "add": lambda a, b: a + b,
    "sub": lambda a, b: a - b,
    "mul": lambda a, b: a * b,
    "div": lambda a, b: a / b,
    "neg": lambda a: -a,
    # n-ary evaluable keras.ops (tier 3: the NDF ensemble combine) —
    # operands are the stacked tensors; axis rides in op_kwargs
    "stack": lambda *vals, axis=0: np.stack(
        [np.asarray(v, dtype=np.float64) for v in vals], axis=axis
    ),
    "mean": lambda v, axis=None: np.asarray(v, dtype=np.float64).mean(
        axis=axis
    ),
}


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


_ACTIVATIONS = {
    None: lambda x: x,
    "linear": lambda x: x,
    "relu": lambda x: np.maximum(x, 0.0),
    "tanh": np.tanh,
    "sigmoid": _sigmoid,
    "swish": lambda x: x * _sigmoid(x),
}

# d(act)/dz given pre-activation z and post-activation a — the tier-4
# training loop's backprop table (relu' at exactly 0 follows the keras
# convention: 0)
_ACT_GRADS = {
    None: lambda z, a: np.ones_like(a),
    "linear": lambda z, a: np.ones_like(a),
    "relu": lambda z, a: (z > 0).astype(np.float64),
    "tanh": lambda z, a: 1.0 - a * a,
    "sigmoid": lambda z, a: a * (1.0 - a),
    "swish": lambda z, a: _sigmoid(z) + a * (1.0 - _sigmoid(z)),
}

# layers the tier-4 loop treats as identity at train time (they are
# already inference-identity in the stub)
_TRAIN_IDENTITY = {
    "Dropout",
    "GaussianNoise",
    "BatchNormalization",
    "LayerNormalization",
}


class Layer:
    def __init__(self, *args, **kwargs):
        self.args = args
        self.kwargs = kwargs
        self.name = kwargs.get("name")
        self.built = False
        CONSTRUCTED.append(self)

    def __call__(self, *inputs, **kwargs):
        if not self.built and hasattr(self, "build"):
            self.build(getattr(inputs[0], "shape", (None, 1)))
        self.called_with = inputs
        out = self.call(*inputs, **kwargs)
        if isinstance(out, Sym):
            out.producer = self
            out.call_inputs = inputs
        return out

    def call(self, *inputs, **kwargs):
        return Sym(self)

    def build(self, input_shape):
        self.built = True

    def add_weight(self, *args, **kwargs):
        return Sym(self)

    def get_config(self):
        return {"name": self.name}

    # ---- numeric tier (identity by default: inference-time behavior
    # of Dropout / GaussianNoise / untrained Batch/LayerNorm) ----
    def forward(self, vals):
        return vals[0]

    def weight_list(self):
        return []

    def take_weights(self, ws):
        return 0

    def spec_config(self):
        return {}


def _layer_type(name):
    return type(name, (Layer,), {})


class Dense(Layer):
    """Numerically real: y = act(x @ kernel + bias). args/kwargs are
    recorded exactly as passed (structure tests read them verbatim)."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        units = args[0] if args else kwargs.get("units")
        self.units = int(units)
        self.activation = (
            args[1] if len(args) > 1 else kwargs.get("activation")
        )
        self.kernel = None
        self.bias = None

    def _ensure_built(self, in_dim: int):
        if self.kernel is None:
            self.kernel = np.zeros((in_dim, self.units))
            self.bias = np.zeros(self.units)

    def forward(self, vals):
        x = np.asarray(vals[0], dtype=np.float64)
        self._ensure_built(x.shape[-1])
        act = _ACTIVATIONS.get(self.activation)
        if act is None:
            raise NotImplementedError(
                f"stub Dense activation {self.activation!r}"
            )
        return act(x @ self.kernel + self.bias)

    def weight_list(self):
        if self.kernel is None:
            raise ValueError("Dense not built — run fit/predict first")
        return [self.kernel, self.bias]

    def take_weights(self, ws):
        self.kernel = np.asarray(ws[0], dtype=np.float64)
        self.bias = np.asarray(ws[1], dtype=np.float64)
        self.units = self.kernel.shape[1]
        return 2

    def spec_config(self):
        return {"units": self.units, "activation": self.activation}


Dropout = _layer_type("Dropout")
Bidirectional = _layer_type("Bidirectional")
LayerNormalization = _layer_type("LayerNormalization")
BatchNormalization = _layer_type("BatchNormalization")
GaussianNoise = _layer_type("GaussianNoise")
Permute = _layer_type("Permute")
Concatenate = _layer_type("Concatenate")


class Activation(Layer):
    """Numerically real: applies the named activation elementwise."""

    @property
    def name_arg(self):
        return self.args[0] if self.args else self.kwargs.get("activation")

    def forward(self, vals):
        name = self.args[0] if self.args else self.kwargs.get("activation")
        act = _ACTIVATIONS.get(name)
        if act is None:
            raise NotImplementedError(f"stub Activation {name!r}")
        return act(np.asarray(vals[0], dtype=np.float64))

    def spec_config(self):
        return {
            "activation": self.args[0]
            if self.args
            else self.kwargs.get("activation")
        }


class GlobalAveragePooling1D(Layer):
    """Numerically real: mean over the sequence (axis 1)."""

    def forward(self, vals):
        return np.asarray(vals[0], dtype=np.float64).mean(axis=1)


class LSTM(Layer):
    """Numerically real single-direction LSTM (keras inference
    semantics — dropout inert): gate order [i, f, c̃, o], kernel
    (in, 4u), recurrent_kernel (u, 4u), bias (4u,); σ recurrent
    activation, configurable cell activation (keras default tanh);
    ``return_sequences`` controls (n, t, u) vs last-step (n, u)."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        units = args[0] if args else kwargs.get("units")
        self.units = int(units)
        self.activation = kwargs.get("activation", "tanh")
        self.return_sequences = bool(kwargs.get("return_sequences", False))
        self.kernel = None
        self.recurrent_kernel = None
        self.lstm_bias = None

    def _ensure_built(self, in_dim: int):
        if self.kernel is None:
            self.kernel = np.zeros((in_dim, 4 * self.units))
            self.recurrent_kernel = np.zeros((self.units, 4 * self.units))
            self.lstm_bias = np.zeros(4 * self.units)

    def forward(self, vals):
        x = np.asarray(vals[0], dtype=np.float64)  # (n, t, d)
        if x.ndim != 3:
            raise NotImplementedError("stub LSTM expects (n, t, d) input")
        self._ensure_built(x.shape[-1])
        act = _ACTIVATIONS.get(self.activation)
        if act is None:
            raise NotImplementedError(
                f"stub LSTM activation {self.activation!r}"
            )
        n, t, _ = x.shape
        u = self.units
        h = np.zeros((n, u))
        c = np.zeros((n, u))
        seq = []
        for step in range(t):
            z = x[:, step, :] @ self.kernel + h @ self.recurrent_kernel
            z = z + self.lstm_bias
            i = _sigmoid(z[:, :u])
            f = _sigmoid(z[:, u : 2 * u])
            g = act(z[:, 2 * u : 3 * u])
            o = _sigmoid(z[:, 3 * u :])
            c = f * c + i * g
            h = o * act(c)
            seq.append(h)
        return np.stack(seq, axis=1) if self.return_sequences else h

    def weight_list(self):
        if self.kernel is None:
            raise ValueError("LSTM not built — run fit/predict first")
        return [self.kernel, self.recurrent_kernel, self.lstm_bias]

    def take_weights(self, ws):
        self.kernel = np.asarray(ws[0], dtype=np.float64)
        self.recurrent_kernel = np.asarray(ws[1], dtype=np.float64)
        self.lstm_bias = np.asarray(ws[2], dtype=np.float64)
        self.units = self.recurrent_kernel.shape[0]
        return 3

    def spec_config(self):
        return {
            "units": self.units,
            "activation": self.activation,
            "return_sequences": self.return_sequences,
        }


class MultiHeadAttention(Layer):
    """Numerically real scaled-dot-product multi-head attention (keras
    weight shapes, inference semantics — dropout inert): per-head
    projections Wq/Wk/Wv (d_in, H, key_dim) + biases (H, key_dim),
    output projection Wo (H, key_dim, d_out) + bias (d_out,);
    scores = QKᵀ/√key_dim softmaxed over the key axis."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.key_dim = int(kwargs.get("key_dim", 8))
        self.num_heads = int(kwargs.get("num_heads", 1))
        self.wq = self.bq = self.wk = self.bk = None
        self.wv = self.bv = self.wo = self.bo = None

    def call(self, q, v=None, **kw):
        return Sym(self)

    def _ensure_built(self, d_in: int, d_out: int):
        if self.wq is None:
            h, kd = self.num_heads, self.key_dim
            self.wq = np.zeros((d_in, h, kd))
            self.bq = np.zeros((h, kd))
            self.wk = np.zeros((d_in, h, kd))
            self.bk = np.zeros((h, kd))
            self.wv = np.zeros((d_in, h, kd))
            self.bv = np.zeros((h, kd))
            self.wo = np.zeros((h, kd, d_out))
            self.bo = np.zeros(d_out)

    def forward(self, vals):
        q = np.asarray(vals[0], dtype=np.float64)  # (n, tq, d)
        v = np.asarray(vals[1] if len(vals) > 1 else vals[0], np.float64)
        self._ensure_built(q.shape[-1], q.shape[-1])
        Q = np.einsum("ntd,dhk->nhtk", q, self.wq) + self.bq[None, :, None]
        K = np.einsum("nsd,dhk->nhsk", v, self.wk) + self.bk[None, :, None]
        V = np.einsum("nsd,dhk->nhsk", v, self.wv) + self.bv[None, :, None]
        scores = np.einsum("nhtk,nhsk->nhts", Q, K) / np.sqrt(self.key_dim)
        scores = scores - scores.max(axis=-1, keepdims=True)
        w = np.exp(scores)
        w = w / w.sum(axis=-1, keepdims=True)
        ctx = np.einsum("nhts,nhsk->nhtk", w, V)
        return np.einsum("nhtk,hkd->ntd", ctx, self.wo) + self.bo

    def weight_list(self):
        if self.wq is None:
            raise ValueError("MHA not built — run fit/predict first")
        return [
            self.wq, self.bq, self.wk, self.bk,
            self.wv, self.bv, self.wo, self.bo,
        ]

    def take_weights(self, ws):
        (self.wq, self.bq, self.wk, self.bk,
         self.wv, self.bv, self.wo, self.bo) = [
            np.asarray(w, dtype=np.float64) for w in ws[:8]
        ]
        self.num_heads, self.key_dim = self.wq.shape[1], self.wq.shape[2]
        return 8

    def spec_config(self):
        return {"key_dim": self.key_dim, "num_heads": self.num_heads}


class _InputTensor(Sym):
    def __init__(self, shape=None, name=None):
        super().__init__()
        self.shape = (None, *(shape or ()))
        self.name = name


def Input(shape=None, name=None, **kw):
    return _InputTensor(shape=shape, name=name)


class Model(Layer):
    def __init__(self, *args, inputs=None, outputs=None, name=None, **kwargs):
        super().__init__(name=name, **kwargs)
        self.inputs, self.outputs = inputs, outputs
        self.compile_kwargs = None
        self.fit_calls: list = []
        if inputs is not None or outputs is not None:
            MODELS.append(self)

    def compile(self, **kwargs):
        self.compile_kwargs = kwargs

    # ---- numeric tier: layer-DAG graphs (chains, residual adds,
    # multi-input attention). Nodes the stub can't evaluate (dead Syms
    # from keras.ops) raise NotImplementedError — those graphs stay
    # structure-only, exactly as the chain tier did. ----
    def _out_nodes(self) -> list:
        out = self.outputs
        return list(out) if isinstance(out, (list, tuple)) else [out]

    def _walk(self):
        """Deterministic post-order DFS over the DAG from the outputs:
        yields every reachable Sym exactly once, input-side first (a
        plain chain yields the old input-first layer order)."""
        seen: set = set()
        order: list = []

        def visit(node):
            if not isinstance(node, Sym) or id(node) in seen:
                return
            seen.add(id(node))
            for child in (node.call_inputs or ()) + (node.operands or ()):
                visit(child)
            order.append(node)

        for out in self._out_nodes():
            visit(out)
        return order

    def _dag_layers(self) -> list:
        """Unique producer layers, DFS order. Raises for graphs holding
        dead Syms (keras.ops results — no producer, no op)."""
        layers, seen = [], set()
        for node in self._walk():
            if isinstance(node, _InputTensor) or node.op is not None:
                continue
            if not isinstance(node.producer, Layer):
                raise NotImplementedError(
                    "numeric stub supports layer/arithmetic DAGs only"
                )
            if id(node.producer) not in seen:
                seen.add(id(node.producer))
                layers.append(node.producer)
        return layers

    def fit(self, X=None, y=None, **kwargs):
        self.fit_calls.append(kwargs)
        history: dict = {}
        # build kernels from real input widths so get_weights()
        # works right after fit, like keras
        try:
            if X is not None:
                self.predict(np.asarray(X)[:1])
            # tier 4: real MSE+SGD training over single-output Dense
            # chains — exercises the estimator fit plumbing (epochs,
            # batching, sample_weight, validation_data) numerically.
            # Multi-head targets (list/tuple/dict y) and non-chain DAGs
            # stay structure-only, exactly as before.
            if (
                X is not None
                and y is not None
                and not isinstance(y, (list, tuple, dict))
            ):
                history = self._train_mse_sgd(
                    np.asarray(X, dtype=np.float64),
                    np.asarray(y, dtype=np.float64),
                    **kwargs,
                )
            # tier 5: dict-target multi-head training for TAPPED-CHAIN
            # graphs (every output sits on one backbone chain — the
            # bottleneck autoencoder's reconstruction+target shape,
            # reference autoencoder.py:25-117). Per-head MSE with
            # compile loss_weights; gradients from each head are
            # injected at its tap point on the shared backward pass.
            elif X is not None and isinstance(y, dict):
                history = self._train_mse_sgd_multi(
                    np.asarray(X, dtype=np.float64),
                    {
                        k: np.asarray(v, dtype=np.float64)
                        for k, v in y.items()
                    },
                    **kwargs,
                )
        except NotImplementedError:
            pass
        return types.SimpleNamespace(history=history)

    def _chain_stages(self) -> list:
        """The model as a strict single-input chain of trainable /
        identity layers, output-to-input. NotImplementedError for
        anything else (op nodes, multi-input layers, multi-output
        models) — those models keep the structural fit."""
        outs = self._out_nodes()
        if len(outs) != 1:
            raise NotImplementedError("tier-4 fit: single output only")
        stages: list = []
        node = outs[0]
        while not isinstance(node, _InputTensor):
            if (
                not isinstance(node, Sym)
                or node.op is not None
                or not isinstance(node.producer, Layer)
                or len(node.call_inputs or ()) != 1
            ):
                raise NotImplementedError("tier-4 fit: Dense chains only")
            stages.append(node.producer)
            node = node.call_inputs[0]
        stages.reverse()
        for layer in stages:
            if isinstance(layer, Dense) or type(layer) is Activation:
                if (layer.activation if isinstance(layer, Dense)
                        else layer.name_arg) not in _ACT_GRADS:
                    raise NotImplementedError(
                        "tier-4 fit: activation lacks a gradient"
                    )
            elif type(layer).__name__ in _TRAIN_IDENTITY:
                continue
            else:
                raise NotImplementedError(
                    f"tier-4 fit: unsupported layer {type(layer).__name__}"
                )
        return stages

    def _train_mse_sgd(
        self,
        X,
        y,
        *,
        epochs=1,
        batch_size=32,
        sample_weight=None,
        validation_data=None,
        shuffle=False,
        verbose=0,
        **_unsupported,
    ) -> dict:
        """Minimal numpy training loop: MSE loss, plain SGD steps at
        the compiled optimizer's learning_rate (the stub treats every
        optimizer as SGD — no moment state — so two-step traces are
        hand-computable). Deterministic: batches run in input order
        (``shuffle`` is ignored), identity layers (Dropout & co) stay
        identity at train time. Weighted loss follows keras:
        batch loss = meanᵢ(wᵢ · meanⱼ errᵢⱼ²); the epoch 'loss' entry
        is the row-weighted mean of batch losses, 'val_loss' the
        unweighted MSE of ``validation_data`` at epoch end."""
        stages = self._chain_stages()
        lr = 1e-3
        if self.compile_kwargs:
            opt = self.compile_kwargs.get("optimizer")
            lr = float(getattr(opt, "learning_rate", lr) or lr)
        y2 = y.reshape(len(y), -1)
        n_all = len(X)
        bs = int(batch_size or n_all) or n_all
        sw = None
        if sample_weight is not None:
            sw = np.asarray(sample_weight, dtype=np.float64).reshape(-1, 1)

        def forward_caches(xb):
            caches, a = [], xb
            for layer in stages:
                if isinstance(layer, Dense):
                    layer._ensure_built(a.shape[-1])
                    z = a @ layer.kernel + layer.bias
                    out = _ACTIVATIONS[layer.activation](z)
                    caches.append(("dense", layer, a, z, out))
                elif type(layer) is Activation:
                    z = a
                    out = _ACTIVATIONS[layer.name_arg](z)
                    caches.append(("act", layer, a, z, out))
                else:
                    caches.append(("id", layer, a, a, a))
                    out = a
                a = out
            return caches, a

        history: dict = {"loss": []}
        for _ in range(int(epochs)):
            tot_loss, tot_rows = 0.0, 0
            for s in range(0, n_all, bs):
                xb, yb = X[s : s + bs], y2[s : s + bs]
                wb = sw[s : s + bs] if sw is not None else None
                caches, pred = forward_caches(xb)
                err = pred - yb
                nb, dout = err.shape
                per_row = (err * err).mean(axis=1, keepdims=True)
                loss = float(
                    (per_row * wb).mean() if wb is not None else per_row.mean()
                )
                tot_loss += loss * nb
                tot_rows += nb
                delta = 2.0 * err / (nb * dout)
                if wb is not None:
                    delta = delta * wb
                for kind, layer, a_in, z, a_out in reversed(caches):
                    if kind == "dense":
                        dz = delta * _ACT_GRADS[layer.activation](z, a_out)
                        g_w = a_in.T @ dz
                        g_b = dz.sum(axis=0)
                        delta = dz @ layer.kernel.T
                        layer.kernel = layer.kernel - lr * g_w
                        layer.bias = layer.bias - lr * g_b
                    elif kind == "act":
                        delta = delta * _ACT_GRADS[layer.name_arg](z, a_out)
            history["loss"].append(tot_loss / max(tot_rows, 1))
            if validation_data is not None:
                xv, yv = validation_data[:2]
                _, pv = forward_caches(np.asarray(xv, dtype=np.float64))
                ev = pv - np.asarray(yv, dtype=np.float64).reshape(len(pv), -1)
                history.setdefault("val_loss", []).append(
                    float((ev * ev).mean())
                )
        return history

    def _chain_from(self, node) -> list:
        """Strict single-input chain from `node` back to the input
        (input-first). NotImplementedError for anything off-chain."""
        stages: list = []
        while not isinstance(node, _InputTensor):
            if (
                not isinstance(node, Sym)
                or node.op is not None
                or not isinstance(node.producer, Layer)
                or len(node.call_inputs or ()) != 1
            ):
                raise NotImplementedError("tier-5 fit: chains only")
            stages.append(node.producer)
            node = node.call_inputs[0]
        stages.reverse()
        return stages

    def _validate_trainable_chain(self, stages: list) -> None:
        for layer in stages:
            if isinstance(layer, Dense) or type(layer) is Activation:
                if (layer.activation if isinstance(layer, Dense)
                        else layer.name_arg) not in _ACT_GRADS:
                    raise NotImplementedError(
                        "tier-5 fit: activation lacks a gradient"
                    )
            elif type(layer).__name__ in _TRAIN_IDENTITY:
                continue
            else:
                raise NotImplementedError(
                    f"tier-5 fit: unsupported layer {type(layer).__name__}"
                )

    def _tapped_chain_stages(self):
        """Multi-output graphs where every output sits on ONE backbone
        chain (each shallower output node is a stage of the deepest
        output's chain — the bottleneck-autoencoder shape). Returns
        (backbone_stages, {head_name: tap_index}) where tap_index k
        means the head reads the output of backbone_stages[k-1]."""
        outs = self._out_nodes()
        if len(outs) < 2:
            raise NotImplementedError("tier-5 fit: multi-output only")
        chains = [(node, self._chain_from(node)) for node in outs]
        _, backbone = max(chains, key=lambda c: len(c[1]))
        self._validate_trainable_chain(backbone)
        taps: dict = {}
        for node, chain in chains:
            k = len(chain)
            if k == 0 or any(
                a is not b for a, b in zip(backbone[:k], chain)
            ):
                raise NotImplementedError(
                    "tier-5 fit: outputs must share one chain"
                )
            name = getattr(node.producer, "name", None)
            if not name:
                raise NotImplementedError(
                    "tier-5 fit: dict targets need named output layers"
                )
            taps[name] = k
        return backbone, taps

    def _forward_caches(self, stages: list, xb):
        caches, a = [], xb
        for layer in stages:
            if isinstance(layer, Dense):
                layer._ensure_built(a.shape[-1])
                z = a @ layer.kernel + layer.bias
                out = _ACTIVATIONS[layer.activation](z)
                caches.append(("dense", layer, a, z, out))
            elif type(layer) is Activation:
                z = a
                out = _ACTIVATIONS[layer.name_arg](z)
                caches.append(("act", layer, a, z, out))
            else:
                caches.append(("id", layer, a, a, a))
                out = a
            a = out
        return caches, a

    def _train_mse_sgd_multi(
        self,
        X,
        ydict: dict,
        *,
        epochs=1,
        batch_size=32,
        sample_weight=None,
        validation_data=None,
        shuffle=False,
        verbose=0,
        **_unsupported,
    ) -> dict:
        """Tier 5: dict-target training for tapped-chain graphs. Per
        head h: loss_h = mean_rows(mean_cols(err²)); total =
        Σ_h w_h·loss_h with w from compile loss_weights (default 1).
        One shared backward pass: each head's gradient
        (w_h·2·err_h/(nb·d_h)) is ADDED to the running delta at its
        tap stage — so the reconstruction head trains the encoder both
        directly and through the target head, exactly the dual-loss
        coupling the reference autoencoder exercises. Deterministic:
        input-order batches, identity layers stay identity;
        sample_weight is out of scope (structure-only fallback)."""
        if sample_weight is not None:
            raise NotImplementedError("tier-5 fit: sample_weight")
        backbone, taps = self._tapped_chain_stages()
        if set(ydict) != set(taps):
            raise NotImplementedError(
                "tier-5 fit: target dict keys must match output names"
            )
        lr = 1e-3
        lw = {}
        if self.compile_kwargs:
            opt = self.compile_kwargs.get("optimizer")
            lr = float(getattr(opt, "learning_rate", lr) or lr)
            lw = dict(self.compile_kwargs.get("loss_weights") or {})
        w = {h: float(lw.get(h, 1.0)) for h in taps}
        y2 = {h: v.reshape(len(v), -1) for h, v in ydict.items()}
        n_all = len(X)
        bs = int(batch_size or n_all) or n_all

        def losses(caches, yb):
            out = {}
            for h, k in taps.items():
                err = caches[k - 1][4] - yb[h]
                out[h] = (err, float((err * err).mean()))
            return out

        history: dict = {"loss": []}
        for _ in range(int(epochs)):
            tot = {h: 0.0 for h in taps}
            tot_loss, tot_rows = 0.0, 0
            for s in range(0, n_all, bs):
                xb = X[s : s + bs]
                yb = {h: v[s : s + bs] for h, v in y2.items()}
                caches, _ = self._forward_caches(backbone, xb)
                errs = losses(caches, yb)
                nb = len(xb)
                batch_total = sum(w[h] * l for h, (_, l) in errs.items())
                tot_loss += batch_total * nb
                for h, (_, l) in errs.items():
                    tot[h] += l * nb
                tot_rows += nb
                delta = None
                for i in range(len(backbone) - 1, -1, -1):
                    kind, layer, a_in, z, a_out = caches[i]
                    for h, k in taps.items():
                        if k == i + 1:
                            err, _l = errs[h]
                            g = w[h] * 2.0 * err / (nb * err.shape[1])
                            delta = g if delta is None else delta + g
                    if delta is None:
                        continue
                    if kind == "dense":
                        dz = delta * _ACT_GRADS[layer.activation](z, a_out)
                        g_w = a_in.T @ dz
                        g_b = dz.sum(axis=0)
                        delta = dz @ layer.kernel.T
                        layer.kernel = layer.kernel - lr * g_w
                        layer.bias = layer.bias - lr * g_b
                    elif kind == "act":
                        delta = delta * _ACT_GRADS[layer.name_arg](z, a_out)
            history["loss"].append(tot_loss / max(tot_rows, 1))
            for h in taps:
                history.setdefault(f"{h}_loss", []).append(
                    tot[h] / max(tot_rows, 1)
                )
            if validation_data is not None:
                xv, yv = validation_data[:2]
                caches, _ = self._forward_caches(
                    backbone, np.asarray(xv, dtype=np.float64)
                )
                vtot = 0.0
                for h, k in taps.items():
                    ev = caches[k - 1][4] - np.asarray(
                        yv[h], dtype=np.float64
                    ).reshape(-1, y2[h].shape[1])
                    vtot += w[h] * float((ev * ev).mean())
                history.setdefault("val_loss", []).append(vtot)
        return history

    def _eval(self, node, env: dict):
        if not isinstance(node, Sym):  # python scalar in an op
            return node
        key = id(node)
        if key in env:
            return env[key]
        if isinstance(node, _InputTensor):
            raise NotImplementedError(
                "unbound Input — multi-input models unsupported"
            )
        if node.op is not None:
            val = _OP_FNS[node.op](
                *[self._eval(o, env) for o in node.operands],
                **node.op_kwargs,
            )
        elif isinstance(node.producer, Layer):
            vals = [self._eval(i, env) for i in node.call_inputs]
            val = node.producer.forward(vals)
        else:
            raise NotImplementedError(
                "numeric stub supports layer/arithmetic DAGs only"
            )
        env[key] = val
        return val

    def predict(self, X, batch_size=None, verbose=0):
        val = np.asarray(X, dtype=np.float64)
        inputs = self.inputs
        if isinstance(inputs, (list, tuple)):
            if len(inputs) != 1:
                raise NotImplementedError("numeric stub: single input only")
            inputs = inputs[0]
        env = {id(inputs): val}
        outs = [self._eval(o, env) for o in self._out_nodes()]
        return outs[0] if len(outs) == 1 else outs

    def get_weights(self):
        return [w for l in self._dag_layers() for w in l.weight_list()]

    def set_weights(self, ws):
        i = 0
        for layer in self._dag_layers():
            i += layer.take_weights(ws[i:])
        if i != len(ws):
            raise ValueError(f"set_weights: {len(ws)} given, {i} consumed")

    def to_json(self):
        """Serialize the layer DAG: nodes in DFS order with integer
        ids — the ship-spec-and-weights half of the engine's
        distributed scorer. Layer configs come from spec_config();
        layers are deduped so a layer called twice rebuilds as ONE
        layer (weight order matches _dag_layers)."""
        node_ids: dict = {}
        layer_ids: dict = {}
        layers: list = []
        nodes: list = []
        in_node = self.inputs
        if isinstance(in_node, (list, tuple)):
            in_node = in_node[0]
        for node in self._walk():
            nid = len(nodes)
            node_ids[id(node)] = nid
            if isinstance(node, _InputTensor):
                nodes.append(
                    {"kind": "input", "shape": list(node.shape[1:])}
                )
                continue
            if node.op is not None:
                nodes.append(
                    {
                        "kind": "op",
                        "op": node.op,
                        "operands": [
                            node_ids[id(o)]
                            if isinstance(o, Sym)
                            else ["const", float(o)]
                            for o in node.operands
                        ],
                        "kwargs": node.op_kwargs,
                    }
                )
                continue
            lyr = node.producer
            if not isinstance(lyr, Layer):
                raise NotImplementedError(
                    "to_json: layer/arithmetic DAGs only"
                )
            if id(lyr) not in layer_ids:
                layer_ids[id(lyr)] = len(layers)
                layers.append(
                    {
                        "type": type(lyr).__name__,
                        "config": lyr.spec_config(),
                    }
                )
            nodes.append(
                {
                    "kind": "layer",
                    "layer": layer_ids[id(lyr)],
                    "inputs": [node_ids[id(i)] for i in node.call_inputs],
                }
            )
        return json.dumps(
            {
                "stub": "keras_stub-dag",
                "layers": layers,
                "nodes": nodes,
                "outputs": [node_ids[id(o)] for o in self._out_nodes()],
                "input": node_ids[id(in_node)],
            }
        )


# custom layers registered through keras.saving.register_keras_serializable
# (the stub records them so model_from_json can rebuild them by name)
CUSTOM_OBJECTS: dict = {}


def _builtin_registry() -> dict:
    reg = {
        c.__name__: c
        for c in (
            Dense, Dropout, LayerNormalization, BatchNormalization,
            GaussianNoise, Activation, LSTM, MultiHeadAttention,
            GlobalAveragePooling1D, Permute, Concatenate,
        )
    }
    reg.update(CUSTOM_OBJECTS)
    return reg


def model_from_json(spec: str) -> "Model":
    """Rebuild a layer-DAG model from ``Model.to_json`` output — the
    deserialization half of the engine's ship-spec-and-weights scoring
    path. Unknown layer types trigger a lazy import of the engine's
    custom layers (they self-register via register_keras_serializable
    on definition — the worker-side analogue of keras custom-object
    registration)."""
    d = json.loads(spec)
    if d.get("stub") != "keras_stub-dag":
        raise NotImplementedError("stub model_from_json: dag specs only")
    registry = _builtin_registry()
    if any(ld["type"] not in registry for ld in d["layers"]):
        from centimators_spark.ml.architectures import custom_layers

        custom_layers()  # defining them registers into CUSTOM_OBJECTS
        registry = _builtin_registry()
    layers = [
        registry[ld["type"]](**(ld.get("config") or {}))
        for ld in d["layers"]
    ]
    built: list = []
    inp = None
    for nd in d["nodes"]:
        if nd["kind"] == "input":
            node = Input(shape=tuple(nd["shape"] or ()))
            inp = node
        elif nd["kind"] == "op":
            node = Sym(
                op=nd["op"],
                operands=tuple(
                    o[1] if isinstance(o, list) else built[o]
                    for o in nd["operands"]
                ),
                op_kwargs=nd.get("kwargs"),
            )
        else:
            node = layers[nd["layer"]](
                *[built[i] for i in nd["inputs"]]
            )
        built.append(node)
    outs = [built[i] for i in d["outputs"]]
    return Model(
        inputs=inp, outputs=outs[0] if len(outs) == 1 else outs
    )


class Callback:
    def __init__(self, *a, **kw):
        pass


class _Initializer:
    def __init__(self, value=None):
        self.value = value

    def __call__(self, *a, **kw):
        return Sym()


def _initializers_get(name):
    return _Initializer(name)


def _initializers_serialize(obj):
    return getattr(obj, "value", str(obj))


class Optimizer:
    def __init__(self, learning_rate=1e-3, **kw):
        self.learning_rate = learning_rate


def _ops_fn(*_a, **_k):
    return Sym()


class Loss:
    """keras.losses.Loss: calling an instance runs its ``call``."""

    def __init__(self, name=None, **_kw):
        self.name = name

    def __call__(self, y_true, y_pred):
        return self.call(y_true, y_pred)


class MeanSquaredError(Loss):
    def call(self, y_true, y_pred):
        d = np.asarray(y_true, dtype=np.float64) - np.asarray(y_pred, dtype=np.float64)
        return float(np.mean(d * d))


def _make_module():
    keras = types.ModuleType("keras")
    keras.__doc__ = "keras_stub stand-in (tests/keras_stub.py)"

    layers = types.ModuleType("keras.layers")
    for n, obj in dict(
        Layer=Layer, Dense=Dense, Dropout=Dropout, Input=Input, LSTM=LSTM,
        Bidirectional=Bidirectional, LayerNormalization=LayerNormalization,
        BatchNormalization=BatchNormalization, GaussianNoise=GaussianNoise,
        Activation=Activation, MultiHeadAttention=MultiHeadAttention,
        Permute=Permute, GlobalAveragePooling1D=GlobalAveragePooling1D,
        Concatenate=Concatenate,
    ).items():
        setattr(layers, n, obj)

    models = types.ModuleType("keras.models")
    models.Model = Model
    models.model_from_json = model_from_json

    ops = types.ModuleType("keras.ops")
    for n in ("expand_dims softmax sum shape matmul transpose sigmoid "
              "reshape tile ones").split():
        setattr(ops, n, _ops_fn)

    # tier-3 evaluable ops: the NDF builder's ensemble combine —
    # stack(list, axis) records all tree outputs as operands; mean
    # collapses the tree axis. Other ops stay dead Syms (their graphs
    # remain structure-only), exactly as before.
    def _stack(xs, axis=0):
        return Sym(op="stack", operands=tuple(xs), op_kwargs={"axis": axis})

    def _mean(x, axis=None):
        return Sym(op="mean", operands=(x,), op_kwargs={"axis": axis})

    ops.stack = _stack
    ops.mean = _mean

    initializers = types.ModuleType("keras.initializers")
    initializers.get = _initializers_get
    initializers.serialize = _initializers_serialize
    initializers.Constant = _Initializer

    regularizers = types.ModuleType("keras.regularizers")
    regularizers.l2 = lambda v: ("l2", v)

    callbacks = types.ModuleType("keras.callbacks")
    callbacks.Callback = Callback

    optimizers = types.ModuleType("keras.optimizers")
    optimizers.Adam = Optimizer

    losses = types.ModuleType("keras.losses")
    losses.Loss = Loss
    losses.MeanSquaredError = MeanSquaredError

    distribution = types.ModuleType("keras.distribution")

    class DataParallel:
        def __init__(self, *a, **kw):
            pass

    distribution.DataParallel = DataParallel
    distribution.set_distribution = DISTRIBUTIONS.append

    saving = types.ModuleType("keras.saving")

    def _register(**_kw):
        def deco(cls):
            CUSTOM_OBJECTS[cls.__name__] = cls
            return cls

        return deco

    saving.register_keras_serializable = _register

    for n, mod in dict(
        layers=layers, models=models, ops=ops, initializers=initializers,
        regularizers=regularizers, callbacks=callbacks,
        optimizers=optimizers, saving=saving, distribution=distribution,
        losses=losses,
    ).items():
        setattr(keras, n, mod)
        sys.modules[f"keras.{n}"] = mod
    return keras


def install() -> bool:
    """Register the stub as ``keras`` unless real keras exists. Returns
    True when the stub (not real keras) is active."""
    try:
        import keras  # noqa: F401

        if "keras_stub" not in (getattr(keras, "__doc__", None) or ""):
            return False  # real keras wins
        # a stub module is present but may be a stale instance built
        # from a DIFFERENT keras_stub copy (addPyFile puts
        # tests/stub_pyfiles/keras.py on the driver's path too, and
        # its `import keras_stub` is a second module object with its
        # own CONSTRUCTED/CUSTOM_OBJECTS registries). Reinstall from
        # THIS module so tests read the registries they populate.
    except ImportError:
        pass
    sys.modules["keras"] = _make_module()
    return True
