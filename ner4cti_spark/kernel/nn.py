"""Eval-mode neural forward passes in vectorized numpy.

Re-derivations (not ports) of the reference kernels — SURVEY §2.9:
M1 char CNN (char_CNN.py:10-49), M2 feature fusion (model.py:190-215),
M3 BiLSTM (model.py:394-410), M4 multi-head attention
(Transformer_module.py:15-60). All ops are batched over the full Arrow
batch: shapes (B, T, ·); no per-row Python.
"""

from __future__ import annotations

import numpy as np


def stable_hash_ids(tokens: np.ndarray, n_buckets: int) -> np.ndarray:
    """Deterministic token→bucket hashing (FNV-1a over utf-8), replacing
    the fitted word vocab (data_utils.py:109) when none is supplied."""
    out = np.empty(tokens.shape, dtype=np.int64)
    flat = tokens.ravel()
    res = out.ravel()
    for i, t in enumerate(flat):
        h = np.uint64(14695981039346656037)
        for b in t.encode("utf-8", "ignore"):
            h = np.uint64((int(h) ^ b) * 1099511628211 & 0xFFFFFFFFFFFFFFFF)
        res[i] = int(h) % n_buckets
    return out


def char_ids(tokens: list[list[str]], maxlen_t: int, char_maxlen: int, n_chars: int) -> np.ndarray:
    """(B, T, C) char ids; printable-ascii ids 1..~97, 0=pad, OOV folds."""
    B = len(tokens)
    out = np.zeros((B, maxlen_t, char_maxlen), dtype=np.int64)
    for b, sent in enumerate(tokens):
        for t, tok in enumerate(sent[:maxlen_t]):
            for c, ch in enumerate(tok[:char_maxlen]):
                out[b, t, c] = (ord(ch) % (n_chars - 1)) + 1
    return out


def char_cnn(cids: np.ndarray, emb: np.ndarray, conv_w: np.ndarray, conv_b: np.ndarray,
             kernel: int) -> np.ndarray:
    """(B,T,C) ids → (B,T,D) via conv-over-chars + ReLU + max-pool (M1).
    Conv computed as k offset GEMMs (no window materialization)."""
    B, T, C = cids.shape
    x = emb[cids]                                   # (B,T,C,Dc)
    Dc = x.shape[-1]
    nwin = C - kernel + 1
    h = np.broadcast_to(conv_b, (B, T, nwin, Dc)).copy()
    for j in range(kernel):
        wj = conv_w[j * Dc : (j + 1) * Dc, :]       # (Dc,Dc)
        h += x[:, :, j : j + nwin, :] @ wj
    np.maximum(h, 0.0, out=h)
    return h.max(axis=2)                            # (B,T,Dc)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    # clip-free: exp overflow → inf → result 0.0, which is correct
    with np.errstate(over="ignore"):
        return 1.0 / (1.0 + np.exp(-x))


def lstm_layer(x: np.ndarray, wx: np.ndarray, wh: np.ndarray, b: np.ndarray,
               reverse: bool = False) -> np.ndarray:
    """One directional LSTM over (B,T,D) → (B,T,H). h0/c0 = 0 (pinned —
    the reference's random init at model.py:217-220 is a documented
    deviation-for-determinism). Gate order: i,f,o,g — the three sigmoid
    gates contiguous so one fused sigmoid covers them."""
    B, T, D = x.shape
    H = wh.shape[0]
    h = np.zeros((B, H), dtype=np.float32)
    c = np.zeros((B, H), dtype=np.float32)
    steps = range(T - 1, -1, -1) if reverse else range(T)
    out = np.zeros((B, T, H), dtype=np.float32)
    # hoist the input projection: one (B·T, D)@(D, 4H) GEMM instead of T
    # small ones — the recurrent h@wh is the only per-step matmul left
    xw = (x.reshape(B * T, D) @ wx).reshape(B, T, 4 * H) + b
    for t in steps:
        g = xw[:, t, :] + h @ wh
        gates = _sigmoid(g[:, : 3 * H])
        i, f, o = gates[:, :H], gates[:, H : 2 * H], gates[:, 2 * H :]
        c = f * c + i * np.tanh(g[:, 3 * H :])
        h = o * np.tanh(c)
        out[:, t, :] = h
    return out


def bilstm(x: np.ndarray, w: dict[str, np.ndarray], layers: int) -> np.ndarray:
    """Stacked BiLSTM (M3): concat fw/bw per layer."""
    h = x
    for layer in range(layers):
        fw = lstm_layer(h, w[f"lstm{layer}_fw_wx"], w[f"lstm{layer}_fw_wh"], w[f"lstm{layer}_fw_b"])
        bw = lstm_layer(
            h, w[f"lstm{layer}_bw_wx"], w[f"lstm{layer}_bw_wh"], w[f"lstm{layer}_bw_b"], reverse=True
        )
        h = np.concatenate([fw, bw], axis=-1)
    return h


def sinusoidal_pe(T: int, D: int) -> np.ndarray:
    """(T, D) sin/cos positional table — W3 (Position_Emb.py:13-28):
    pe[t, 2i] = sin(t / 10000^(2i/D)), pe[t, 2i+1] = cos(...)."""
    pos = np.arange(T, dtype=np.float32)[:, None]
    div = np.exp(np.arange(0, D, 2, dtype=np.float32) * (-np.log(10000.0) / D))
    pe = np.zeros((T, D), dtype=np.float32)
    pe[:, 0::2] = np.sin(pos * div)
    pe[:, 1::2] = np.cos(pos * div[: pe[:, 1::2].shape[1]])
    return pe


def multihead_attention(x: np.ndarray, w: dict[str, np.ndarray], n_heads: int,
                        mask: np.ndarray) -> np.ndarray:
    """Scaled-dot multi-head self-attention + residual + LayerNorm (M4).
    mask: (B,T) bool, True=valid."""
    B, T, D = x.shape
    Dh = D // n_heads

    def split_heads(y: np.ndarray) -> np.ndarray:
        return y.reshape(B, T, n_heads, Dh).transpose(0, 2, 1, 3)  # (B,h,T,Dh)

    q, k, v = (split_heads(x @ w[f"attn_{n}w"]) for n in ("q", "k", "v"))
    scores = q @ k.transpose(0, 1, 3, 2) / np.sqrt(Dh)             # (B,h,T,T)
    scores = np.where(mask[:, None, None, :], scores, -1e9)
    scores = scores - scores.max(axis=-1, keepdims=True)
    p = np.exp(scores)
    p = p / p.sum(axis=-1, keepdims=True)
    ctx = (p @ v).transpose(0, 2, 1, 3).reshape(B, T, D) @ w["attn_ow"]
    y = x + ctx
    mu = y.mean(axis=-1, keepdims=True)
    sd = y.std(axis=-1, keepdims=True) + 1e-5
    return (y - mu) / sd * w["attn_ln_g"] + w["attn_ln_b"]

