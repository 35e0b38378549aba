"""Trained neural emission branch — backprop for the existing numpy
kernel (SURVEY M3/M7/M8 analog, reference model.py:394-465).

The reference's quality comes from a trained lexical-semantic emission
branch (BERT/BiLSTM, BertModel.py:53-114 + model.py:394-410) gate-fused
with the CRF (model.py:455-465). torch and the checkpoints are absent
from this environment, so this module trains the SAME architecture the
repo already ships in eval-mode numpy (nn.lstm_layer / nn.bilstm, M3):
a 1-layer BiLSTM over pretrained corpus Word2Vec embeddings with a
linear emission head, fitted with manual BPTT + Adam. The trainer's
forward is the exact recurrence of nn.lstm_layer (gate order i,f,o,g;
h0/c0 = 0), verified by tests/test_neural.py parity + gradient checks —
so inference can run through the existing kernel functions unchanged.

Fusion with the perceptron-CRF (the M8 analog) was measured two ways
(score fusion e_sp + lam*log-softmax vs stacked discrete prediction
features: the NOTES_r4.md experiment logs, where score fusion wins, and
NOTES_r5.md); the shipped configuration is whichever the valid split
selects.

Batching: sentences are bucketed by EXACT length, so no padding exists
anywhere in training — every batch is a dense (B, T, Din) tensor and
the reverse-direction LSTM never sees pad steps (the classic
variable-length-BPTT bug ruled out structurally).
"""

from __future__ import annotations

import numpy as np

from .nn import lstm_layer

N_CASES = 8  # casing_class output range (tagger.casing_class)


# ------------------------------------------------------------ embeddings

def build_embedding(words: list[str], vectors: np.ndarray
                    ) -> tuple[dict[str, int], np.ndarray]:
    """word→row lookup + matrix with row 0 reserved for OOV (zeros).
    Rows are unit-normalized: perceptron/cosine geometry, and it keeps
    the LSTM input scale independent of the Word2Vec training count."""
    mat = np.zeros((len(words) + 1, vectors.shape[1]), dtype=np.float32)
    norms = np.linalg.norm(vectors, axis=1, keepdims=True)
    mat[1:] = vectors / np.maximum(norms, 1e-8)
    lookup = {w: i + 1 for i, w in enumerate(words)}
    return lookup, mat


def sent_ids(tokens: list[str], lookup: dict[str, int]) -> np.ndarray:
    """Word ids with the kernel's lowercase fallback (J1 discipline)."""
    out = np.zeros(len(tokens), dtype=np.int64)
    for i, t in enumerate(tokens):
        out[i] = lookup.get(t) or lookup.get(t.lower(), 0)
    return out


def input_features(wids: np.ndarray, cases: np.ndarray, emb: np.ndarray
                   ) -> np.ndarray:
    """(..., T) ids → (..., T, Din): embedding row + casing one-hot +
    OOV flag. Din = emb_dim + N_CASES + 1."""
    x_emb = emb[wids]
    one = np.eye(N_CASES, dtype=np.float32)[np.clip(cases, 0, N_CASES - 1)]
    oov = (wids == 0).astype(np.float32)[..., None]
    return np.concatenate([x_emb, one, oov], axis=-1)


# ------------------------------------------------------- LSTM backward

def _lstm_forward_cached(x: np.ndarray, wx: np.ndarray, wh: np.ndarray,
                         b: np.ndarray, reverse: bool) -> tuple[np.ndarray, dict]:
    """nn.lstm_layer recurrence with per-step activations cached for
    BPTT. Returns (out (B,T,H), cache)."""
    B, T, D = x.shape
    H = wh.shape[0]
    h = np.zeros((B, H), dtype=np.float32)
    c = np.zeros((B, H), dtype=np.float32)
    steps = list(range(T - 1, -1, -1) if reverse else range(T))
    out = np.zeros((B, T, H), dtype=np.float32)
    xw = (x.reshape(B * T, D) @ wx).reshape(B, T, 4 * H) + b
    gates_i = np.zeros((B, T, H), dtype=np.float32)
    gates_f = np.zeros((B, T, H), dtype=np.float32)
    gates_o = np.zeros((B, T, H), dtype=np.float32)
    gates_g = np.zeros((B, T, H), dtype=np.float32)
    cells = np.zeros((B, T, H), dtype=np.float32)
    h_prev = np.zeros((B, T, H), dtype=np.float32)
    c_prev = np.zeros((B, T, H), dtype=np.float32)
    with np.errstate(over="ignore"):
        for t in steps:
            h_prev[:, t] = h
            c_prev[:, t] = c
            g = xw[:, t, :] + h @ wh
            sg = 1.0 / (1.0 + np.exp(-g[:, : 3 * H]))
            i, f, o = sg[:, :H], sg[:, H: 2 * H], sg[:, 2 * H:]
            gg = np.tanh(g[:, 3 * H:])
            c = f * c + i * gg
            h = o * np.tanh(c)
            out[:, t, :] = h
            gates_i[:, t], gates_f[:, t], gates_o[:, t], gates_g[:, t] = i, f, o, gg
            cells[:, t] = c
    cache = dict(x=x, steps=steps, i=gates_i, f=gates_f, o=gates_o,
                 g=gates_g, c=cells, h_prev=h_prev, c_prev=c_prev, wh=wh, wx=wx)
    return out, cache


def _lstm_backward(dout: np.ndarray, cache: dict
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """BPTT through one direction. dout (B,T,H) → (dx, dwx, dwh, db)."""
    x, steps = cache["x"], cache["steps"]
    wh, wx = cache["wh"], cache["wx"]
    B, T, D = x.shape
    H = wh.shape[0]
    dwx = np.zeros_like(wx)
    dwh = np.zeros_like(wh)
    db = np.zeros(4 * H, dtype=np.float64)
    dg_all = np.zeros((B, T, 4 * H), dtype=np.float32)
    dh = np.zeros((B, H), dtype=np.float32)
    dc = np.zeros((B, H), dtype=np.float32)
    for t in reversed(steps):
        i, f, o, g = (cache[k][:, t] for k in ("i", "f", "o", "g"))
        c = cache["c"][:, t]
        tc = np.tanh(c)
        dh = dh + dout[:, t]
        do = dh * tc
        dc = dc + dh * o * (1.0 - tc * tc)
        di = dc * g
        dgg = dc * i
        df = dc * cache["c_prev"][:, t]
        dg = np.concatenate([
            di * i * (1 - i), df * f * (1 - f), do * o * (1 - o),
            dgg * (1 - g * g),
        ], axis=1)
        dg_all[:, t] = dg
        dwh += cache["h_prev"][:, t].T.astype(np.float64) @ dg
        dh = dg @ wh.T
        dc = dc * f
    flat = dg_all.reshape(B * T, 4 * H)
    dwx = (x.reshape(B * T, D).T @ flat).astype(np.float32)
    db = flat.sum(axis=0)
    dx = (flat @ wx.T).reshape(B, T, D)
    return dx, dwx, dwh.astype(np.float32), db.astype(np.float32)


# ---------------------------------------------------------------- model

def init_weights(din: int, hidden: int, n_labels: int, seed: int
                 ) -> dict[str, np.ndarray]:
    """Glorot-uniform init in nn.bilstm's weight-dict naming (layer 0)
    plus the emission head; forget-gate bias +1 (standard)."""
    rng = np.random.default_rng(seed)

    def glorot(a, b):
        s = np.sqrt(6.0 / (a + b))
        return rng.uniform(-s, s, size=(a, b)).astype(np.float32)

    w: dict[str, np.ndarray] = {}
    for d in ("fw", "bw"):
        w[f"lstm0_{d}_wx"] = glorot(din, 4 * hidden)
        w[f"lstm0_{d}_wh"] = glorot(hidden, 4 * hidden)
        b = np.zeros(4 * hidden, dtype=np.float32)
        b[hidden: 2 * hidden] = 1.0
        w[f"lstm0_{d}_b"] = b
    w["em_w"] = glorot(2 * hidden, n_labels)
    w["em_b"] = np.zeros(n_labels, dtype=np.float32)
    return w


def forward_logits(x: np.ndarray, w: dict[str, np.ndarray]) -> np.ndarray:
    """Eval-mode forward through the EXISTING kernel recurrence
    (nn.lstm_layer — the shipped M3): (B,T,Din) → (B,T,L) logits."""
    fw = lstm_layer(x, w["lstm0_fw_wx"], w["lstm0_fw_wh"], w["lstm0_fw_b"])
    bw = lstm_layer(x, w["lstm0_bw_wx"], w["lstm0_bw_wh"], w["lstm0_bw_b"],
                    reverse=True)
    h = np.concatenate([fw, bw], axis=-1)
    return h @ w["em_w"] + w["em_b"]


def _forward_train(x: np.ndarray, w: dict) -> tuple[np.ndarray, dict]:
    fw, cf = _lstm_forward_cached(x, w["lstm0_fw_wx"], w["lstm0_fw_wh"],
                                  w["lstm0_fw_b"], reverse=False)
    bw, cb = _lstm_forward_cached(x, w["lstm0_bw_wx"], w["lstm0_bw_wh"],
                                  w["lstm0_bw_b"], reverse=True)
    h = np.concatenate([fw, bw], axis=-1)
    logits = h @ w["em_w"] + w["em_b"]
    return logits, {"cf": cf, "cb": cb, "h": h}


def _backward_train(dlogits: np.ndarray, w: dict, cache: dict
                    ) -> dict[str, np.ndarray]:
    B, T, L = dlogits.shape
    H2 = cache["h"].shape[-1]
    g: dict[str, np.ndarray] = {}
    hf = cache["h"].reshape(B * T, H2)
    dl = dlogits.reshape(B * T, L)
    g["em_w"] = (hf.T.astype(np.float64) @ dl).astype(np.float32)
    g["em_b"] = dl.sum(axis=0).astype(np.float32)
    dh = (dl @ w["em_w"].T).reshape(B, T, H2)
    H = H2 // 2
    _dxf, g["lstm0_fw_wx"], g["lstm0_fw_wh"], g["lstm0_fw_b"] = _lstm_backward(
        dh[:, :, :H], cache["cf"])
    _dxb, g["lstm0_bw_wx"], g["lstm0_bw_wh"], g["lstm0_bw_b"] = _lstm_backward(
        dh[:, :, H:], cache["cb"])
    return g


def _softmax_ce_grad(logits: np.ndarray, gold: np.ndarray,
                     tok_w: np.ndarray) -> tuple[float, np.ndarray]:
    """Per-token weighted cross-entropy → (mean loss, dlogits/B·T)."""
    B, T, L = logits.shape
    m = logits.max(axis=-1, keepdims=True)
    p = np.exp(logits - m)
    p /= p.sum(axis=-1, keepdims=True)
    idx = (np.arange(B)[:, None], np.arange(T)[None, :], gold)
    loss = float((-np.log(np.maximum(p[idx], 1e-12)) * tok_w).sum()
                 / max(tok_w.sum(), 1e-12))
    d = p.copy()
    d[idx] -= 1.0
    d *= tok_w[..., None] / max(tok_w.sum(), 1e-12)
    return loss, d.astype(np.float32)


class AdamState:
    def __init__(self, w: dict[str, np.ndarray], lr: float = 1e-3,
                 b1: float = 0.9, b2: float = 0.999, eps: float = 1e-8):
        self.lr, self.b1, self.b2, self.eps = lr, b1, b2, eps
        self.m = {k: np.zeros_like(v, dtype=np.float64) for k, v in w.items()}
        self.v = {k: np.zeros_like(v, dtype=np.float64) for k, v in w.items()}
        self.t = 0

    def step(self, w: dict[str, np.ndarray], g: dict[str, np.ndarray]) -> None:
        self.t += 1
        bc1 = 1 - self.b1 ** self.t
        bc2 = 1 - self.b2 ** self.t
        for k, gk in g.items():
            self.m[k] = self.b1 * self.m[k] + (1 - self.b1) * gk
            self.v[k] = self.b2 * self.v[k] + (1 - self.b2) * gk.astype(np.float64) ** 2
            w[k] -= (self.lr * (self.m[k] / bc1)
                     / (np.sqrt(self.v[k] / bc2) + self.eps)).astype(np.float32)


def train_bilstm(data: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
                 emb: np.ndarray, n_labels: int, o_id: int, *,
                 hidden: int = 100, epochs: int = 12, lr: float = 1e-3,
                 nonO_weight: float = 2.0, batch_cap: int = 64,
                 seed: int = 5, max_len: int = 256,
                 word_dropout: float = 0.0,
                 ) -> tuple[dict[str, np.ndarray], list[float]]:
    """Fit the BiLSTM emission branch. `data` = per-sentence
    (word_ids, casing_ids, gold_label_ids); sentences are grouped by
    exact length (no padding, see module docstring), shuffled at batch
    granularity each epoch. Returns (weights, per-epoch mean loss) —
    the A5 convergence signal for this branch. `word_dropout` replaces
    each word id with OOV (0) at that rate during training only — the
    model must then tag from context, the standard lever for
    open-vocabulary recall (the OOV-tool failure mode)."""
    din = emb.shape[1] + N_CASES + 1
    w = init_weights(din, hidden, n_labels, seed)
    opt = AdamState(w, lr=lr)
    rng = np.random.default_rng(seed + 1)
    by_len: dict[int, list[int]] = {}
    for i, (wid, _c, _g) in enumerate(data):
        ln = len(wid)
        if 0 < ln <= max_len:
            by_len.setdefault(ln, []).append(i)
    batches: list[list[int]] = []
    for ln in sorted(by_len):
        idxs = by_len[ln]
        for s in range(0, len(idxs), batch_cap):
            batches.append(idxs[s: s + batch_cap])
    losses: list[float] = []
    for _ep in range(epochs):
        tot = 0.0
        n = 0
        for bi in rng.permutation(len(batches)):
            idxs = batches[bi]
            wid = np.stack([data[i][0] for i in idxs])
            cas = np.stack([data[i][1] for i in idxs])
            gold = np.stack([data[i][2] for i in idxs])
            if word_dropout > 0.0:
                wid = np.where(rng.random(wid.shape) < word_dropout, 0, wid)
            x = input_features(wid, cas, emb)
            logits, cache = _forward_train(x, w)
            tok_w = np.where(gold != o_id, nonO_weight, 1.0)
            loss, dl = _softmax_ce_grad(logits, gold, tok_w)
            grads = _backward_train(dl, w, cache)
            opt.step(w, grads)
            tot += loss * len(idxs)
            n += len(idxs)
        losses.append(tot / max(n, 1))
    return w, losses


def log_softmax(logits: np.ndarray) -> np.ndarray:
    m = logits.max(axis=-1, keepdims=True)
    z = logits - m
    return z - np.log(np.exp(z).sum(axis=-1, keepdims=True))


# ----------------------------------------- artifact-bundle integration
#
# The trained branch ships inside the sparse-CRF artifact as "nn_*"
# arrays (perceptron.save_artifact): dense BiLSTM + head weights, the
# embedding table + vocab, and nn_cfg = [mode, lam] where mode 1 =
# score fusion (emissions += lam*log-softmax) and mode 2 = stacked
# prediction features (_sent_features extra columns). The one trained
# decode (perceptron.decode_batch, behind both TaggerKernel.tag and
# perceptron.decode_sents) takes the branch these helpers resolve.

MODE_OFF, MODE_SCORE, MODE_STACK = 0, 1, 2

_MARGIN_EDGES = (1.0, 2.0, 4.0, 8.0)


def emb_from_arts(arts: dict) -> tuple[np.ndarray, dict[str, int]] | None:
    """(emb matrix, word→row lookup) when the bundle ships the embedding
    table — needed by the dense attribution-classifier block even when
    the emission branch itself is off."""
    if "nn_emb" not in arts or "nn_words" not in arts:
        return None
    emb = np.asarray(arts["nn_emb"], dtype=np.float32)
    lookup = {str(t): i + 1 for i, t in enumerate(arts["nn_words"])}
    return emb, lookup


def branch_from_arts(arts: dict) -> tuple[list[dict], np.ndarray, dict[str, int], int, float] | None:
    """([member weights...], emb, lookup, mode, lam) from an artifact
    bundle, or None when no trained neural branch is present. Members
    are an ensemble of independently-seeded fits whose log-softmax
    outputs are averaged (geometric-mean distribution) — measured
    +0.010 span F1 over the best single member on DNRTI valid. Keys:
    multi-member bundles use nn_m{i}_<w>; a single member may use the
    bare nn_<w> form."""
    if "nn_cfg" not in arts:
        return None
    cfg = np.asarray(arts["nn_cfg"], dtype=np.float64)
    mode = int(cfg[0])
    if mode == MODE_OFF:
        return None
    pair = emb_from_arts(arts)
    if pair is None:
        return None
    emb, lookup = pair
    members: list[dict] = []
    for i in range(64):
        pre = f"nn_m{i}_"
        w = {k[len(pre):]: np.asarray(arts[k], dtype=np.float32)
             for k in arts if k.startswith(pre)}
        if not w:
            break
        members.append(w)
    if not members:
        w = {
            k[3:]: np.asarray(arts[k], dtype=np.float32)
            for k in arts
            if k.startswith("nn_lstm") or k in ("nn_em_w", "nn_em_b")
        }
        if not w:
            return None
        members = [w]
    return members, emb, lookup, mode, float(cfg[1])


def sent_logits(tokens: list[str], w: dict, emb: np.ndarray,
                lookup: dict[str, int]) -> np.ndarray:
    """(T, L) logits for one sentence through the shipped eval kernel."""
    from .tagger import casing_class

    wid = sent_ids(tokens, lookup)
    cas = np.array([casing_class(t) for t in tokens], dtype=np.int64)
    x = input_features(wid[None], cas[None], emb)
    return forward_logits(x, w)[0]


def sent_logprob(tokens: list[str], members: list[dict], emb: np.ndarray,
                 lookup: dict[str, int]) -> np.ndarray:
    """(T, L) ensemble log-probabilities: mean of per-member
    log-softmax, renormalized (log of the geometric-mean distribution).
    The (B=1) forward per member is T small GEMMs; this is the
    per-sentence reference for batch_logprob, which the decode uses."""
    lps = [log_softmax(sent_logits(tokens, w, emb, lookup).astype(np.float64))
           for w in members]
    return log_softmax(np.mean(lps, axis=0))


def batch_logprob(sents: list[list[str]], members: list[dict],
                  emb: np.ndarray, lookup: dict[str, int]
                  ) -> list[np.ndarray]:
    """Per-sentence (T_i, L) ensemble log-probabilities for a whole
    chunk — the same math as sent_logprob, batched across EXACT-LENGTH
    groups so each member forward is one (G,T) GEMM sequence instead of
    per-sentence ones (measured: the branch was 91% of trained tag time
    per-sentence). Exact-length grouping means no padding, so the
    reverse LSTM direction never sees pad steps and the result matches
    the per-sentence sent_logprob (parity-tested).

    Tolerance contract against sent_logprob (not bit-identity): float32
    GEMM blocking makes the batched member forwards drift ~1e-6 in
    logits vs the B=1 path; MODE_SCORE fusion multiplies emissions by
    lam (≤192), amplifying that to ~2e-4 on fused emissions, so a
    near-exact Viterbi tie can in principle resolve differently from a
    per-sentence decode. The parity test asserts agreement at this
    tolerance; consumers must not assume stronger."""
    from .tagger import casing_class

    out: list[np.ndarray | None] = [None] * len(sents)
    n_labels = members[0]["em_b"].shape[0]
    groups: dict[int, list[int]] = {}
    for i, s in enumerate(sents):
        groups.setdefault(len(s), []).append(i)
    for T, idxs in groups.items():
        if T == 0:
            for i in idxs:
                out[i] = np.zeros((0, n_labels), dtype=np.float64)
            continue
        wid = np.stack([sent_ids(sents[i], lookup) for i in idxs])
        cas = np.stack([
            np.array([casing_class(t) for t in sents[i]], dtype=np.int64)
            for i in idxs
        ])
        x = input_features(wid, cas, emb)
        lps = [log_softmax(forward_logits(x, w).astype(np.float64))
               for w in members]
        lp = log_softmax(np.mean(lps, axis=0))
        for j, i in enumerate(idxs):
            out[i] = lp[j]
    return out


def stack_extra(logits: np.ndarray, id2label: dict[int, str]
                ) -> list[tuple[str, str, str, str]]:
    """Stacked feature strings for one sentence (mode 2): branch argmax
    at t, t±1, and argmax×top1-top2-margin bucket — the discrete
    interface through which the CRF learns when to trust the branch
    (the learned analog of the reference's gate fusion,
    model.py:455-465)."""
    T = logits.shape[0]
    labs = [id2label[int(i)] for i in logits.argmax(axis=-1)]
    if logits.shape[1] > 1:
        srt = np.sort(logits, axis=-1)
        marg = srt[:, -1] - srt[:, -2]
    else:
        marg = np.zeros(T)
    mb = np.searchsorted(_MARGIN_EDGES, marg)
    out = []
    for t in range(T):
        out.append((
            "nn0=" + labs[t],
            "nn-1=" + (labs[t - 1] if t else "<s>"),
            "nn+1=" + (labs[t + 1] if t + 1 < T else "</s>"),
            "nnm=%s_%d" % (labs[t], mb[t]),
        ))
    return out
