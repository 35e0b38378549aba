"""Trained linear-chain CRF tagger — averaged structured perceptron.

This is the engine's TRAINED emission model (SURVEY M10/M14 analog). The
reference trains torch BiLSTM/BERT+CRF (main.py:96-191, loss in
CRF_classes.py:14-110); torch and the checkpoints are absent from this
environment, so the engine learns the same decision structure — per-token
emission scores + label-transition scores decoded by Viterbi — with a
numpy averaged structured perceptron (Collins 2002) over hashed sparse
features. The CRF DP is shared with the rest of the kernel
(crf.viterbi_decode, W5).

Features per token (fixed-width K templates, crc32-hashed into
`buckets`): word identity ±2 window, bigrams, prefixes/suffixes, word
shape, casing class (F1), heuristic UPOS (F4, kernel/pos.py), gazetteer
longest-match tag (the lexicon branch as FEATURES, so the learner weighs
lexicon vs context evidence), and regex indicator classes.

`train_crf` fits on the driver: the training corpora are
vocabulary-sized.
"""

from __future__ import annotations

import zlib

import numpy as np

from . import gazetteer, pos
from .crf import viterbi_decode
from .labels import SPECIALS, LabelSpace

N_BUCKETS = 1 << 19

# same truncation as the inference kernel (tagger.MAX_SEQ_LEN,
# reference arguments.py:33) — training, driver decode, and executor
# decode must featurize identical token windows
MAX_LEN = 256

# fixed template count (see _sent_features) — every position emits
# exactly K hashed features, so emissions are one fancy-index + sum
N_TEMPLATES = 30

_NEG = -1e4


def _digit_norm(lw: str) -> str:
    """Digit-collapsed word form: 'cve-2017-0144' → 'cve-0-0' — one
    feature for a whole family of numbered variants."""
    out: list[str] = []
    for c in lw:
        if c.isdigit():
            if not out or out[-1] != "0":
                out.append("0")
        else:
            out.append(c)
    return "".join(out)


def _shape(tok: str) -> str:
    """Word shape with runs compressed: 'CVE-2017' → 'Xd' style."""
    out: list[str] = []
    for c in tok:
        k = "X" if c.isupper() else "x" if c.islower() else "d" if c.isdigit() else "."
        if not out or out[-1] != k:
            out.append(k)
    return "".join(out)


def _casing(tok: str) -> int:
    from .tagger import casing_class  # local import: tagger imports this module

    return casing_class(tok)


def _sent_features(tokens: list[str], lexicon: gazetteer.PhraseMatcher,
                   use_patterns: bool, buckets: int,
                   clusters: dict | None = None,
                   extra: list[tuple[str, ...]] | None = None) -> np.ndarray:
    """(T, K) int32 hashed feature ids. Pure function of the sentence +
    lexicon (+ optional word-cluster map) — identical on driver and
    executors. `extra` optionally appends per-token feature strings
    (len == len(tokens), equal tuple widths) — the stacking hook for
    the trained neural emission branch (kernel/neural.py): its
    predictions enter as features the CRF learns to weigh, the learned
    analog of the reference's gate fusion (model.py:455-465).

    `clusters` maps lowercased word → (coarse, fine) k-means cluster ids
    over corpus-trained Word2Vec vectors (training.word_clusters) — the
    semi-supervised generalization signal (Brown-cluster style): unseen
    inflections share a cluster with seen ones, so entity evidence
    transfers across an open vocabulary."""
    T = len(tokens)
    lows = ["<s>", "<s>"] + [t.lower() for t in tokens] + ["</s>", "</s>"]
    upos_t = ["<s>"] + [pos.upos(t) for t in tokens] + ["</s>"]
    case_t = [_casing(t) for t in tokens]
    lex = lexicon.bio(tokens)
    pat = [
        (gazetteer.classify_token(t) or "-") if use_patterns else "-"
        for t in tokens
    ]
    if clusters:
        cl = [clusters.get(lw, ("-", "-")) for lw in lows[2:-2]]
        c_coarse = ["<s>"] + ["%s" % c[0] for c in cl] + ["</s>"]
        c_fine = ["%s" % c[1] for c in cl]
    else:
        c_coarse = ["-"] * (T + 2)
        c_fine = ["-"] * T
    # sentence-level attribution evidence, identical at every position:
    # which lexicon etypes the sentence contains and how many lexicon
    # spans (bucketed). Corpora whose annotations are sentence-conditional
    # (MalwareTextDB marks only 'attributed' sentences) need the tagger
    # to see sentence-scope signal, not just the local window.
    slex = "slex=" + (",".join(sorted({t[2:] for t in lex if t != "O"})) or "-")
    nlex = "nlex=%d" % min(sum(t.startswith("B-") for t in lex), 5)
    n_extra = len(extra[0]) if extra and len(extra) and len(extra[0]) else 0
    out = np.empty((T, N_TEMPLATES + n_extra), dtype=np.int64)
    for i in range(T):
        lw = lows[i + 2]
        fs = (
            "b",
            "w0=" + lw,
            "w-1=" + lows[i + 1],
            "w+1=" + lows[i + 3],
            "w-2=" + lows[i],
            "w+2=" + lows[i + 4],
            "bg-=" + lows[i + 1] + "_" + lw,
            "bg+=" + lw + "_" + lows[i + 3],
            "p2=" + lw[:2],
            "p3=" + lw[:3],
            "s2=" + lw[-2:],
            "s3=" + lw[-3:],
            "s4=" + lw[-4:],
            "sh=" + _shape(tokens[i]),
            "cs=%d" % case_t[i],
            "cs2=%d_%d" % (case_t[i - 1] if i else 7, case_t[i]),
            "pos=" + upos_t[i + 1],
            "pt=" + upos_t[i] + "_" + upos_t[i + 1] + "_" + upos_t[i + 2],
            "lex=" + lex[i],
            "lexc=" + lex[i] + "_%d" % case_t[i],
            "pat=" + pat[i],
            "wor=" + tokens[i],
            "c0=" + c_coarse[i + 1],
            "c-1=" + c_coarse[i],
            "c+1=" + c_coarse[i + 2],
            "C0=" + c_fine[i],
            slex,
            nlex,
            "dw0=" + _digit_norm(lw),
            "sh-1=" + (_shape(tokens[i - 1]) if i else "<s>"),
        )
        if n_extra:
            fs = fs + tuple(extra[i])
        for k, f in enumerate(fs):
            out[i, k] = zlib.crc32(f.encode("utf-8"))
    return (out % buckets).astype(np.int32)


# ------------------- sentence-attribution classifier (two-pass, M10+)
#
# MalwareTextDB-style corpora annotate only ATTRIBUTED sentences (the
# sentence-level context decides whether token spans exist at all), so a
# single token CRF trained on the full split learns a crushing O prior
# and recall caps ~0.23. The two-pass analog of the reference's
# sentence-conditional semantics (MalwareDB/read_MalwareTextDB.py corpus
# construction): a binary averaged margin perceptron decides attribution,
# gating a token CRF trained on attributed sentences only; non-gated
# sentences fall back to the full-split model. Measured (valid-selected,
# test-reported): span F1 0.326 → ~0.38.

CLF_BUCKETS = 1 << 18


def clf_features(tokens: list[str], lexicon: gazetteer.PhraseMatcher,
                 clusters: dict | None) -> np.ndarray:
    """Sentence-level hashed feature ids (unique, variable length):
    unigrams/bigrams, lexicon etypes present + span count, length bucket,
    shapes, UPOS inventory + verb count, word-cluster ids, digit-collapsed
    forms."""
    from . import pos as _pos

    lows = [t.lower() for t in tokens]
    lt = lexicon.bio(tokens)
    up = [_pos.upos(t) for t in tokens]
    fs = ["b"]
    fs += ["w=" + w for w in set(lows)]
    fs += ["bg=" + a + "_" + b for a, b in zip(lows, lows[1:])]
    fs += ["lex=" + e for e in sorted({t[2:] for t in lt if t != "O"})]
    fs.append("nlex=%d" % min(sum(t.startswith("B-") for t in lt), 5))
    fs.append("len=%d" % min(len(tokens) // 5, 8))
    fs += ["sh=" + _shape(t) for t in set(tokens)]
    fs += ["up=" + u for u in set(up)]
    fs.append("nv=%d" % min(sum(1 for u in up if u == "VERB"), 5))
    if clusters:
        cl = [clusters.get(w) for w in lows]
        fs += ["c=%s" % c[0] for c in cl if c]
        fs += ["C=%s" % c[1] for c in cl if c]
    fs += ["dw=" + _digit_norm(w) for w in set(lows)]
    return np.unique(
        np.array([zlib.crc32(f.encode("utf-8")) % CLF_BUCKETS for f in fs],
                 dtype=np.int64)
    )


def sent_mean_emb(tokens: list[str], lookup: dict[str, int],
                  emb: np.ndarray) -> np.ndarray:
    """Dense sentence feature for the attribution classifier: mean of
    the (unit-normalized) corpus-Word2Vec rows of in-vocab tokens —
    the continuous semantic signal the discrete clf features lack."""
    if not tokens:
        return np.zeros(emb.shape[1], dtype=np.float64)
    ids = np.array([lookup.get(t) or lookup.get(t.lower(), 0) for t in tokens],
                   dtype=np.int64)
    hit = ids[ids > 0]
    if not len(hit):
        return np.zeros(emb.shape[1], dtype=np.float64)
    return emb[hit].mean(axis=0).astype(np.float64)


def train_sentence_clf(sents: list[tuple[list[str], list[str]]], phrases: dict,
                       *, clusters: dict | None = None, epochs: int = 15,
                       seed: int = 7, tau: float = 1.0, pos_w: float = 3.0,
                       dense: list[np.ndarray] | None = None
                       ) -> np.ndarray | tuple[np.ndarray, np.ndarray | None]:
    """Averaged margin perceptron over clf_features; label = sentence has
    any non-O gold tag. `pos_w` upweights positive updates (downstream
    span recall depends on gate recall more than gate precision).
    `dense` optionally adds a per-sentence real-valued feature block
    (sent_mean_emb) with its own averaged weight vector — returns
    (sparse_w, dense_w) in that case; gate score = w[f].sum() + wd·d."""
    lexicon = gazetteer.PhraseMatcher(phrases)
    w = np.zeros(CLF_BUCKETS, dtype=np.float64)
    wa = np.zeros(CLF_BUCKETS, dtype=np.float64)
    rng = np.random.default_rng(seed)
    kept = [(list(t), g) for t, g in sents if t]
    feats = [
        (clf_features(t, lexicon, clusters),
         1.0 if any(x != "O" for x in g) else -1.0)
        for t, g in kept
    ]
    want_dense = dense is not None
    if want_dense:
        if len(dense) != len(sents):
            raise ValueError(
                f"dense has {len(dense)} rows for {len(sents)} sentences"
            )
        dense = [d for (t, _g), d in zip(sents, dense) if t]
        dd = len(dense[0]) if dense else 0
        if not dense:  # every sentence empty: nothing to fit against —
            dense = None  # train sparse-only; dense half returned as None
        wd = np.zeros(dd, dtype=np.float64)
        wda = np.zeros(dd, dtype=np.float64)
    t_step = 0
    for _ in range(epochs):
        for i in rng.permutation(len(feats)):
            f, y = feats[i]
            t_step += 1
            score = w[f].sum() + (wd @ dense[i] if dense is not None else 0.0)
            if y * score < tau:
                step = y * (pos_w if y > 0 else 1.0)
                w[f] += step
                wa[f] += step * t_step
                if dense is not None:
                    wd += step * dense[i]
                    wda += step * t_step * dense[i]
    w_out = (w - wa / max(t_step, 1)).astype(np.float32)
    if want_dense:
        if dense is None:
            # every sentence was empty: there is no dense block to fit —
            # return None instead of a zero-length vector so callers
            # don't persist a clf_dw whose shape can never match
            # sent_mean_emb at decode time
            return w_out, None
        return w_out, (wd - wda / max(t_step, 1)).astype(np.float32)
    return w_out


# gate: attributed iff clf > GATE_C_HI, or clf > GATE_C_LO and the attr
# model's Viterbi margin over the all-O path > GATE_M_TAU (valid-selected)
GATE_C_HI = 0.0
GATE_C_LO = -20.0
GATE_M_TAU = 40.0


def _tag_spans(tags: list[str]) -> list[tuple[int, int, str]]:
    """BIO tags → (begin, end, etype) spans (I- without a continuing
    prefix starts a new span, same discipline as conll.extract_span_rows)."""
    out: list[tuple[int, int, str]] = []
    b = None
    et = None
    for i, t in enumerate(tags):
        if t[:2] in ("B-", "I-"):
            e = t[2:]
            if t.startswith("B-") or e != et or b is None:
                if b is not None:
                    out.append((b, i, et))
                b, et = i, e
        else:
            if b is not None:
                out.append((b, i, et))
            b, et = None, None
    if b is not None:
        out.append((b, len(tags), et))
    return out


def merge_tag_spans(primary: list[str], secondary: list[str]) -> list[str]:
    """Primary tags plus every secondary span that does not overlap a
    primary span — the two-pass span-level union (the full-split model
    recovers spans the attributed-trained model missed inside gated
    sentences; measured +0.4 span F1 at held precision)."""
    out = list(primary)
    p_sp = _tag_spans(primary)
    for b0, b1, et in _tag_spans(secondary):
        if all(b1 <= s0 or s1 <= b0 for s0, s1, _ in p_sp):
            out[b0] = "B-" + et
            for i in range(b0 + 1, b1):
                out[i] = "I-" + et
    return out


def repair_bio(tags: list[str]) -> list[str]:
    """I-X without a preceding B-X/I-X becomes B-X (standard BIO repair,
    so gold paths are reachable under the structural transition mask)."""
    out = list(tags)
    prev = "O"
    for i, t in enumerate(out):
        if t.startswith("I-") and prev not in (f"B-{t[2:]}", f"I-{t[2:]}"):
            out[i] = "B-" + t[2:]
        prev = out[i]
    return out


def _decode_masks(ls: LabelSpace) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(structural transition mask, per-label emission mask, first-token
    mask): specials never decodable; I-* cannot start a sentence."""
    mask = np.asarray(ls.bio_transition_mask(), dtype=np.float32)
    em = np.zeros(ls.n, dtype=np.float32)
    for s in SPECIALS:
        em[ls.label2id[s]] = _NEG
    first = np.zeros(ls.n, dtype=np.float32)
    for t, i in ls.label2id.items():
        if t.startswith("I-"):
            first[i] = _NEG
    return mask, em, first


def decode_batch(sents: list[list[str]], arts: dict, ls: LabelSpace,
                 lexicon: gazetteer.PhraseMatcher, use_patterns: bool,
                 clusters: dict | None = None, branch: tuple | None = None,
                 extras: list[list[tuple[str, ...]]] | None = None,
                 clf_dense_scores: list[float] | None = None
                 ) -> tuple[list[list[str]], np.ndarray]:
    """The trained decode: a batch of sentences (each at most MAX_LEN
    tokens) → (BIO tags, Viterbi score per token). Hashed sparse features
    (the `lexicon` longest-match included as features) plus the optional
    score-fused or stacked neural `branch` (neural.branch_from_arts) →
    batched Viterbi.

    Two-pass bundles ("sp2_w"/"clf_w") run the sentence-attribution gate:
    gated sentences take the attributed-trained decode (batched Viterbi
    over the gated subset), everything else — including gated sentences
    whose attr decode is all-O — keeps the full-split decode.

    `extras` (per-sentence stacked feature strings, see _sent_features)
    replaces the branch's stacked predictions; `clf_dense_scores`
    replaces the dense attribution-classifier term per sentence."""
    from . import neural

    W = arts["sp_w"]
    buckets, L = W.shape
    mask_t, em_mask, first_mask = _decode_masks(ls)
    lengths = np.array([len(s) for s in sents], dtype=np.int64)
    B = len(sents)
    T = max(1, int(lengths.max()))
    feats_by_sent: list[np.ndarray | None] = [None] * B
    nn_add_by_sent: list[np.ndarray | None] = [None] * B
    em = np.zeros((B, T, L), dtype=np.float32)
    em += em_mask[None, None, :]
    if branch is not None:
        members, nemb, nlook, nmode, nlam = branch
        lps = neural.batch_logprob(sents, members, nemb, nlook)
    for b, sent in enumerate(sents):
        n = int(lengths[b])
        if n == 0:
            continue
        ex = extras[b] if extras is not None else None
        if branch is not None:
            if nmode == neural.MODE_STACK and ex is None:
                ex = neural.stack_extra(lps[b], ls.id2label)
            elif nmode == neural.MODE_SCORE:
                nn_add_by_sent[b] = (nlam * lps[b]).astype(np.float32)
        feats = _sent_features(sent, lexicon, use_patterns, buckets,
                               clusters, extra=ex)
        feats_by_sent[b] = feats
        em[b, :n, :] = W[feats].sum(axis=1) + em_mask
        if nn_add_by_sent[b] is not None:
            em[b, :n, :] += nn_add_by_sent[b]
        em[b, 0, :] += first_mask
    paths, scores = viterbi_decode(em, arts["sp_trans"] + mask_t, lengths)
    tags = [
        [ls.id2label[int(paths[b, t])] for t in range(int(lengths[b]))]
        for b in range(B)
    ]
    if "sp2_w" in arts and "clf_w" in arts:
        W2 = arts["sp2_w"]
        TR2m = arts["sp2_trans"] + mask_t
        CW = arts["clf_w"]
        o_id = ls.o_id
        # classifier pass: candidates = sentences above the low bar
        cand = []
        cscores = np.zeros(B)
        emb_pair = (neural.emb_from_arts(arts)
                    if "clf_dw" in arts and clf_dense_scores is None else None)
        for b, sent in enumerate(sents):
            if lengths[b] == 0:
                continue
            c = float(CW[clf_features(sent, lexicon, clusters)].sum())
            if clf_dense_scores is not None:
                c += float(clf_dense_scores[b])
            elif emb_pair is not None:
                c += float(arts["clf_dw"] @ sent_mean_emb(
                    sent, emb_pair[1], emb_pair[0]))
            cscores[b] = c
            if c > GATE_C_LO:
                cand.append(b)
        if cand:
            em2 = np.zeros((len(cand), T, L), dtype=np.float32)
            em2 += em_mask[None, None, :]
            for j, b in enumerate(cand):
                n = int(lengths[b])
                em2[j, :n, :] = W2[feats_by_sent[b]].sum(axis=1) + em_mask
                if nn_add_by_sent[b] is not None:
                    em2[j, :n, :] += nn_add_by_sent[b]
                em2[j, 0, :] += first_mask
            p2, s2 = viterbi_decode(em2, TR2m, lengths[cand])
            for j, b in enumerate(cand):
                n = int(lengths[b])
                allo = em2[j, :n, o_id].sum() + (n - 1) * TR2m[o_id, o_id]
                gated = cscores[b] > GATE_C_HI or (
                    float(s2[j]) - allo > GATE_M_TAU
                )
                if gated and (p2[j, :n] != o_id).any():
                    attr_tags = [ls.id2label[int(p2[j, t])] for t in range(n)]
                    # span-level union: attr spans win, plus base spans
                    # that don't overlap them
                    tags[b] = merge_tag_spans(attr_tags, tags[b])
                    scores[b] = s2[j]
    return tags, (scores / np.maximum(lengths, 1)).astype(np.float32)


def decode_sents(sents: list[list[str]], arts: dict, ls: LabelSpace,
                 phrases: dict, use_patterns: bool,
                 clusters: dict | None = None,
                 extras: list[list[tuple[str, ...]]] | None = None,
                 clf_dense_scores: list[float] | None = None
                 ) -> list[list[str]]:
    """Driver-side decode with trained weights: decode_batch over
    length-sorted chunks, each sentence truncated to MAX_LEN and its tags
    padded with 'O' past it, so the output aligns 1:1 with the input
    tokens. `extras` and `clf_dense_scores` are per-sentence (see
    decode_batch)."""
    from . import neural
    from .tagger import TaggerKernel

    lexicon = gazetteer.PhraseMatcher(phrases)
    branch = neural.branch_from_arts(arts)
    order = sorted(range(len(sents)), key=lambda i: len(sents[i]))
    out: list[list[str]] = [[] for _ in sents]
    for start in range(0, len(order), TaggerKernel.CHUNK):
        idx = order[start : start + TaggerKernel.CHUNK]
        tags, _ = decode_batch(
            [sents[i][:MAX_LEN] for i in idx], arts, ls, lexicon,
            use_patterns, clusters, branch,
            extras=(None if extras is None
                    else [extras[i][:MAX_LEN] for i in idx]),
            clf_dense_scores=(None if clf_dense_scores is None
                              else [clf_dense_scores[i] for i in idx]),
        )
        for i, t in zip(idx, tags):
            out[i] = t + ["O"] * (len(sents[i]) - len(t))
    return out


def _prep(sents: list[tuple[list[str], list[str]]], ls: LabelSpace,
          phrases: dict, use_patterns: bool, buckets: int,
          clusters: dict | None = None,
          extras: list[list[tuple[str, ...]]] | None = None
          ) -> list[tuple[np.ndarray, np.ndarray]]:
    lexicon = gazetteer.PhraseMatcher(phrases)
    data = []
    for si, (tokens, tags) in enumerate(sents):
        if not tokens:
            continue
        tokens, tags = list(tokens)[:MAX_LEN], list(tags)[:MAX_LEN]
        gold = np.array(
            [ls.label2id.get(t, ls.o_id) for t in repair_bio(tags)],
            dtype=np.int32,
        )
        ex = extras[si][:MAX_LEN] if extras is not None else None
        feats = _sent_features(tokens, lexicon, use_patterns, buckets,
                               clusters, extra=ex)
        data.append((feats, gold))
    return data


def _train_epochs(data, ls: LabelSpace, buckets: int, epochs: int, seed: int,
                  cost: float = 1.0, miss_cost: float = 2.0
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Core perceptron loop → (W, TR, per-epoch error rates), W and TR
    the Collins running average (stable final model).

    Training decodes are COST-AUGMENTED (structured hinge / max-margin
    perceptron): each wrong label adds `cost` to its training-time score,
    and predicting O where gold is an entity adds `miss_cost` — the
    asymmetric term counters the O-class imbalance that otherwise starves
    recall on open-vocabulary entity sets (MalwareDB)."""
    L = ls.n
    mask, em_mask, first_mask = _decode_masks(ls)
    W = np.zeros((buckets, L), dtype=np.float32)
    TR = np.zeros((L, L), dtype=np.float32)
    Wf = W.reshape(-1)
    Wa = np.zeros(buckets * L, dtype=np.float64)
    Wt = np.zeros(buckets * L, dtype=np.int64)
    TRa = np.zeros((L, L), dtype=np.float64)
    rng = np.random.default_rng(seed)
    t = 0
    tr_t = 0
    # template count from the data, not the constant — stacked extra
    # features (kernel/neural.py predictions) widen the feature rows
    K = data[0][0].shape[1] if data else N_TEMPLATES
    epoch_errors: list[float] = []
    for _ep in range(epochs):
        ep_err = 0
        ep_tok = 0
        for si in rng.permutation(len(data)):
            feats, gold = data[si]
            t += 1
            ep_tok += len(gold)
            e = W[feats].sum(axis=1) + em_mask
            e[0] += first_mask
            if cost:
                aug = np.full_like(e, cost)
                aug[gold != ls.o_id, ls.o_id] = miss_cost
                aug[np.arange(len(gold)), gold] = 0.0
                e = e + aug
            path, _ = viterbi_decode(e[None], TR + mask, np.array([len(gold)]))
            pred = path[0][: len(gold)]
            if np.array_equal(pred, gold):
                continue
            mis = np.nonzero(pred != gold)[0]
            ep_err += len(mis)
            f = feats[mis].reshape(-1).astype(np.int64)
            flat = np.concatenate([f * L + np.repeat(gold[mis], K),
                                   f * L + np.repeat(pred[mis], K)])
            delta = np.concatenate([np.ones(len(f), dtype=np.float32),
                                    -np.ones(len(f), dtype=np.float32)])
            up = np.unique(flat)
            Wa[up] += (t - Wt[up]) * Wf[up].astype(np.float64)
            Wt[up] = t
            TRa += (t - tr_t) * TR
            tr_t = t
            np.add.at(Wf, flat, delta)
            if len(gold) > 1:
                np.add.at(TR, (gold[:-1], gold[1:]), 1.0)
                np.add.at(TR, (pred[:-1], pred[1:]), -1.0)
        # A5 analog (main.py:96-191 prints running avg loss per epoch):
        # averaged training loss proxy = hamming errors per token under
        # the cost-augmented decode — the convergence signal
        epoch_errors.append(ep_err / max(ep_tok, 1))
    errs = np.array(epoch_errors, dtype=np.float64)
    if t == 0:
        return W, TR, errs
    Wa += (t - Wt) * Wf.astype(np.float64)
    TRa += (t - tr_t) * TR
    return (Wa / t).astype(np.float32).reshape(buckets, L), (TRa / t).astype(np.float32), errs


def train_crf(sents: list[tuple[list[str], list[str]]], ls: LabelSpace,
              phrases: dict, *, epochs: int = 8, seed: int = 13,
              buckets: int = N_BUCKETS, use_patterns: bool = True,
              cost: float = 1.0, miss_cost: float = 2.0,
              clusters: dict | None = None,
              extras: list[list[tuple[str, ...]]] | None = None
              ) -> dict[str, np.ndarray]:
    """Driver-local averaged perceptron fit → trained-weight arrays
    ("sp_*" keys merge into the kernel weight bundle). `extras` =
    per-sentence per-token stacked feature strings (see _sent_features);
    for the neural-stacking configuration these must be JACKKNIFED
    predictions on the training split (a model predicting its own
    training data would make the stacked feature near-oracle and the
    CRF would over-trust it)."""
    data = _prep(sents, ls, phrases, use_patterns, buckets, clusters, extras)
    W, TR, errs = _train_epochs(data, ls, buckets, epochs, seed,
                                cost=cost, miss_cost=miss_cost)
    return {
        "sp_w": W,
        "sp_trans": TR,
        "_sp_meta": np.array([buckets, int(use_patterns)], dtype=np.int64),
        "_sp_epoch_errors": errs,
    }


# ------------------------------------------------------------- artifacts

def _sparse(a: np.ndarray) -> dict[str, np.ndarray]:
    flat = a.reshape(-1)
    nz = np.nonzero(flat)[0]
    return {"idx": nz.astype(np.int64), "val": flat[nz].astype(np.float32),
            "shape": np.array(a.shape, dtype=np.int64)}


def _densify(idx, val, shape) -> np.ndarray:
    n = int(np.prod(shape))
    out = np.zeros(n, dtype=np.float32)
    out[idx] = val
    return out.reshape(tuple(int(s) for s in shape))


def save_artifact(path: str, arts: dict[str, np.ndarray],
                  phrases: dict, etypes: list[str]) -> None:
    """Sparse npz: only nonzero (feature, label) weights are stored, plus
    the lexicon the features were built against (features at inference
    must see the identical phrase table). Two-pass bundles additionally
    carry the attributed-trained model (sp2_*) and the sentence
    classifier (clf_w), also sparse."""
    keys = sorted(phrases)
    clusters = arts.get("_sp_clusters") or {}
    cwords = sorted(clusters)
    payload: dict[str, np.ndarray] = {}
    w = _sparse(arts["sp_w"])
    payload.update(idx=w["idx"], val=w["val"], shape=w["shape"])
    if "sp2_w" in arts:
        w2 = _sparse(arts["sp2_w"])
        cw = _sparse(arts["clf_w"])
        payload.update(
            sp2_idx=w2["idx"], sp2_val=w2["val"], sp2_shape=w2["shape"],
            sp2_trans=arts["sp2_trans"],
            clf_idx=cw["idx"], clf_val=cw["val"], clf_shape=cw["shape"],
        )
        if "clf_dw" in arts:
            payload["clf_dw"] = arts["clf_dw"]
    # trained neural emission branch (kernel/neural.py): dense BiLSTM +
    # head weights, the embedding table, its vocab, and the fusion config
    for k, v in arts.items():
        if k.startswith("nn_") and k != "nn_words":
            payload[k] = v
    if "nn_words" in arts:
        payload["nn_words"] = np.array(arts["nn_words"], dtype=np.str_)
    np.savez_compressed(
        path,
        sp_trans=arts["sp_trans"],
        sp_meta=arts["_sp_meta"],
        lex_keys=np.array([" ".join(k) for k in keys], dtype=np.str_),
        lex_etype=np.array([phrases[k][0] for k in keys], dtype=np.str_),
        lex_canon=np.array([phrases[k][1] for k in keys], dtype=np.str_),
        cl_words=np.array(cwords, dtype=np.str_),
        cl_coarse=np.array([clusters[w][0] for w in cwords], dtype=np.int32),
        cl_fine=np.array([clusters[w][1] for w in cwords], dtype=np.int32),
        etypes=np.array(etypes, dtype=np.str_),
        **payload,
    )


def load_artifact(path: str) -> tuple[dict[str, np.ndarray], dict, list[str]]:
    z = np.load(path, allow_pickle=False)
    arts = {
        "sp_w": _densify(z["idx"], z["val"], z["shape"]),
        "sp_trans": z["sp_trans"],
        "_sp_meta": z["sp_meta"],
        "_sp_clusters": {
            str(w): (int(a), int(b))
            for w, a, b in zip(z["cl_words"], z["cl_coarse"], z["cl_fine"])
        },
    }
    if "sp2_idx" in z.files:
        arts["sp2_w"] = _densify(z["sp2_idx"], z["sp2_val"], z["sp2_shape"])
        arts["sp2_trans"] = z["sp2_trans"]
        arts["clf_w"] = _densify(z["clf_idx"], z["clf_val"], z["clf_shape"])
        if "clf_dw" in z.files:
            arts["clf_dw"] = z["clf_dw"]
    for k in z.files:
        if k.startswith("nn_"):
            arts[k] = z[k] if k != "nn_words" else [str(w) for w in z[k]]
    phrases = {
        tuple(k.split(" ")): (e, c)
        for k, e, c in zip(z["lex_keys"], z["lex_etype"], z["lex_canon"])
    }
    return arts, phrases, [str(e) for e in z["etypes"]]
