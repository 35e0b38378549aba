"""Driver-local experiment harness for tagger quality work.

Loads the reference corpora with a pure-python CoNLL reader (same
semantics as operators/conll.read_conll), trains perceptron-CRF variants
without Spark in the loop, and reports span P/R/F1 with the same
exact-match discipline as conll.span_prf — so numbers here transfer 1:1
to the Spark eval queries. Usage:

  python tools/exp_quality.py baseline            # reproduce round-2 nums
  python tools/exp_quality.py confusion dnrti     # per-etype error table
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from ner4cti_spark.kernel import perceptron
from ner4cti_spark.kernel.gazetteer import PhraseMatcher
from ner4cti_spark.kernel.labels import LabelSpace
from ner4cti_spark.training import ARTIFACT_DIR, CORPORA, DNRTI_TYPES

# engine CTI classes ← DNRTI native types (operators/conll.DNRTI_TO_ETYPE)
from ner4cti_spark.operators.conll import DNRTI_TO_ETYPE  # noqa: E402


def read_conll_py(path: str) -> list[tuple[list[str], list[str]]]:
    """Pure-python twin of conll.read_conll: same line splitting, same
    malformed-line drops, same blank-line sentence assembly."""
    with open(path, encoding="utf-8", errors="replace") as f:
        content = f.read()
    sents: list[tuple[list[str], list[str]]] = []
    toks: list[str] = []
    tags: list[str] = []
    for line in re.split(r"\r\n|\r|\n", content):
        line = line.strip()
        if not line:
            if toks:
                sents.append((toks, tags))
                toks, tags = [], []
            continue
        parts = re.split(r"\s+", line)
        if len(parts) != 2:
            continue
        toks.append(parts[0])
        tags.append(parts[1])
    if toks:
        sents.append((toks, tags))
    return sents


def map_dnrti(tags: list[str]) -> list[str]:
    out = []
    for t in tags:
        if t[:2] in ("B-", "I-"):
            e = DNRTI_TO_ETYPE.get(t[2:])
            out.append(t[:2] + e if e else "O")
        else:
            out.append("O")
    return out


def spans_of(tags: list[str]) -> set[tuple[int, int, str]]:
    """Exact spans, same start discipline as conll.extract_span_rows:
    B- starts; I- starts unless the previous token continues the type."""
    out = set()
    b = None
    et = None
    for i, t in enumerate(tags):
        if t[:2] in ("B-", "I-"):
            e = t[2:]
            if t.startswith("B-") or e != et or b is None:
                if b is not None:
                    out.add((b, i, et))
                b, et = i, e
        else:
            if b is not None:
                out.add((b, i, et))
            b, et = None, None
    if b is not None:
        out.add((b, len(tags), et))
    return out


def span_prf(pred: list[list[str]], gold: list[list[str]]):
    tp = np_ = ng = 0
    for p, g in zip(pred, gold):
        ps, gs = spans_of(p), spans_of(g)
        tp += len(ps & gs)
        np_ += len(ps)
        ng += len(gs)
    prec = tp / np_ if np_ else 0.0
    rec = tp / ng if ng else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return prec, rec, f1, tp, np_, ng


def load_corpus(corpus: str):
    cfg = CORPORA[corpus]
    train = read_conll_py(os.path.join(cfg["path"], "train.txt"))
    vp = os.path.join(cfg["path"], "valid.txt")
    valid = read_conll_py(vp) if os.path.exists(vp) else []
    test = read_conll_py(os.path.join(cfg["path"], "test.txt"))
    return train, valid, test


def load_artifact_bits(corpus: str):
    arts, lex, etypes = perceptron.load_artifact(
        os.path.join(ARTIFACT_DIR, f"{corpus}_crf.npz")
    )
    return arts, lex, etypes


def eval_decode(arts, ls, lex, use_patterns, test, *, map_cti: bool,
                clusters=None):
    pred = perceptron.decode_sents(
        [t for t, _ in test], arts, ls, lex, use_patterns, clusters
    )
    gold = [g for _, g in test]
    if map_cti:
        pred = [map_dnrti(p) for p in pred]
        gold = [map_dnrti(g) for g in gold]
    return span_prf(pred, gold), pred, gold


def baseline():
    for corpus in ("dnrti", "malwaredb"):
        cfg = CORPORA[corpus]
        arts, lex, _ = load_artifact_bits(corpus)
        ls = LabelSpace(cfg["etypes"])
        _, _, test = load_corpus(corpus)
        (p, r, f1, tp, np_, ng), _, _ = eval_decode(
            arts, ls, lex, cfg["use_patterns"], test,
            map_cti=(corpus == "dnrti"), clusters=arts.get("_sp_clusters"),
        )
        print(f"{corpus}: P={p:.4f} R={r:.4f} F1={f1:.4f} (tp={tp} pred={np_} gold={ng})")


def confusion(corpus: str):
    cfg = CORPORA[corpus]
    arts, lex, _ = load_artifact_bits(corpus)
    ls = LabelSpace(cfg["etypes"])
    _, _, test = load_corpus(corpus)
    (_p, _r, _f1, *_), pred, gold = eval_decode(
        arts, ls, lex, cfg["use_patterns"], test,
        map_cti=(corpus == "dnrti"), clusters=arts.get("_sp_clusters"),
    )
    from collections import Counter

    per = Counter()
    for p, g in zip(pred, gold):
        ps, gs = spans_of(p), spans_of(g)
        for s in gs:
            per[(s[2], "gold")] += 1
            if s in ps:
                per[(s[2], "tp")] += 1
        for s in ps:
            per[(s[2], "pred")] += 1
            # boundary-or-type analysis for false positives
            if s not in gs:
                if any(not (s[1] <= g0 or g1 <= s[0]) for g0, g1, _ in gs):
                    per[(s[2], "fp_overlap")] += 1
                else:
                    per[(s[2], "fp_clean")] += 1
    etypes = sorted({k[0] for k in per})
    print(f"{'etype':<12} {'gold':>5} {'pred':>5} {'tp':>5} {'P':>6} {'R':>6} "
          f"{'F1':>6} {'fp_ovl':>6} {'fp_cln':>6}")
    for e in etypes:
        g, pr, tp = per[(e, "gold")], per[(e, "pred")], per[(e, "tp")]
        p_ = tp / pr if pr else 0
        r_ = tp / g if g else 0
        f_ = 2 * p_ * r_ / (p_ + r_) if p_ + r_ else 0
        print(f"{e:<12} {g:>5} {pr:>5} {tp:>5} {p_:>6.3f} {r_:>6.3f} {f_:>6.3f} "
              f"{per[(e, 'fp_overlap')]:>6} {per[(e, 'fp_clean')]:>6}")
    # sentence-level: how much recall is lost in sentences with NO pred?
    n_attr = n_attr_hit = 0
    miss_g = 0
    for p, g in zip(pred, gold):
        gs = spans_of(g)
        if gs:
            n_attr += 1
            if spans_of(p):
                n_attr_hit += 1
            else:
                miss_g += len(gs)
    print(f"\nattributed sentences: {n_attr}; with ≥1 prediction: {n_attr_hit}; "
          f"gold spans in all-O-predicted sentences: {miss_g}")


def _attr(sents):
    return [(t, g) for t, g in sents if any(x != "O" for x in g)]


def twopass():
    """MalwareDB two-pass: sentence-attribution classifier gating a token
    tagger trained on attributed sentences only. Prints the combo grid."""
    import zlib

    cfg = CORPORA["malwaredb"]
    ls = LabelSpace(cfg["etypes"])
    train, valid, test = load_corpus("malwaredb")
    arts0, lex, _ = load_artifact_bits("malwaredb")
    clusters = arts0.get("_sp_clusters")
    tv = train + valid

    # ---------------- sentence classifier (binary averaged perceptron)
    B = 1 << 18
    lexicon = PhraseMatcher(lex)

    def clf_feats(tokens):
        lows = [t.lower() for t in tokens]
        lt = lexicon.bio(tokens)
        fs = ["b"]
        fs += ["w=" + w for w in set(lows)]
        fs += ["bg=" + a + "_" + b for a, b in zip(lows, lows[1:])]
        fs += ["lex=" + e for e in sorted({t[2:] for t in lt if t != "O"})]
        fs.append("nlex=%d" % min(sum(t.startswith("B-") for t in lt), 5))
        fs.append("len=%d" % min(len(tokens) // 5, 8))
        fs += ["sh=" + perceptron._shape(t) for t in set(tokens)]
        return np.array([zlib.crc32(f.encode()) % B for f in fs], dtype=np.int64)

    def train_clf(data, epochs=12, seed=7):
        w = np.zeros(B, dtype=np.float64)
        wa = np.zeros(B, dtype=np.float64)
        rng = np.random.default_rng(seed)
        feats = [(clf_feats(t), 1.0 if any(x != "O" for x in g) else -1.0)
                 for t, g in data]
        t_step = 0
        for _ in range(epochs):
            for i in rng.permutation(len(feats)):
                f, y = feats[i]
                t_step += 1
                if y * w[f].sum() <= 0:
                    w[f] += y
                    wa[f] += y * t_step
        return w - wa / max(t_step, 1)

    wclf = train_clf(tv)

    def gate(tokens, margin=0.0):
        return wclf[clf_feats(tokens)].sum() > margin

    g_pred = [gate(t) for t, _ in test]
    g_gold = [any(x != "O" for x in g) for _, g in test]
    tp = sum(1 for p, g in zip(g_pred, g_gold) if p and g)
    print("clf: P=%.3f R=%.3f (pred %d, gold %d)"
          % (tp / max(sum(g_pred), 1), tp / max(sum(g_gold), 1),
             sum(g_pred), sum(g_gold)))

    # ---------------- token model trained on ATTRIBUTED sentences only
    attr_arts = perceptron.train_crf(
        _attr(tv), ls, lex, epochs=cfg["epochs"], use_patterns=cfg["use_patterns"],
        cost=cfg["cost"], miss_cost=cfg["miss_cost"], clusters=clusters,
    )
    attr_arts["_sp_clusters"] = clusters

    gold = [g for _, g in test]
    toks = [t for t, _ in test]

    def decode_with(arts, mask=None):
        idx = [i for i in range(len(toks)) if mask is None or mask[i]]
        dec = perceptron.decode_sents([toks[i] for i in idx], arts, ls, lex,
                                      cfg["use_patterns"], clusters)
        out = [["O"] * len(t) for t in toks]
        for j, i in enumerate(idx):
            out[i] = dec[j]
        return out

    base_pred = decode_with(arts0)
    combos = {
        "baseline (r2 artifact)": base_pred,
        "gate x base model": [p if g else ["O"] * len(p)
                              for p, g in zip(base_pred, g_pred)],
        "attr-trained, no gate": decode_with(attr_arts),
        "gate x attr-trained": decode_with(attr_arts, mask=g_pred),
    }
    for name, pred in combos.items():
        p, r, f1, tp, np_, ng = span_prf(pred, gold)
        print(f"{name:<26} P={p:.4f} R={r:.4f} F1={f1:.4f} (pred={np_})")


def twopass2():
    """Honest hyperparameter protocol: fit on train, tune margin/combo on
    valid, refit on train+valid with frozen choices, report test."""
    cfg = CORPORA["malwaredb"]
    ls = LabelSpace(cfg["etypes"])
    train, valid, test = load_corpus("malwaredb")
    arts0, lex, _ = load_artifact_bits("malwaredb")
    clusters = arts0.get("_sp_clusters")

    B = 1 << 18
    lexicon = PhraseMatcher(lex)

    def clf_feats(tokens):
        return perceptron.clf_features(tokens, lexicon, clusters)

    def train_clf(data, epochs=15, seed=7, tau=1.0, pos_w=2.0):
        """Margin perceptron with asymmetric update weight on positives
        (recall matters more downstream)."""
        w = np.zeros(B, dtype=np.float64)
        wa = np.zeros(B, dtype=np.float64)
        rng = np.random.default_rng(seed)
        feats = [(clf_feats(t), 1.0 if any(x != "O" for x in g) else -1.0)
                 for t, g in data]
        t_step = 0
        for _ in range(epochs):
            for i in rng.permutation(len(feats)):
                f, y = feats[i]
                t_step += 1
                if y * w[f].sum() < tau:
                    step = y * (pos_w if y > 0 else 1.0)
                    w[f] += step
                    wa[f] += step * t_step
        return w - wa / max(t_step, 1)

    def fit_stage(fit_data):
        wclf = train_clf(fit_data)
        attr_arts = perceptron.train_crf(
            _attr(fit_data), ls, lex, epochs=cfg["epochs"],
            use_patterns=cfg["use_patterns"], cost=cfg["cost"],
            miss_cost=cfg["miss_cost"], clusters=clusters,
        )
        base_arts = perceptron.train_crf(
            fit_data, ls, lex, epochs=cfg["epochs"],
            use_patterns=cfg["use_patterns"], cost=cfg["cost"],
            miss_cost=cfg["miss_cost"], clusters=clusters,
        )
        return wclf, attr_arts, base_arts

    def eval_combos(wclf, attr_arts, base_arts, ev, label):
        toks = [t for t, _ in ev]
        gold = [g for _, g in ev]
        scores = [wclf[clf_feats(t)].sum() for t in toks]

        def decode_with(arts, mask=None):
            idx = [i for i in range(len(toks)) if mask is None or mask[i]]
            dec = perceptron.decode_sents([toks[i] for i in idx], arts, ls,
                                          lex, cfg["use_patterns"], clusters)
            out = [["O"] * len(t) for t in toks]
            for j, i in enumerate(idx):
                out[i] = dec[j]
            return out

        base_pred = decode_with(base_arts)
        results = {}
        for margin in (-2.0, -1.0, 0.0, 1.0):
            mask = [s > margin for s in scores]
            ap = decode_with(attr_arts, mask=mask)
            results[f"gate({margin:+.0f}) x attr"] = ap
            results[f"gate({margin:+.0f}) x attr UNION base"] = [
                a if any(x != "O" for x in a) else b
                for a, b in zip(ap, base_pred)
            ]
        results["base only"] = base_pred
        print(f"--- {label}")
        best = None
        for name, pred in results.items():
            p, r, f1, tp, np_, ng = span_prf(pred, gold)
            print(f"{name:<30} P={p:.4f} R={r:.4f} F1={f1:.4f} (pred={np_})")
            if best is None or f1 > best[1]:
                best = (name, f1)
        print("best:", best)
        return best[0]

    # tune on valid with train-fitted models
    wclf, attr_arts, base_arts = fit_stage(train)
    eval_combos(wclf, attr_arts, base_arts, valid, "valid (train-fitted)")
    # refit on train+valid, report test for ALL combos (choice frozen from valid)
    wclf, attr_arts, base_arts = fit_stage(train + valid)
    eval_combos(wclf, attr_arts, base_arts, test, "test (tv-fitted)")


# --------------------------- trained neural emission branch (round 4)

def _load_vecs(corpus: str, dim: int = 50, mc: int = 2, it: int = 1,
               wn: int = 5):
    path = f"/tmp/ner4cti_w2v_{corpus}_{dim}_mc{mc}_it{it}_w{wn}.npz"
    legacy = f"/tmp/ner4cti_w2v_{corpus}_{dim}_mc{mc}.npz"
    if not os.path.exists(path) and it == 1 and wn == 5 and os.path.exists(legacy):
        path = legacy
    if not os.path.exists(path):
        raise SystemExit(
            f"run: python tools/dump_w2v.py {corpus} {dim} {mc} {it} {wn}")
    try:
        z = np.load(path, allow_pickle=False)
    except ValueError:
        # stale pre-r5 object-dtype cache file — point at the regen tool
        # instead of surfacing a bare pickle error
        raise SystemExit(
            f"stale /tmp cache; regenerate: "
            f"python tools/dump_w2v.py {corpus} {dim} {mc} {it} {wn}") from None
    return [str(w) for w in z["words"]], z["vecs"]


def _nn_prep(sents, lookup, ls):
    from ner4cti_spark.kernel import neural
    from ner4cti_spark.kernel.tagger import casing_class

    data = []
    for toks, tags in sents:
        toks = list(toks)[:perceptron.MAX_LEN]
        tags = list(tags)[:perceptron.MAX_LEN]
        wid = neural.sent_ids(toks, lookup)
        cas = np.array([casing_class(t) for t in toks], dtype=np.int64)
        gold = np.array(
            [ls.label2id.get(t, ls.o_id) for t in perceptron.repair_bio(tags)],
            dtype=np.int64)
        data.append((wid, cas, gold))
    return data


def _nn_logits_sents(sents, nnw, emb, lookup):
    """Per-sentence (T, L) logits through the shipped eval kernel."""
    from ner4cti_spark.kernel import neural
    from ner4cti_spark.kernel.tagger import casing_class

    out = []
    for toks in sents:
        toks = list(toks)[:perceptron.MAX_LEN]
        if not toks:
            out.append(np.zeros((0, 1), dtype=np.float32))
            continue
        wid = neural.sent_ids(toks, lookup)
        cas = np.array([casing_class(t) for t in toks], dtype=np.int64)
        x = neural.input_features(wid[None], cas[None], emb)
        out.append(neural.forward_logits(x, nnw)[0])
    return out


def nn_extra_feats(logit_list, ls):
    """Stacked feature strings per sentence — the PRODUCTION encoding
    (neural.stack_extra), so experiment numbers transfer exactly."""
    from ner4cti_spark.kernel import neural

    return [neural.stack_extra(lg, ls.id2label) for lg in logit_list]


def decode_fused(sents, arts, ls, lex, use_patterns, clusters,
                 logit_list, lam):
    """perceptron decode with e += lam * log_softmax(neural logits) —
    the score-fusion variant (single-pass models only)."""
    from ner4cti_spark.kernel import neural
    from ner4cti_spark.kernel.crf import viterbi_decode

    W, TR = arts["sp_w"], arts["sp_trans"]
    buckets = W.shape[0]
    mask, em_mask, first_mask = perceptron._decode_masks(ls)
    lexicon = PhraseMatcher(lex)
    out = []
    for sent, lg in zip(sents, logit_list):
        if not sent:
            out.append([])
            continue
        sent_t = list(sent)[:perceptron.MAX_LEN]
        feats = perceptron._sent_features(
            sent_t, lexicon, use_patterns, buckets, clusters)
        e = W[feats].sum(axis=1) + em_mask
        if lam:
            e = e + lam * neural.log_softmax(lg.astype(np.float64))
        e[0] += first_mask
        p, _ = viterbi_decode(e[None].astype(np.float32), TR + mask,
                              np.array([len(sent_t)]))
        tags = [ls.id2label[int(i)] for i in p[0][: len(sent_t)]]
        tags += ["O"] * (len(sent) - len(tags))
        out.append(tags)
    return out


def per_etype_line(pred, gold) -> str:
    """Compact per-etype R (recall is where the DNRTI gap lives)."""
    from collections import Counter

    per = Counter()
    for p, g in zip(pred, gold):
        ps, gs = spans_of(p), spans_of(g)
        for s in gs:
            per[(s[2], "g")] += 1
            if s in ps:
                per[(s[2], "tp")] += 1
        for s in ps:
            per[(s[2], "p")] += 1
    bits = []
    for e in sorted({k[0] for k in per}):
        gq, pq, tp = per[(e, "g")], per[(e, "p")], per[(e, "tp")]
        bits.append(f"{e}:R{tp / max(gq, 1):.2f}/P{tp / max(pq, 1):.2f}")
    return " ".join(bits)


def neural_exp(corpus: str, dim: int = 50, mc: int = 2, it: int = 1,
               wn: int = 5, hidden: int = 100,
               lr: float = 3e-3, nn_epochs: int = 15, nonO_w: float = 2.0,
               wd: float = 0.0, ens: int = 1, skip_stack: int = 0):
    """Train the BiLSTM emission branch, then measure standalone /
    score-fusion / stacking against the train-fitted perceptron on
    valid. Prints the full grid; nothing here touches test."""
    from ner4cti_spark.kernel import neural

    cfg = CORPORA[corpus]
    ls = LabelSpace(cfg["etypes"])
    train, valid, test = load_corpus(corpus)
    arts0, lex, _ = load_artifact_bits(corpus)
    clusters = arts0.get("_sp_clusters")
    map_cti = corpus == "dnrti"
    words, vecs = _load_vecs(corpus, dim, mc, it, wn)
    lookup, emb = neural.build_embedding(words, vecs)
    oov = sum(1 for t, _ in valid for w in t
              if not (lookup.get(w) or lookup.get(w.lower())))
    n_val_tok = sum(len(t) for t, _ in valid)
    print(f"emb: {len(words)} words dim={dim} mc={mc}; "
          f"valid OOV {oov}/{n_val_tok} ({oov / max(n_val_tok, 1):.3f})")

    tr_data = _nn_prep(train, lookup, ls)
    branches = []
    for si in range(ens):
        seed = 5 + si
        ck = (f"/tmp/nn_{corpus}_{dim}_{mc}_{it}_{wn}_h{hidden}_lr{lr}"
              f"_ep{nn_epochs}_w{nonO_w}_wd{wd}_s{seed}.npz")
        if os.path.exists(ck):
            z = np.load(ck)
            branches.append({k: z[k] for k in z.files})
            print(f"loaded cached branch {ck}")
        else:
            print(f"training BiLSTM h={hidden} lr={lr} ep={nn_epochs} "
                  f"nonO_w={nonO_w} wd={wd} seed={seed}")
            wti, losses = neural.train_bilstm(
                tr_data, emb, n_labels=ls.n, o_id=ls.o_id, hidden=hidden,
                epochs=nn_epochs, lr=lr, nonO_weight=nonO_w, seed=seed,
                word_dropout=wd)
            print("loss: " + " ".join(f"{x:.3f}" for x in losses))
            np.savez(ck, **wti)
            branches.append(wti)
    nnw = branches[0]

    v_toks = [t for t, _ in valid]
    v_gold = [g for _, g in valid]
    if ens == 1:
        v_logits = _nn_logits_sents(v_toks, nnw, emb, lookup)
    else:
        # ensemble: arithmetic mean of per-branch log-softmax
        # (geometric mean of the distributions)
        per = [[neural.log_softmax(lg.astype(np.float64))
                for lg in _nn_logits_sents(v_toks, b, emb, lookup)]
               for b in branches]
        v_logits = [np.mean([per[bi][si] for bi in range(ens)], axis=0)
                    for si in range(len(v_toks))]

    # standalone: greedy argmax (specials masked) + BIO repair
    from ner4cti_spark.kernel.labels import SPECIALS

    sp_ids = [ls.label2id[s] for s in SPECIALS if s in ls.label2id]
    stand = []
    for lg in v_logits:
        lg2 = lg.copy()
        lg2[:, sp_ids] = -1e9
        tags = perceptron.repair_bio(
            [ls.id2label[int(i)] for i in lg2.argmax(axis=-1)])
        stand.append(tags)
    gm = [map_dnrti(g) for g in v_gold] if map_cti else v_gold
    pm = [map_dnrti(p) for p in stand] if map_cti else stand
    p, r, f1, *_ = span_prf(pm, gm)
    print(f"standalone BiLSTM        P={p:.4f} R={r:.4f} F1={f1:.4f}")
    print("  " + per_etype_line(pm, gm))

    # train-fitted perceptron baseline on valid (deterministic — cache)
    bk = f"/tmp/crf_trainfit_{corpus}.npz"
    if os.path.exists(bk):
        z = np.load(bk)
        base_arts = {k: z[k] for k in z.files}
    else:
        base_arts = perceptron.train_crf(
            train, ls, lex, epochs=cfg["epochs"], use_patterns=cfg["use_patterns"],
            cost=cfg["cost"], miss_cost=cfg["miss_cost"], clusters=clusters)
        np.savez(bk, sp_w=base_arts["sp_w"], sp_trans=base_arts["sp_trans"])
    bp = perceptron.decode_sents(v_toks, base_arts, ls, lex,
                                 cfg["use_patterns"], clusters)
    pm = [map_dnrti(x) for x in bp] if map_cti else bp
    p, r, f1, *_ = span_prf(pm, gm)
    print(f"perceptron (train-fit)   P={p:.4f} R={r:.4f} F1={f1:.4f}")
    print("  " + per_etype_line(pm, gm))

    # score fusion grid
    for lam in (2.0, 4.0, 8.0, 12.0, 16.0, 24.0, 32.0):
        fp = decode_fused(v_toks, base_arts, ls, lex, cfg["use_patterns"],
                          clusters, v_logits, lam)
        pm = [map_dnrti(x) for x in fp] if map_cti else fp
        p, r, f1, *_ = span_prf(pm, gm)
        print(f"fusion lam={lam:<5}        P={p:.4f} R={r:.4f} F1={f1:.4f}")
        print("  " + per_etype_line(pm, gm))

    # stacking: 2-fold jackknifed train features, full-model valid features
    if skip_stack:
        return
    print("jackknifing train predictions (2-fold)...")
    tr_extras: list = [None] * len(train)
    for fold in (0, 1):
        fit_idx = [i for i in range(len(train)) if i % 2 != fold]
        prd_idx = [i for i in range(len(train)) if i % 2 == fold]
        wf, _ = neural.train_bilstm(
            [tr_data[i] for i in fit_idx], emb, n_labels=ls.n, o_id=ls.o_id,
            hidden=hidden, epochs=nn_epochs, lr=lr, nonO_weight=nonO_w, seed=5,
            word_dropout=wd)
        lg = _nn_logits_sents([train[i][0] for i in prd_idx], wf, emb, lookup)
        for j, i in enumerate(prd_idx):
            tr_extras[i] = lg[j]
    tr_extra_feats = nn_extra_feats(tr_extras, ls)
    v_extra_feats = nn_extra_feats(v_logits, ls)
    stack_arts = perceptron.train_crf(
        train, ls, lex, epochs=cfg["epochs"], use_patterns=cfg["use_patterns"],
        cost=cfg["cost"], miss_cost=cfg["miss_cost"], clusters=clusters,
        extras=tr_extra_feats)
    sp_pred = perceptron.decode_sents(v_toks, stack_arts, ls, lex,
                                      cfg["use_patterns"], clusters,
                                      extras=v_extra_feats)
    pm = [map_dnrti(x) for x in sp_pred] if map_cti else sp_pred
    p, r, f1, *_ = span_prf(pm, gm)
    print(f"stacked features         P={p:.4f} R={r:.4f} F1={f1:.4f}")
    print("  " + per_etype_line(pm, gm))


def mdbneural(dim: int = 50, mc: int = 2, it: int = 1, wn: int = 5,
              hidden: int = 100, lr: float = 3e-3,
              nn_epochs: int = 15, nonO_w: float = 2.0, wd: float = 0.0,
              ens: int = 1, skip_stack: int = 0):
    """MalwareDB: two-pass decode with the trained neural branch fused
    in, via the PRODUCTION decode path (arts nn_* keys). Train-fitted,
    valid-reported; grids lam for score mode + stacking mode."""
    from ner4cti_spark.kernel import neural

    cfg = CORPORA["malwaredb"]
    ls = LabelSpace(cfg["etypes"])
    train, valid, test = load_corpus("malwaredb")
    arts0, lex, _ = load_artifact_bits("malwaredb")
    clusters = arts0.get("_sp_clusters")
    words, vecs = _load_vecs("malwaredb", dim, mc, it, wn)
    lookup, emb = neural.build_embedding(words, vecs)

    tr_data = _nn_prep(train, lookup, ls)
    nn_members = []
    for si in range(ens):
        ck = (f"/tmp/nn_malwaredb_{dim}_{mc}_{it}_{wn}_h{hidden}_lr{lr}"
              f"_ep{nn_epochs}_w{nonO_w}_wd{wd}_s{5 + si}.npz")
        if os.path.exists(ck):
            z = np.load(ck)
            nn_members.append({k: z[k] for k in z.files})
            print("loaded", ck)
        else:
            w_m, losses = neural.train_bilstm(
                tr_data, emb, n_labels=ls.n, o_id=ls.o_id, hidden=hidden,
                epochs=nn_epochs, lr=lr, nonO_weight=nonO_w, seed=5 + si,
                word_dropout=wd)
            print("nn loss: %.3f -> %.3f" % (losses[0], losses[-1]))
            np.savez(ck, **w_m)
            nn_members.append(w_m)
    nnw = nn_members[0]

    base_arts = perceptron.train_crf(
        train, ls, lex, epochs=cfg["epochs"], use_patterns=cfg["use_patterns"],
        cost=cfg["cost"], miss_cost=cfg["miss_cost"], clusters=clusters)
    attr_arts = perceptron.train_crf(
        _attr(train), ls, lex, epochs=cfg["attr_epochs"],
        use_patterns=cfg["use_patterns"], cost=cfg["cost"],
        miss_cost=cfg["miss_cost"], clusters=clusters)
    w_clf = perceptron.train_sentence_clf(
        train, lex, clusters=clusters, pos_w=cfg["clf_pos_w"])

    v_toks = [t for t, _ in valid]
    v_gold = [g for _, g in valid]

    def assemble(mode, lam):
        arts = dict(base_arts)
        arts["sp2_w"] = attr_arts["sp_w"]
        arts["sp2_trans"] = attr_arts["sp_trans"]
        arts["clf_w"] = w_clf
        if mode:
            arts["nn_words"] = words
            arts["nn_emb"] = emb
            for mi, w_m in enumerate(nn_members):
                for k, v in w_m.items():
                    arts[f"nn_m{mi}_{k}"] = v
            arts["nn_cfg"] = np.array([mode, lam], dtype=np.float64)
        return arts

    for name, mode, lam in ([("baseline", 0, 0.0)]
                            + [(f"score lam={la}", neural.MODE_SCORE, la)
                               for la in (64.0, 96.0, 128.0, 192.0, 512.0,
                                           10000.0)]):
        dec = perceptron.decode_sents(v_toks, assemble(mode, lam), ls, lex,
                                      cfg["use_patterns"], clusters)
        p, r, f1, tp, np_, ng = span_prf(dec, v_gold)
        print(f"{name:<16} P={p:.4f} R={r:.4f} F1={f1:.4f} (pred={np_})")

    # stacking: jackknifed train extras, production stack mode at decode
    if skip_stack:
        return
    print("jackknifing (2-fold)...")
    tr_lg: list = [None] * len(train)
    for fold in (0, 1):
        fit_idx = [i for i in range(len(train)) if i % 2 != fold]
        prd_idx = [i for i in range(len(train)) if i % 2 == fold]
        wf, _ = neural.train_bilstm(
            [tr_data[i] for i in fit_idx], emb, n_labels=ls.n, o_id=ls.o_id,
            hidden=hidden, epochs=nn_epochs, lr=lr, nonO_weight=nonO_w, seed=5)
        lg = _nn_logits_sents([train[i][0] for i in prd_idx], wf, emb, lookup)
        for j, i in enumerate(prd_idx):
            tr_lg[i] = lg[j]
    tr_extras = nn_extra_feats(tr_lg, ls)
    base_s = perceptron.train_crf(
        train, ls, lex, epochs=cfg["epochs"], use_patterns=cfg["use_patterns"],
        cost=cfg["cost"], miss_cost=cfg["miss_cost"], clusters=clusters,
        extras=tr_extras)
    attr_idx = [i for i, (t, g) in enumerate(train) if any(x != "O" for x in g)]
    attr_s = perceptron.train_crf(
        [train[i] for i in attr_idx], ls, lex, epochs=cfg["attr_epochs"],
        use_patterns=cfg["use_patterns"], cost=cfg["cost"],
        miss_cost=cfg["miss_cost"], clusters=clusters,
        extras=[tr_extras[i] for i in attr_idx])
    arts = dict(base_s)
    arts["sp2_w"] = attr_s["sp_w"]
    arts["sp2_trans"] = attr_s["sp_trans"]
    arts["clf_w"] = w_clf
    arts["nn_words"] = words
    arts["nn_emb"] = emb
    for k, v in nnw.items():
        arts["nn_" + k] = v
    arts["nn_cfg"] = np.array([neural.MODE_STACK, 0.0], dtype=np.float64)
    dec = perceptron.decode_sents(v_toks, arts, ls, lex,
                                  cfg["use_patterns"], clusters)
    p, r, f1, tp, np_, ng = span_prf(dec, v_gold)
    print(f"{'stacked':<16} P={p:.4f} R={r:.4f} F1={f1:.4f} (pred={np_})")


def mdbgate(dim: int = 256, mc: int = 2, it: int = 5, wn: int = 3,
            hidden: int = 100, lr: float = 3e-3, nn_epochs: int = 45,
            nonO_w: float = 2.0, wd: float = 0.1, ens: int = 3,
            lam: float = 192.0):
    """GATE_M_TAU sweep for the FUSED MalwareDB two-pass decode
    (VERDICT r4 #7): the attribution-gate margin threshold (40.0) was
    valid-selected before the neural branch changed the emission scale
    (e += lam·logprob, lam=192 — margins are now much larger). Builds
    the same train-fitted assembly as mdbneural (cached members), then
    sweeps P.GATE_M_TAU on valid via the production decode path."""
    from ner4cti_spark.kernel import neural

    cfg = CORPORA["malwaredb"]
    ls = LabelSpace(cfg["etypes"])
    train, valid, _test = load_corpus("malwaredb")
    arts0, lex, _ = load_artifact_bits("malwaredb")
    clusters = arts0.get("_sp_clusters")
    words, vecs = _load_vecs("malwaredb", dim, mc, it, wn)
    lookup, emb = neural.build_embedding(words, vecs)
    nn_members = []
    for si in range(ens):
        ck = (f"/tmp/nn_malwaredb_{dim}_{mc}_{it}_{wn}_h{hidden}_lr{lr}"
              f"_ep{nn_epochs}_w{nonO_w}_wd{wd}_s{5 + si}.npz")
        if os.path.exists(ck):
            z = np.load(ck)
            nn_members.append({k: z[k] for k in z.files})
        else:
            tr_data = _nn_prep(train, lookup, ls)
            w_m, _ = neural.train_bilstm(
                tr_data, emb, n_labels=ls.n, o_id=ls.o_id, hidden=hidden,
                epochs=nn_epochs, lr=lr, nonO_weight=nonO_w, seed=5 + si,
                word_dropout=wd)
            np.savez(ck, **w_m)
            nn_members.append(w_m)

    arts = perceptron.train_crf(
        train, ls, lex, epochs=cfg["epochs"], use_patterns=cfg["use_patterns"],
        cost=cfg["cost"], miss_cost=cfg["miss_cost"], clusters=clusters)
    attr_arts = perceptron.train_crf(
        _attr(train), ls, lex, epochs=cfg["attr_epochs"],
        use_patterns=cfg["use_patterns"], cost=cfg["cost"],
        miss_cost=cfg["miss_cost"], clusters=clusters)
    arts["sp2_w"] = attr_arts["sp_w"]
    arts["sp2_trans"] = attr_arts["sp_trans"]
    arts["clf_w"] = perceptron.train_sentence_clf(
        train, lex, clusters=clusters, pos_w=cfg["clf_pos_w"])
    arts["nn_words"] = words
    arts["nn_emb"] = emb
    for mi, w_m in enumerate(nn_members):
        for k, v in w_m.items():
            arts[f"nn_m{mi}_{k}"] = v
    arts["nn_cfg"] = np.array([neural.MODE_SCORE, lam], dtype=np.float64)

    v_toks = [t for t, _ in valid]
    v_gold = [g for _, g in valid]
    tau0 = perceptron.GATE_M_TAU
    try:
        for tau in (0.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0, 640.0, 1e9):
            perceptron.GATE_M_TAU = tau
            dec = perceptron.decode_sents(v_toks, arts, ls, lex,
                                          cfg["use_patterns"], clusters)
            p, r, f1, tp, np_, ng = span_prf(dec, v_gold)
            print(f"tau={tau:<8g} P={p:.4f} R={r:.4f} F1={f1:.4f} (pred={np_})")
    finally:
        perceptron.GATE_M_TAU = tau0


def mdbclf(dim: int = 50, mc: int = 2, it: int = 1, wn: int = 5,
           pos_w: float = 3.0):
    """MalwareDB attribution classifier: sparse features vs sparse +
    dense sentence-embedding block (sent_mean_emb), measured on the gate
    (P/R) and downstream (two-pass span F1 on valid, train-fitted)."""
    from ner4cti_spark.kernel import neural

    cfg = CORPORA["malwaredb"]
    ls = LabelSpace(cfg["etypes"])
    train, valid, test = load_corpus("malwaredb")
    arts0, lex, _ = load_artifact_bits("malwaredb")
    clusters = arts0.get("_sp_clusters")
    words, vecs = _load_vecs("malwaredb", dim, mc, it, wn)
    lookup, emb = neural.build_embedding(words, vecs)

    base_arts = perceptron.train_crf(
        train, ls, lex, epochs=cfg["epochs"], use_patterns=cfg["use_patterns"],
        cost=cfg["cost"], miss_cost=cfg["miss_cost"], clusters=clusters)
    attr_arts = perceptron.train_crf(
        _attr(train), ls, lex, epochs=cfg["attr_epochs"],
        use_patterns=cfg["use_patterns"], cost=cfg["cost"],
        miss_cost=cfg["miss_cost"], clusters=clusters)

    tr_dense = [perceptron.sent_mean_emb(t, lookup, emb) for t, _ in train]
    v_dense = [perceptron.sent_mean_emb(t, lookup, emb) for t, _ in valid]
    w_sparse = perceptron.train_sentence_clf(
        train, lex, clusters=clusters, pos_w=pos_w)
    w_d, wd = perceptron.train_sentence_clf(
        train, lex, clusters=clusters, pos_w=pos_w, dense=tr_dense)

    v_toks = [t for t, _ in valid]
    v_gold = [g for _, g in valid]
    g_gold = [any(x != "O" for x in g) for g in v_gold]
    lexicon = PhraseMatcher(lex)

    def gate_scores(wc, wdv=None, dn=None):
        out = []
        for i, t in enumerate(v_toks):
            s = float(wc[perceptron.clf_features(
                list(t)[:perceptron.MAX_LEN], lexicon, clusters)].sum())
            if wdv is not None:
                s += float(wdv @ dn[i])
            out.append(s)
        return out

    for name, wc, wdv, dn in (("sparse", w_sparse, None, None),
                              ("sparse+dense", w_d, wd, v_dense)):
        sc = gate_scores(wc, wdv, dn)
        pred = [s > 0 for s in sc]
        tp = sum(1 for p, g in zip(pred, g_gold) if p and g)
        print(f"clf {name:<13} gate P={tp / max(sum(pred), 1):.3f} "
              f"R={tp / max(sum(g_gold), 1):.3f} (pred {sum(pred)}, gold {sum(g_gold)})")
        arts = dict(base_arts)
        arts["sp2_w"] = attr_arts["sp_w"]
        arts["sp2_trans"] = attr_arts["sp_trans"]
        arts["clf_w"] = wc
        dec = perceptron.decode_sents(
            v_toks, arts, ls, lex, cfg["use_patterns"], clusters,
            clf_dense_scores=([float(wdv @ d) for d in dn]
                              if wdv is not None else None))
        p, r, f1, tpn, np_, ng = span_prf(dec, v_gold)
        print(f"  two-pass valid         P={p:.4f} R={r:.4f} F1={f1:.4f} (pred={np_})")

    # oracle gate ceiling with this attr model (reference point)
    arts = dict(base_arts)
    arts["sp2_w"] = attr_arts["sp_w"]
    arts["sp2_trans"] = attr_arts["sp_trans"]
    arts["clf_w"] = w_sparse
    dec = perceptron.decode_sents(
        v_toks, arts, ls, lex, cfg["use_patterns"], clusters,
        clf_dense_scores=[1e6 if g else -1e6 for g in g_gold])
    p, r, f1, *_ = span_prf(dec, v_gold)
    print(f"oracle gate              P={p:.4f} R={r:.4f} F1={f1:.4f}")


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "baseline"
    if cmd == "baseline":
        baseline()
    elif cmd == "confusion":
        confusion(sys.argv[2])
    elif cmd == "twopass":
        twopass()
    elif cmd == "twopass2":
        twopass2()
    elif cmd == "neural":
        kw = {}
        for a in sys.argv[3:]:
            k, v = a.split("=")
            kw[k] = float(v) if "." in v or "e" in v else int(v)
        neural_exp(sys.argv[2], **kw)
    elif cmd in ("mdbclf", "mdbneural", "mdbgate"):
        kw = {}
        for a in sys.argv[2:]:
            k, v = a.split("=")
            kw[k] = float(v) if "." in v or "e" in v else int(v)
        {"mdbclf": mdbclf, "mdbneural": mdbneural,
         "mdbgate": mdbgate}[cmd](**kw)
