"""Neural emission branch (kernel/neural.py): the trainer's forward must
equal the SHIPPED eval kernel (nn.lstm_layer), and the hand-written BPTT
must match finite differences — the two invariants that make "we trained
the existing numpy kernel" true rather than aspirational."""

from __future__ import annotations

import numpy as np
import pytest
from decode_reference import reference_decode_sents

from ner4cti_spark.kernel import neural
from ner4cti_spark.kernel.nn import lstm_layer


def _rand_weights(din, hidden, n_labels, seed=3):
    rng = np.random.default_rng(seed)
    w = neural.init_weights(din, hidden, n_labels, seed)
    # perturb away from the symmetric init (incl. nonzero biases)
    for k in w:
        w[k] = (w[k] + rng.normal(0, 0.1, w[k].shape)).astype(np.float32)
    return w


def test_cached_forward_matches_shipped_kernel():
    rng = np.random.default_rng(0)
    x = rng.normal(0, 1, (3, 7, 11)).astype(np.float32)
    w = _rand_weights(11, 5, 4)
    for rev in (False, True):
        ref = lstm_layer(x, w["lstm0_fw_wx"], w["lstm0_fw_wh"], w["lstm0_fw_b"],
                         reverse=rev)
        got, _ = neural._lstm_forward_cached(
            x, w["lstm0_fw_wx"], w["lstm0_fw_wh"], w["lstm0_fw_b"], reverse=rev)
        np.testing.assert_allclose(got, ref, rtol=1e-5, atol=1e-5)


def test_forward_logits_uses_same_recurrence():
    rng = np.random.default_rng(1)
    x = rng.normal(0, 1, (2, 5, 9)).astype(np.float32)
    w = _rand_weights(9, 4, 6)
    eval_logits = neural.forward_logits(x, w)
    train_logits, _ = neural._forward_train(x, w)
    np.testing.assert_allclose(train_logits, eval_logits, rtol=1e-5, atol=1e-5)


@pytest.mark.parametrize("key", [
    "em_w", "em_b",
    "lstm0_fw_wx", "lstm0_fw_wh", "lstm0_fw_b",
    "lstm0_bw_wx", "lstm0_bw_wh", "lstm0_bw_b",
])
def test_bptt_matches_finite_differences(key):
    """Central finite differences on a tiny model, in float64 via the
    float32 kernels — tolerances sized for fp32 forward noise."""
    rng = np.random.default_rng(7)
    B, T, D, H, L = 2, 4, 6, 3, 5
    x = rng.normal(0, 1, (B, T, D)).astype(np.float32)
    gold = rng.integers(0, L, (B, T))
    tok_w = np.where(gold != 0, 2.0, 1.0)
    w = _rand_weights(D, H, L, seed=11)

    def loss_of(wd):
        logits, _ = neural._forward_train(x, wd)
        loss, _ = neural._softmax_ce_grad(logits, gold, tok_w)
        return loss

    logits, cache = neural._forward_train(x, w)
    _, dl = neural._softmax_ce_grad(logits, gold, tok_w)
    grads = neural._backward_train(dl, w, cache)

    g = grads[key]
    flat_idx = [tuple(i) for i in np.ndindex(*w[key].shape)]
    rng.shuffle(flat_idx)
    eps = 1e-2
    expect = min(12, len(flat_idx))
    checked = 0
    for idx in flat_idx[:expect]:
        orig = w[key][idx]
        w[key][idx] = orig + eps
        lp = loss_of(w)
        w[key][idx] = orig - eps
        lm = loss_of(w)
        w[key][idx] = orig
        num = (lp - lm) / (2 * eps)
        ana = float(g[idx])
        assert abs(num - ana) <= 2e-3 + 0.05 * max(abs(num), abs(ana)), (
            key, idx, num, ana)
        checked += 1
    assert checked == expect


def test_training_reduces_loss_and_fits_toy_pattern():
    """A separable toy tagset (label decided by embedding direction +
    one contextual rule) must be learned to high accuracy — exercises
    the full train loop incl. exact-length bucketing."""
    rng = np.random.default_rng(42)
    V, Ddim, L = 40, 8, 3
    emb_mat = np.zeros((V + 1, Ddim), dtype=np.float32)
    emb_mat[1:] = rng.normal(0, 1, (V, Ddim))
    # class of a word = its id mod 3; label = class of PREVIOUS word
    # (forces use of the recurrent state, not just the local input)
    data = []
    for _ in range(300):
        ln = int(rng.integers(3, 9))
        wid = rng.integers(1, V + 1, ln)
        cas = np.zeros(ln, dtype=np.int64)
        gold = np.empty(ln, dtype=np.int64)
        gold[0] = 0
        gold[1:] = wid[:-1] % 3
        data.append((wid, cas, gold))
    w, losses = neural.train_bilstm(
        data, emb_mat, n_labels=L, o_id=0, hidden=16, epochs=30, lr=1e-2,
        seed=1)
    assert losses[-1] < losses[0] * 0.2, losses
    correct = total = 0
    for wid, cas, gold in data[:50]:
        x = neural.input_features(wid[None], cas[None], emb_mat)
        pred = neural.forward_logits(x, w)[0].argmax(axis=-1)
        correct += int((pred[1:] == gold[1:]).sum())
        total += len(gold) - 1
    assert correct / total > 0.9, correct / total


def _toy_branch_bundle():
    """Perceptron + trained neural branch on a toy corpus where only the
    EMBEDDING decides the class (names share surface shape, so the
    discrete features can't separate X from Y — the branch must)."""
    from ner4cti_spark.kernel import perceptron as P
    from ner4cti_spark.kernel.labels import LabelSpace

    ls = LabelSpace(["X", "Y"])
    rng = np.random.default_rng(9)
    words = ["alpha", "does", "beta"] + ["nx%d" % i for i in range(15)] \
        + ["ny%d" % i for i in range(15)]
    vecs = rng.normal(0, 1, (len(words), 12)).astype(np.float32)
    # class direction baked into the embedding space
    for i, w in enumerate(words):
        if w.startswith("nx"):
            vecs[i, 0] += 4.0
        elif w.startswith("ny"):
            vecs[i, 0] -= 4.0
    lookup, emb = neural.build_embedding(words, vecs)
    sents = []
    for i in range(240):
        n = words[3 + int(rng.integers(30))]
        lab = "B-X" if n.startswith("nx") else "B-Y"
        sents.append((["alpha", n, "does", "beta"], ["O", lab, "O", "O"]))
    data = []
    from ner4cti_spark.kernel.tagger import casing_class

    for toks, tags in sents:
        wid = neural.sent_ids(toks, lookup)
        cas = np.array([casing_class(t) for t in toks], dtype=np.int64)
        gold = np.array([ls.label2id[t] for t in tags], dtype=np.int64)
        data.append((wid, cas, gold))
    nnw, _ = neural.train_bilstm(data, emb, n_labels=ls.n, o_id=ls.o_id,
                                 hidden=12, epochs=25, lr=1e-2, seed=2)
    arts = P.train_crf(sents, ls, {}, epochs=4, use_patterns=False)
    arts["nn_words"] = words
    arts["nn_emb"] = emb
    for k, v in nnw.items():
        arts["nn_" + k] = v
    return arts, ls, sents


@pytest.mark.parametrize("mode,lam", [(neural.MODE_SCORE, 4.0),
                                      (neural.MODE_STACK, 0.0)])
def test_branch_decode_parity_and_artifact_roundtrip(mode, lam, tmp_path):
    """TaggerKernel.tag and decode_sents both equal the per-sentence
    reference decode with the neural branch active, through a
    save/load_artifact roundtrip, in both fusion modes; unseen
    same-shape names must be classified by the branch (score mode — the
    discrete features alone cannot)."""
    from ner4cti_spark.kernel import perceptron as P
    from ner4cti_spark.kernel.tagger import TaggerKernel
    from ner4cti_spark.kernel.weights import build_weights

    arts, ls, _sents = _toy_branch_bundle()
    arts["nn_cfg"] = np.array([mode, lam], dtype=np.float64)
    path = str(tmp_path / "toy_crf.npz")
    P.save_artifact(path, arts, {}, ls.etypes)
    arts2, phrases, etypes = P.load_artifact(path)
    assert etypes == ls.etypes
    nb = neural.branch_from_arts(arts2)
    assert nb is not None and nb[3] == mode
    toks = [["alpha", "nx3", "does", "beta"],
            ["alpha", "ny7", "does", "beta"],
            ["alpha", "nx11", "does", "beta"]]
    want = reference_decode_sents(toks, arts2, ls, {}, False)
    w = build_weights(label_space=ls)
    w.update(arts2)
    kernel = TaggerKernel(w, phrases={}, use_patterns=False, label_space=ls)
    got, _ = kernel.tag(toks)
    assert got == want
    assert P.decode_sents(toks, arts2, ls, {}, False) == want
    if mode == neural.MODE_STACK:
        # the stacked-feature hook replaces the branch's predictions per
        # sentence, also when the length sort reorders the batch
        mixed = toks + [["alpha", "nx3"], ["beta", "ny7", "does", "alpha", "nx1"]]
        extras = [neural.stack_extra(lp[::-1], ls.id2label) for lp in
                  neural.batch_logprob(mixed, *nb[:3])]
        assert (P.decode_sents(mixed, arts2, ls, {}, False, extras=extras)
                == reference_decode_sents(mixed, arts2, ls, {}, False,
                                          extras=extras))
    if mode == neural.MODE_SCORE:
        assert [t[1] for t in want] == ["B-X", "B-Y", "B-X"], want


def test_batch_logprob_matches_per_sentence():
    """batch_logprob (exact-length-grouped batched forward, the chunk
    path) must reproduce sent_logprob per sentence — including empty
    sentences and mixed lengths in one chunk."""
    arts, ls, sents = _toy_branch_bundle()
    arts["nn_cfg"] = np.array([neural.MODE_SCORE, 4.0], dtype=np.float64)
    members, emb, lookup, _m, _l = neural.branch_from_arts(arts)
    toks = [
        ["alpha", "nx3", "does", "beta"],
        [],
        ["alpha", "ny7"],
        ["beta", "nx11", "does", "alpha"],   # same length as the first
        ["gamma"],
    ]
    batched = neural.batch_logprob(toks, members, emb, lookup)
    for t, lp in zip(toks, batched):
        assert lp.shape == (len(t), ls.n)
        if t:
            # float32 GEMM blocking differs between (G·T,D) and (T,D)
            # shapes — ~1e-6 drift is inherent to batching; the decode
            # parity test asserts the TAGS are identical
            np.testing.assert_allclose(
                lp, neural.sent_logprob(t, members, emb, lookup),
                rtol=0, atol=1e-5)


def test_sent_ids_lowercase_fallback():
    lookup = {"apt28": 3, "Malware": 7, "malware": 4}
    ids = neural.sent_ids(["APT28", "Malware", "MALWARE", "zzz"],
                          {**lookup, "apt28": 3})
    # APT28 → lowercase fallback; Malware exact; MALWARE → lowercase; OOV → 0
    assert list(ids) == [3, 7, 4, 0]
