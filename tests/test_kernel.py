"""Kernel parity tests vs pure-Python oracles (SURVEY §5.2.1)."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from ner4cti_spark.kernel.crf import forward_logZ, greedy_decode, viterbi_decode
from ner4cti_spark.kernel.labels import LABELS, N_LABELS, bio_transition_mask
from ner4cti_spark.kernel.tagger import TaggerKernel, casing_class, extract_spans
from ner4cti_spark.kernel.weights import build_weights


# ---------- casing classifier (F1, data_utils.py:141-162 semantics) ----------

@pytest.mark.parametrize(
    "tok,expected",
    [
        ("", 7),             # [PAD]
        ("1234", 0),         # allNum
        ("a1234", 5),        # main_num (digit_prop > 0.5)
        ("hello", 1),        # allLower
        ("abc1", 1),         # islower() is True despite the digit — ref order
        ("HELLO", 2),        # allUpper
        ("Hello", 3),        # upperInit (istitle)
        ("ABc1", 6),         # contain_num
        ("...", 4),          # other
        ("McAfee", 4),       # mixed case, not istitle, no digit → other
    ],
)
def test_casing_class(tok, expected):
    assert casing_class(tok) == expected


def test_casing_class_matches_reference_oracle():
    """Property check vs a literal transcription of data_utils.py:141-162."""
    def oracle(token: str) -> int:
        case2idx = {"allNum": 0, "allLower": 1, "allUpper": 2, "upperInit": 3,
                    "other": 4, "main_num": 5, "contain_num": 6, "[PAD]": 7}
        num_digits = sum(c.isdigit() for c in token.strip())
        digit_prop = num_digits / float(len(token))
        casing = "other"
        if token.isdigit():
            casing = "allNum"
        elif digit_prop > 0.5:
            casing = "main_num"
        elif token.islower():
            casing = "allLower"
        elif token.isupper():
            casing = "allUpper"
        elif token.istitle():
            casing = "upperInit"
        elif num_digits > 0:
            casing = "contain_num"
        return case2idx[casing]

    toks = ["1234", "a1234", "hello", "abc1", "HELLO", "Hello", "ABc1", "...",
            "McAfee", "CVE-2017-0144", "10.2.3.4", "WannaCry", "{", "x86_64"]
    for t in toks:
        assert casing_class(t) == oracle(t), t


# ---------- Viterbi vs brute force (W5, CRF_classes.py:112-192) ----------

def brute_force_best_path(em: np.ndarray, trans: np.ndarray) -> tuple[list[int], float]:
    T, L = em.shape
    best, best_score = None, -np.inf
    for path in itertools.product(range(L), repeat=T):
        s = em[0, path[0]] + sum(
            trans[path[t - 1], path[t]] + em[t, path[t]] for t in range(1, T)
        )
        if s > best_score:
            best, best_score = list(path), s
    return best, best_score


def test_viterbi_matches_brute_force():
    rng = np.random.default_rng(7)
    T, L = 4, 5
    em = rng.standard_normal((3, T, L)).astype(np.float32)
    trans = rng.standard_normal((L, L)).astype(np.float32)
    lengths = np.array([4, 3, 1])
    paths, scores = viterbi_decode(em, trans, lengths)
    for b in range(3):
        t = int(lengths[b])
        bf_path, bf_score = brute_force_best_path(em[b, :t], trans)
        assert list(paths[b, :t]) == bf_path
        assert np.isclose(scores[b], bf_score, atol=1e-4)
        assert (paths[b, t:] == 0).all()


def test_forward_logZ_matches_enumeration():
    rng = np.random.default_rng(11)
    T, L = 3, 4
    em = rng.standard_normal((1, T, L)).astype(np.float32)
    trans = rng.standard_normal((L, L)).astype(np.float32)
    total = 0.0
    for path in itertools.product(range(L), repeat=T):
        s = em[0, 0, path[0]] + sum(
            trans[path[t - 1], path[t]] + em[0, t, path[t]] for t in range(1, T)
        )
        total += np.exp(s)
    logZ = forward_logZ(em, trans, np.array([T]))
    assert np.isclose(logZ[0], np.log(total), atol=1e-4)


def test_greedy_decode_is_argmax():
    em = np.array([[[1.0, 2.0], [3.0, 0.0], [0.0, 0.0]]], dtype=np.float32)
    paths = greedy_decode(em, np.array([2]))
    assert list(paths[0]) == [1, 0, 0]


# ---------- BIO machinery ----------

def test_transition_mask_blocks_illegal_I():
    m = np.asarray(bio_transition_mask())
    i_mal = LABELS.index("I-malware")
    b_mal = LABELS.index("B-malware")
    o = LABELS.index("O")
    assert m[b_mal, i_mal] == 0.0
    assert m[i_mal, i_mal] == 0.0
    assert m[o, i_mal] <= -1e3
    assert m.shape == (N_LABELS, N_LABELS)


def test_extract_spans_groups_runs():
    toks = "a b c d e".split()
    tags = ["B-tool", "I-tool", "O", "B-malware", "I-tool"]
    spans = extract_spans(toks, tags)
    assert spans == [(0, 2, "a b", "tool"), (3, 4, "d", "malware")]


# ---------- tagger determinism + correctness ----------

SENT = "APT28 exploited CVE-2017-0144 to deliver NotPetya via watering hole .".split()


def test_tagger_finds_planted_entities():
    k = TaggerKernel(build_weights())
    tags, _ = k.tag([SENT])
    spans = extract_spans(SENT, tags[0])
    found = {(s, e) for _, _, s, e in spans}
    assert ("APT28", "threat-actor") in found
    assert ("CVE-2017-0144", "cve") in found
    assert ("NotPetya", "malware") in found
    assert ("watering hole", "attack-pattern") in found


def test_tagger_deterministic_and_batch_invariant():
    # the contextual branch on: padding and the attention mask are what
    # could make a sentence's decode depend on its batch
    k = TaggerKernel(build_weights(), neural_scale=0.1)
    other = "The Lazarus Group used Mimikatz for credential dumping .".split()
    tags_a, _ = k.tag([SENT, other])
    tags_b, _ = k.tag([other])          # different batch composition
    tags_c, _ = k.tag([SENT, other])    # repeat
    assert tags_a == tags_c
    assert tags_a[1] == tags_b[0]


def test_greedy_score_ignores_chunk_padding():
    """A sentence's greedy score is its own mean emission, whatever the
    padded length of the chunk it decodes in."""
    k = TaggerKernel(build_weights(), decode="greedy", sent_cache=False)
    _, alone = k.tag([["APT28"]])
    _, padded = k.tag([["APT28"], SENT])
    assert alone[0] == padded[0] == 8.0


def test_kernel_cache_is_a_bounded_lru(monkeypatch):
    """tagging._get_kernel holds at most 4 kernels, evicts the least
    recently used first, refreshes a hit, and keys on neural_scale."""
    from ner4cti_spark import tagging

    monkeypatch.setattr(tagging, "_KERNEL_CACHE", {})
    w = build_weights()

    class StubBroadcast:
        def __init__(self, path):
            self._path, self.value = path, w

    bcs = [StubBroadcast(f"/broadcast/{i}") for i in range(5)]

    def get(i, scale=0.0):
        return tagging._get_kernel(bcs[i], scale, "viterbi")

    def held():
        return [(key[0], key[2]) for key in tagging._KERNEL_CACHE]

    first = [get(i) for i in range(4)]
    assert len(tagging._KERNEL_CACHE) == 4
    assert get(0) is first[0]                      # hit: 0 becomes most recent
    get(4)                                         # evicts 1, the LRU
    assert held() == [("/broadcast/2", 0.0), ("/broadcast/3", 0.0),
                      ("/broadcast/0", 0.0), ("/broadcast/4", 0.0)]
    assert get(1) is not first[1]                  # rebuilt; evicts 2
    on = get(4, 0.1)                               # separate entry; evicts 3
    assert on.neural_scale == 0.1 and get(4).neural_scale == 0.0
    assert held() == [("/broadcast/0", 0.0), ("/broadcast/1", 0.0),
                      ("/broadcast/4", 0.1), ("/broadcast/4", 0.0)]
    assert get(4, 0.1) is on


def test_tags_align_with_tokens():
    k = TaggerKernel(build_weights())
    sents = [SENT, ["x"], "one two three".split()]
    tags, scores = k.tag(sents)
    assert [len(t) for t in tags] == [len(s) for s in sents]
    assert len(scores) == 3


def test_reference_dims_profile_builds_and_tags():
    """The REFERENCE profile (arguments.py:121-136 dims: hidden 256,
    4 BiLSTM layers, 8 heads) runs the same code path."""
    from ner4cti_spark.kernel.weights import REFERENCE

    k = TaggerKernel(build_weights(REFERENCE), neural_scale=0.1)
    tags, _ = k.tag([SENT])
    found = {(s, e) for _, _, s, e in extract_spans(SENT, tags[0])}
    assert ("APT28", "threat-actor") in found


def test_sentence_cache_does_not_change_output():
    k_on = TaggerKernel(build_weights(), neural_scale=0.1, sent_cache=True)
    k_off = TaggerKernel(build_weights(), neural_scale=0.1, sent_cache=False)
    sents = [SENT, ["int", "x", "=", "1"], SENT, ["APT28"], SENT]
    tags_on, sc_on = k_on.tag(sents)
    tags_off, sc_off = k_off.tag(sents)
    assert tags_on == tags_off
    assert np.allclose(sc_on, sc_off)


def test_feat_cache_eviction_bound_is_enforced():
    """Regression for the r4 snapshot crash: FEAT_CACHE_MAX must exist as a
    class attribute and the eviction clear must not corrupt the current
    batch (rows snapshotted before the clear). The contextual branch must
    be on: at neural_scale 0 the feature cache is never filled."""
    k = TaggerKernel(build_weights(), neural_scale=0.1)
    assert isinstance(TaggerKernel.FEAT_CACHE_MAX, int)
    k.FEAT_CACHE_MAX = 4  # force eviction on a tiny vocabulary
    sents = [["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]]
    tags_a, sc_a = k.tag(sents)          # crosses the bound mid-call
    assert 0 < len(k._feat_cache) <= 4 + len(sents[0])
    k2 = TaggerKernel(build_weights(), neural_scale=0.1)  # default bound
    tags_b, sc_b = k2.tag(sents)
    assert tags_a == tags_b
    assert np.allclose(sc_a, sc_b)


def test_class_cache_eviction_bound_is_enforced():
    """The indicator-pattern memo is bounded like the feature cache:
    near-unique tokens (hashes, IPs, identifiers) must not grow it with
    the corpus. Two batches of distinct uncovered tokens under a tiny
    bound leave at most bound + one batch in the memo, and the tags
    equal a fresh (default-bound) kernel's."""
    batches = [
        [[f"10.0.{b}.{i}", f"host{b}x{i}.example.com", f"tok{b}_{i}"] for i in range(4)]
        for b in range(2)
    ]
    k = TaggerKernel(build_weights())
    k.FEAT_CACHE_MAX = 4
    fresh = TaggerKernel(build_weights())
    for sents in batches:
        tags, sc = k.tag(sents)
        assert len(k._class_cache) <= 4 + sum(map(len, sents))
        tags_f, sc_f = fresh.tag(sents)
        assert tags == tags_f
        assert np.allclose(sc, sc_f)
    assert any(t != "O" for s in tags for t in s)  # patterns did fire


def test_stem_fallback_matches_morphological_variants():
    """Opt-in recall-leaning mode: stemmed lexicon fallback. Measured on
    the reference corpora: MalwareDB span R +4.3pp / P -3pp (F1 +.004),
    DNRTI F1 -.018 — hence default OFF."""
    lex = {("credential", "dump"): ("attack-pattern", "credential dump")}
    k = TaggerKernel(build_weights(), phrases=lex, use_patterns=False,
                     stem_fallback=True)
    tags, _ = k.tag([["performed", "credential", "dumping", "today"]])
    assert tags[0][1] == "B-attack-pattern" and tags[0][2] == "I-attack-pattern"
    k_off = TaggerKernel(build_weights(), phrases=lex, use_patterns=False)
    tags_off, _ = k_off.tag([["performed", "credential", "dumping", "today"]])
    assert tags_off[0][2] == "O"


def test_wordpiece_mean_pool_parity():
    """A8: pooled vectors equal hand-computed piece means."""
    import numpy as np

    from ner4cti_spark.kernel import nn

    pv = np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]], dtype=np.float32)
    wid = np.array([0, 0, 1, 2])
    out = nn.wordpiece_mean_pool(pv, wid, 3)
    np.testing.assert_allclose(out[0], [2.0, 3.0])
    np.testing.assert_allclose(out[1], [5.0, 6.0])
    np.testing.assert_allclose(out[2], [7.0, 8.0])


def test_wordpiece_char_branch_pools_pieces():
    """A8 integration: with "_wp_pool" the char branch equals the mean of
    per-piece char-CNN vectors computed by hand."""
    import numpy as np

    from ner4cti_spark.kernel import nn
    from ner4cti_spark.kernel import wordpiece as wp
    from ner4cti_spark.kernel.tagger import TaggerKernel
    from ner4cti_spark.kernel.weights import build_weights

    w = build_weights()
    w["_wp_pool"] = np.array([1])
    kernel = TaggerKernel(w, phrases={})
    tok = "malware"  # splits into >1 piece under the default vocab
    pieces = [p.lstrip("#") or "#" for p in wp.wordpiece(tok, wp.default_vocab())]
    assert len(pieces) > 1
    got = kernel._wordpiece_char_vecs([tok])[0]
    cids = nn.char_ids([pieces], len(pieces), kernel.char_maxlen, kernel.char_vocab)[0]
    pv = nn.char_cnn(cids[:, None, :], w["char_emb"], w["char_conv_w"], w["char_conv_b"], 3)[:, 0, :]
    np.testing.assert_allclose(got, pv.mean(axis=0), rtol=1e-5)


def test_soft_augment_math_and_integration():
    """M6: softmax attention + gate math; neighbors change the word
    vector, words without neighbors pass through unchanged."""
    import numpy as np

    from ner4cti_spark.kernel import nn
    from ner4cti_spark.kernel.tagger import TaggerKernel
    from ner4cti_spark.kernel.weights import build_weights

    x = np.ones((1, 4), dtype=np.float32)
    nbr = np.stack([[np.full(4, 2.0), np.full(4, 4.0)]]).astype(np.float32)
    sims = np.array([[np.log(3.0), 0.0]], dtype=np.float32)  # weights 3/4, 1/4
    mask = np.ones((1, 2), dtype=bool)
    out = nn.soft_augment(x, nbr, sims, mask)
    ctx = 0.75 * 2.0 + 0.25 * 4.0
    gate = 1.0 / (1.0 + np.exp(-4 * ctx))
    np.testing.assert_allclose(out[0], 1.0 + gate * ctx, rtol=1e-5)
    # no-neighbor row unchanged
    out2 = nn.soft_augment(x, nbr, sims, np.zeros((1, 2), dtype=bool))
    np.testing.assert_array_equal(out2, x)

    w_plain = build_weights()
    w_aug = build_weights()
    w_aug["_aug_neighbors"] = {"stuxnet": (("duqu", "flame"), (0.9, 0.8))}
    k_plain = TaggerKernel(w_plain, phrases={})
    k_aug = TaggerKernel(w_aug, phrases={})
    sent = [["Stuxnet", "infected", "systems"]]
    e_plain = k_plain.neural_emissions(sent, 3, np.ones((1, 3), dtype=bool))
    e_aug = k_aug.neural_emissions(sent, 3, np.ones((1, 3), dtype=bool))
    assert not np.allclose(e_plain[0, 0], e_aug[0, 0])   # augmented token moved
    # deterministic: same weights+table → identical emissions
    k_aug2 = TaggerKernel(w_aug, phrases={})
    np.testing.assert_array_equal(
        e_aug, k_aug2.neural_emissions(sent, 3, np.ones((1, 3), dtype=bool)))


def test_hard_aug_table_equals_soft_fusion():
    """M5 ≡ M6: the precomputed hard-augmentation table equals the
    on-the-fly soft fusion for vocabulary (lowercased) tokens."""
    import numpy as np

    from ner4cti_spark.kernel.tagger import TaggerKernel, build_hard_aug_table
    from ner4cti_spark.kernel.weights import build_weights

    neighbors = {
        "stuxnet": (("duqu", "flame"), (0.9, 0.8)),
        "mimikatz": (("pwdump",), (0.7,)),
    }
    w_soft = build_weights()
    w_soft["_aug_neighbors"] = neighbors
    w_hard = build_weights()
    w_hard["_hard_aug_table"] = build_hard_aug_table(w_hard, neighbors)
    toks = ["stuxnet", "mimikatz", "unrelated"]
    v_soft = TaggerKernel(w_soft, phrases={})._token_features(toks)
    v_hard = TaggerKernel(w_hard, phrases={})._token_features(toks)
    np.testing.assert_allclose(v_soft, v_hard, rtol=1e-5)
    # and it actually changed the augmented rows vs the plain kernel
    v_plain = TaggerKernel(build_weights(), phrases={})._token_features(toks)
    assert not np.allclose(v_plain[0], v_hard[0])
    np.testing.assert_array_equal(v_plain[2], v_hard[2])
    # documented divergence on CASED surfaces: the hard table is keyed by
    # exact vocab form — 'Stuxnet' passes through unaugmented, while the
    # soft path fuses via the lowercased neighbor lookup
    v_hard_cased = TaggerKernel(w_hard, phrases={})._token_features(["Stuxnet"])
    v_plain_cased = TaggerKernel(build_weights(), phrases={})._token_features(["Stuxnet"])
    np.testing.assert_array_equal(v_hard_cased, v_plain_cased)
    v_soft_cased = TaggerKernel(w_soft, phrases={})._token_features(["Stuxnet"])
    assert not np.allclose(v_soft_cased, v_plain_cased)
