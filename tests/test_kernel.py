"""Kernel parity tests vs pure-Python oracles (SURVEY §5.2.1)."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from ner4cti_spark.kernel.crf import forward_logZ, greedy_decode, viterbi_decode
from ner4cti_spark.kernel.labels import CTI
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
    m = np.asarray(CTI.bio_transition_mask())
    i_mal = CTI.labels.index("I-malware")
    b_mal = CTI.labels.index("B-malware")
    o = CTI.labels.index("O")
    assert m[b_mal, i_mal] == 0.0
    assert m[i_mal, i_mal] == 0.0
    assert m[o, i_mal] <= -1e3
    assert m.shape == (CTI.n, CTI.n)


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
