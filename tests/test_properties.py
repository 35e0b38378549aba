"""Property-based kernel tests (hypothesis) — SURVEY §5.2.4."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ner4cti_spark.kernel import gazetteer
from ner4cti_spark.kernel.crf import viterbi_decode
from ner4cti_spark.kernel.gazetteer import PhraseMatcher
from ner4cti_spark.kernel.labels import CTI
from ner4cti_spark.kernel.tagger import (
    LEX_O, LEX_OTHER, MAX_SEQ_LEN, TaggerKernel, casing_class, extract_spans,
)
from ner4cti_spark.kernel.weights import FAST, REFERENCE, build_weights


def _reference_case_oracle(token: str) -> int:
    """Literal transcription of data_utils.py:141-162."""
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


@given(st.text(min_size=1, max_size=20))
@settings(max_examples=300, deadline=None)
def test_casing_class_matches_reference_on_arbitrary_text(tok):
    assert casing_class(tok) == _reference_case_oracle(tok)


@given(
    st.integers(min_value=1, max_value=5),   # T
    st.integers(min_value=2, max_value=4),   # L
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_viterbi_matches_brute_force_randomized(T, L, seed):
    rng = np.random.default_rng(seed)
    em = rng.standard_normal((1, T, L)).astype(np.float32)
    trans = rng.standard_normal((L, L)).astype(np.float32)
    paths, scores = viterbi_decode(em, trans, np.array([T]))
    best, best_score = None, -np.inf
    for path in itertools.product(range(L), repeat=T):
        s = em[0, 0, path[0]] + sum(
            trans[path[t - 1], path[t]] + em[0, t, path[t]] for t in range(1, T)
        )
        if s > best_score:
            best, best_score = list(path), s
    assert list(paths[0, :T]) == best
    assert np.isclose(scores[0], best_score, atol=1e-3)


_tag_strategy = st.lists(
    st.sampled_from(CTI.tags), min_size=1, max_size=12
)


@given(_tag_strategy)
@settings(max_examples=200, deadline=None)
def test_span_extraction_covers_exactly_B_starts(tags):
    toks = [f"t{i}" for i in range(len(tags))]
    spans = extract_spans(toks, tags)
    # each span starts at a B- position with the matching etype
    for b, e, surface, etype in spans:
        assert tags[b] == f"B-{etype}"
        for j in range(b + 1, e):
            assert tags[j] == f"I-{etype}"
        assert surface == " ".join(toks[b:e])
    # number of spans == number of B- tags
    assert len(spans) == sum(t.startswith("B-") for t in tags)
    # spans are disjoint and ordered
    for (b1, e1, *_), (b2, e2, *_) in zip(spans, spans[1:]):
        assert e1 <= b2


@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"),
                                       max_codepoint=0x2FF),
                min_size=1, max_size=10,
            ),
            min_size=1, max_size=12,
        ),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=30, deadline=None)
def test_tagger_total_on_arbitrary_tokens(sents):
    """The kernel must be total and aligned on arbitrary token input."""
    k = TaggerKernel(build_weights())
    tags, scores = k.tag(sents)
    assert [len(t) for t in tags] == [len(s) for s in sents]
    assert all(t in CTI.labels for ts in tags for t in ts)
    assert len(scores) == len(sents)
    # determinism: same input → same output
    tags2, _ = k.tag(sents)
    assert tags == tags2


# a small vocabulary so generated lexicons share first tokens, with cased
# variants
_LEX_WORDS = ["load", "loads", "Loading", "loaded", "execute", "executes",
              "apt", "APT", "bear", "Bears", "fancy", "x"]
# keys are mostly lowercased, as phrase_index builds them; a cased key
# can never match the lowercased input, in either implementation
_phrase_key = st.tuples(
    st.lists(st.sampled_from(_LEX_WORDS), min_size=1, max_size=4), st.booleans()
).map(lambda p: tuple(w.lower() if p[1] else w for w in p[0]))


def _reference_matches(tokens, phrases):
    """Brute force: at each position try every span length from the
    longest down and take the first hit; no first-token index, no length
    bound."""
    lows = [t.lower() for t in tokens]
    out, i = [], 0
    while i < len(lows):
        for span in range(len(lows) - i, 0, -1):
            key = tuple(lows[i:i + span])
            hit = phrases.get(key)
            if hit is not None:
                out.append((i, i + span, hit[0]))
                i += span
                break
        else:
            i += 1
    return out


@given(
    st.dictionaries(_phrase_key, st.sampled_from(["malware", "tool", "threat-actor"]),
                    max_size=12),
    st.lists(st.lists(st.sampled_from(_LEX_WORDS + ["the", "Load"]), max_size=12),
             min_size=1, max_size=4),
)
@settings(max_examples=300, deadline=None)
def test_phrase_matcher_matches_brute_force(lexicon, sents):
    phrases = {k: (etype, " ".join(k)) for k, etype in lexicon.items()}
    m = PhraseMatcher(phrases)
    for toks in sents:
        want = _reference_matches(toks, phrases)
        assert m.matches(toks) == want
        bio = ["O"] * len(toks)
        for b, e, etype in want:
            bio[b:e] = ["B-" + etype] + ["I-" + etype] * (e - b - 1)
        assert m.bio(toks) == bio


# ---- the untrained contextual branch cannot move a tag ----

_NEURAL_SCALE = 0.1  # the pipeline's former default
_MARGIN_WEIGHTS = {"fast": build_weights(FAST), "reference": build_weights(REFERENCE)}


def _valid_trans_spread(trans: np.ndarray) -> float:
    valid = trans[np.asarray(CTI.bio_transition_mask()) == 0.0]
    return float(valid.max() - valid.min())


@pytest.mark.parametrize("profile", sorted(_MARGIN_WEIGHTS))
def test_lexicon_margin_exceeds_neural_and_transition_reach(profile):
    """A path that leaves the lexicon argmax at k tokens loses ≥ k·margin
    of emission score; the branch wins back < 2k·scale, the valid
    transitions ≤ 2k·spread."""
    spread = _valid_trans_spread(_MARGIN_WEIGHTS[profile]["trans"])
    assert 2 * _NEURAL_SCALE + 2 * spread < LEX_O - LEX_OTHER


_alias = st.sampled_from(sorted({a for _, _, a in gazetteer.alias_rows()})).flatmap(
    lambda a: st.sampled_from([a, a.lower(), a.upper()])).map(str.split)
_indicator = st.one_of(
    st.builds("CVE-{}-{:04d}".format, st.integers(1999, 2030), st.integers(0, 999_999)),
    st.ip_addresses(v=4).map(str),
    st.binary(min_size=16, max_size=16).map(bytes.hex),
    st.binary(min_size=32, max_size=32).map(bytes.hex),
).map(lambda t: [t])
_filler = st.sampled_from(
    ["the", "The", "used", "a", "dropper", "via", ",", ".", "=", "int", "x", "APT",
     "28", "Bear", "spear", "Group", "Cobalt", "CVE-2017", "10.0.0", "to"]).map(lambda t: [t])
_sentence = st.lists(st.one_of(_alias, _indicator, _filler), max_size=20).map(
    lambda parts: [t for p in parts for t in p])


@pytest.mark.parametrize("decode", ["viterbi", "greedy"])
@pytest.mark.parametrize("profile", sorted(_MARGIN_WEIGHTS))
@given(st.lists(_sentence, min_size=1, max_size=6))
@settings(max_examples=15, deadline=None)
def test_untrained_neural_branch_changes_no_tag(profile, decode, sents):
    w = _MARGIN_WEIGHTS[profile]
    flat = [t for s in sents for t in s] + ["the"]
    sents = sents + [[], flat * (MAX_SEQ_LEN // len(flat) + 1)]  # empty, > MAX_SEQ_LEN
    on = TaggerKernel(w, neural_scale=_NEURAL_SCALE, decode=decode, sent_cache=False)
    off = TaggerKernel(w, neural_scale=0.0, decode=decode, sent_cache=False)
    tags_on, sc_on = on.tag(sents)
    tags_off, sc_off = off.tag(sents)
    assert tags_on == tags_off
    assert np.abs(sc_on - sc_off).max() < _NEURAL_SCALE
