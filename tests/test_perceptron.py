"""Trained CRF (averaged structured perceptron) — learnability, artifact
roundtrip, kernel integration, POS (F4)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from decode_reference import reference_decode_sents

from ner4cti_spark.kernel import perceptron as P
from ner4cti_spark.kernel import pos
from ner4cti_spark.kernel.labels import LabelSpace

LS = LabelSpace(["X", "Y"])

# a deterministic toy language: 'alpha NAME does beta' where NAME after
# 'alpha' is X and NAME after 'gamma' is Y — context decides, not identity
NAMES = ["n%d" % i for i in range(30)]


def _toy_corpus(n: int = 200, seed: int = 7):
    rng = np.random.default_rng(seed)
    sents = []
    for _ in range(n):
        name = NAMES[int(rng.integers(len(NAMES)))]
        if rng.random() < 0.5:
            sents.append((["alpha", name, "does", "beta"], ["O", "B-X", "O", "O"]))
        else:
            sents.append((["gamma", name, "does", "beta"], ["O", "B-Y", "O", "O"]))
    return sents


def test_perceptron_learns_contextual_rule():
    sents = _toy_corpus()
    arts = P.train_crf(sents, LS, {}, epochs=5, use_patterns=False)
    # UNSEEN name: context must decide the class
    pred = P.decode_sents(
        [["alpha", "zz_unseen", "does", "beta"],
         ["gamma", "zz_unseen", "does", "beta"]],
        arts, LS, {}, False)
    assert pred[0] == ["O", "B-X", "O", "O"]
    assert pred[1] == ["O", "B-Y", "O", "O"]


def test_epoch_errors_converge():
    """A5 analog: averaged per-epoch training loss is tracked and falls
    as the separable toy problem is learned."""
    arts = P.train_crf(_toy_corpus(150), LS, {}, epochs=4, use_patterns=False)
    errs = arts["_sp_epoch_errors"]
    assert len(errs) == 4
    assert errs[-1] < errs[0]
    assert errs[-1] <= 0.01  # separable → near-zero training loss


def test_bio_repair_and_structural_mask():
    assert P.repair_bio(["I-X", "I-X", "O", "I-Y"]) == ["B-X", "I-X", "O", "B-Y"]
    sents = _toy_corpus(50)
    arts = P.train_crf(sents, LS, {}, epochs=3, use_patterns=False)
    for tags in P.decode_sents([s for s, _ in sents[:20]], arts, LS, {}, False):
        prev = "O"
        for t in tags:
            assert t not in ("[BOS]", "[EOS]", "[X]")
            if t.startswith("I-"):
                assert prev in (f"B-{t[2:]}", f"I-{t[2:]}")
            prev = t


def test_artifact_roundtrip(tmp_path):
    sents = _toy_corpus(80)
    phrases = {("alpha",): ("X", "alpha")}
    clusters = {"alpha": (1, 2), "beta": (3, 4)}
    arts = P.train_crf(sents, LS, phrases, epochs=3, use_patterns=False,
                       clusters=clusters)
    arts["_sp_clusters"] = clusters
    # two-pass extension roundtrips too
    arts["sp2_w"] = arts["sp_w"] * 0.5
    arts["sp2_trans"] = arts["sp_trans"] * 0.5
    arts["clf_w"] = P.train_sentence_clf(sents, phrases, epochs=2)
    path = os.path.join(tmp_path, "toy.npz")
    P.save_artifact(path, arts, phrases, LS.etypes)
    arts2, phrases2, etypes = P.load_artifact(path)
    assert etypes == LS.etypes
    assert phrases2 == phrases
    assert arts2["_sp_clusters"] == clusters
    np.testing.assert_array_equal(arts["sp_w"], arts2["sp_w"])
    np.testing.assert_array_equal(arts["sp_trans"], arts2["sp_trans"])
    np.testing.assert_array_equal(arts["sp2_w"], arts2["sp2_w"])
    np.testing.assert_array_equal(arts["clf_w"], arts2["clf_w"])
    toks = [s for s, _ in sents[:10]]
    assert (P.decode_sents(toks, arts, LS, phrases, False, clusters)
            == P.decode_sents(toks, arts2, LS, phrases2, False, clusters))


def test_artifacts_are_pickle_free(tmp_path):
    """All npz artifacts — fresh saves AND the committed corpus bundles —
    must load with allow_pickle=False (one loader contract, no local
    deserialization surface): string arrays are fixed-width unicode."""
    sents = _toy_corpus(20)
    phrases = {("alpha", "beta"): ("X", "alpha beta")}
    arts = P.train_crf(sents, LS, phrases, epochs=1, use_patterns=False)
    path = os.path.join(tmp_path, "pf.npz")
    P.save_artifact(path, arts, phrases, LS.etypes)
    with np.load(path, allow_pickle=False) as z:
        assert z["lex_keys"].dtype.kind == "U"
        assert z["etypes"].dtype.kind == "U"
    art_dir = os.path.join(os.path.dirname(P.__file__), "..", "artifacts")
    for corpus in ("dnrti", "malwaredb"):
        p = os.path.join(art_dir, f"{corpus}_crf.npz")
        if os.path.exists(p):
            arts2, phrases2, etypes2 = P.load_artifact(p)  # pickle-free loader
            assert arts2["sp_w"].size and phrases2 and etypes2


def test_kernel_trained_path_matches_decode_sents():
    from ner4cti_spark.kernel.tagger import TaggerKernel
    from ner4cti_spark.kernel.weights import build_weights

    sents = _toy_corpus(80)
    arts = P.train_crf(sents, LS, {}, epochs=3, use_patterns=False)
    w = build_weights(label_space=LS)
    w.update(arts)
    kernel = TaggerKernel(w, phrases={}, use_patterns=False, label_space=LS)
    toks = [s for s, _ in sents[:25]] + [["alpha", "unseen_tok", "does", "beta"]]
    got, _ = kernel.tag(toks)
    want = reference_decode_sents(toks, arts, LS, {}, False)
    assert got == want
    assert P.decode_sents(toks, arts, LS, {}, False) == want


def _artifact_sentences(arts: dict, phrases: dict, n: int = 200) -> list[list[str]]:
    """n fixed sentences for a shipped artifact: distinct corpus-generator
    lines, word salad over the artifact's own vocabulary with lexicon
    phrases spliced in, one empty sentence and one past MAX_LEN."""
    import random

    from ner4cti_spark.corpus import _doc_text

    out: list[list[str]] = []
    seen: set[str] = set()
    d = 0
    while len(out) < n // 2:
        for line in _doc_text(d)[0].split("\n"):
            if line.strip() and line not in seen and len(out) < n // 2:
                seen.add(line)
                out.append(line.split())
        d += 1
    rng = random.Random(11)
    words = [str(w) for w in arts["nn_words"]]
    keys = sorted(phrases)
    while len(out) < n - 2:
        toks: list[str] = []
        for _ in range(rng.randint(1, 30)):
            if rng.random() < 0.2:
                toks.extend(rng.choice(keys))
            else:
                w = rng.choice(words)
                toks.append(w.capitalize() if rng.random() < 0.2 else w)
        out.append(toks)
    out.append([])
    out.append([rng.choice(words) for _ in range(P.MAX_LEN + 44)])
    return out


@pytest.mark.parametrize("corpus", ["dnrti", "malwaredb"])
def test_shipped_artifact_decodes_match_reference(corpus):
    """The committed DNRTI (score fusion, lambda 16) and MalwareDB (score
    fusion, lambda 192, two-pass) artifacts: TaggerKernel.tag and
    decode_sents both equal the per-sentence reference decode on fixed
    sentences. Real trained weights, no reference corpus needed."""
    from ner4cti_spark.kernel.tagger import TaggerKernel
    from ner4cti_spark.kernel.weights import build_weights
    from ner4cti_spark.training import ARTIFACT_DIR, label_space_for

    arts, phrases, etypes = P.load_artifact(
        os.path.join(ARTIFACT_DIR, f"{corpus}_crf.npz"))
    ls = label_space_for(corpus)
    assert etypes == ls.etypes
    use_patterns = bool(arts["_sp_meta"][1])
    clusters = arts["_sp_clusters"]
    sents = _artifact_sentences(arts, phrases)
    want = reference_decode_sents(sents, arts, ls, phrases, use_patterns, clusters)
    assert [len(t) for t in want] == [len(s) for s in sents]
    assert sum(any(t != "O" for t in ts) for ts in want) >= 20
    w = build_weights(label_space=ls)
    w.update(arts)
    kernel = TaggerKernel(w, phrases=phrases, label_space=ls)
    got, _ = kernel.tag(sents)
    assert got == want
    assert P.decode_sents(sents, arts, ls, phrases, use_patterns, clusters) == want
    if "sp2_w" in arts:
        # the attribution gate changes some decodes: the two-pass branch runs
        one_pass = {k: v for k, v in arts.items() if k not in ("sp2_w", "clf_w")}
        assert P.decode_sents(sents, one_pass, ls, phrases, use_patterns,
                              clusters) != want


def test_upos_differs_from_casing_signal():
    """F4: the POS feature is a real signal, not the casing proxy —
    tokens with identical casing class get different UPOS."""
    from ner4cti_spark.kernel.tagger import casing_class

    pairs = [("running", "malware"), ("quickly", "trojan"), ("the", "exploit")]
    for a, b in pairs:
        assert casing_class(a) == casing_class(b)
        assert pos.upos(a) != pos.upos(b), (a, b, pos.upos(a))
    assert pos.upos("CVE-2017-0144") == "NUM"  # digit-dominant identifier
    assert pos.upos("WannaCry2x") == "X"  # mixed alnum identifier
    assert pos.upos("2017") == "NUM"
    assert pos.upos("Microsoft") == "PROPN"
    assert pos.upos(".") == "PUNCT"
    assert pos.upos_id("[nonexistent-word]") == pos.UPOS2ID["X"]


@pytest.mark.skipif(
    not os.path.exists("/root/reference/DNRTI_Dataset/test.txt"),
    reason="reference corpus not present")
def test_dnrti_trained_quality_gate(spark):
    """Trained CRF + score-fused neural emission branch: span F1 ≥ 0.86
    on the DNRTI test split (lexicon baseline 0.68, feature-CRF alone
    0.855, fused 0.880 measured r4 — the branch moved OOV tool recall
    0.61 → 0.71)."""
    from ner4cti_spark.dataprep_queries import q_dnrti_eval

    row = q_dnrti_eval(spark, "").collect()[0]
    assert row["f1"] >= 0.86, row
    assert row["precision"] >= 0.90, row
    assert row["accuracy"] >= 0.95, row


@pytest.mark.skipif(
    not os.path.exists("/root/reference/MalwareDB/MalwareDB/test.txt"),
    reason="reference corpus not present")
def test_malwaredb_trained_quality_gate(spark):
    """MalwareDB span-exact F1 ≥ 0.43 with the two-pass
    attributed-sentence pipeline + score-fused neural emission branch
    (single-pass CRF was 0.33, two-pass feature-CRF 0.384, fused 0.452
    measured r4 — above the r3 oracle-gate ceiling of 0.468's
    neighborhood and the top of the SemEval-2018 Task 8 non-BERT band).
    Note: the word-cluster features and branch embeddings come from a
    Word2Vec fit on train+valid+test TEXT (reference parity,
    data_processing.py:31 — transductive), so this gate depends on test
    text in the unsupervised fit."""
    from ner4cti_spark.dataprep_queries import q_malwaredb_eval

    row = q_malwaredb_eval(spark, "").collect()[0]
    assert row["f1"] >= 0.43, row
    assert row["accuracy"] >= 0.82, row


def test_two_pass_kernel_matches_decode_sents():
    """Two-pass (sp2_w/clf_w) executor path ≡ driver decode_sents on a
    gate-exercising toy: unattributed sentences must come out all-O via
    the classifier gate, attributed ones decode with the attr model."""
    from ner4cti_spark.kernel.tagger import TaggerKernel
    from ner4cti_spark.kernel.weights import build_weights

    rng = np.random.default_rng(3)
    sents = []
    for i in range(120):
        name = NAMES[int(rng.integers(len(NAMES)))]
        if i % 3 == 0:  # unattributed filler
            sents.append((["filler", "words", "only", "here"], ["O"] * 4))
        elif i % 3 == 1:
            sents.append((["alpha", name, "does", "beta"], ["O", "B-X", "O", "O"]))
        else:
            sents.append((["gamma", name, "does", "beta"], ["O", "B-Y", "O", "O"]))
    base = P.train_crf(sents, LS, {}, epochs=4, use_patterns=False)
    attr = [(t, g) for t, g in sents if any(x != "O" for x in g)]
    arts2 = P.train_crf(attr, LS, {}, epochs=4, use_patterns=False)
    base["sp2_w"] = arts2["sp_w"]
    base["sp2_trans"] = arts2["sp_trans"]
    base["clf_w"] = P.train_sentence_clf(sents, {}, epochs=8)
    toks = [s for s, _ in sents[:30]] + [["filler", "words", "only", "here"]]
    want = reference_decode_sents(toks, base, LS, {}, False)
    w = build_weights(label_space=LS)
    w.update(base)
    kernel = TaggerKernel(w, phrases={}, use_patterns=False, label_space=LS)
    got, _ = kernel.tag(toks)
    assert got == want
    assert P.decode_sents(toks, base, LS, {}, False) == want
    # the gate actually fires: filler decodes all-O
    assert want[-1] == ["O"] * 4
    # the dense-score hook overrides the gate per sentence, also when
    # the length sort reorders the batch
    mixed = [["filler", "alpha", "n3", "words"], ["gamma", "zz", "does"],
             ["filler", "words", "n4", "here", "beta"], ["alpha", "n9"]]
    dense = [-1e6, -1e6, 1e6, -1e6]
    hooked = P.decode_sents(mixed, base, LS, {}, False, clf_dense_scores=dense)
    assert hooked == reference_decode_sents(mixed, base, LS, {}, False,
                                            clf_dense_scores=dense)
    assert hooked != P.decode_sents(mixed, base, LS, {}, False)
