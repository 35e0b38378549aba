"""Artifact I/O (S3/S5/S6) tests."""

from __future__ import annotations

import numpy as np

from ner4cti_spark.kernel.artifacts import load_glove, load_weights, merge_glove, save_weights
from ner4cti_spark.kernel.weights import build_weights


def test_weights_roundtrip(tmp_path):
    w = build_weights()
    p = str(tmp_path / "weights.npz")
    save_weights(w, p)
    w2 = load_weights(p)
    assert set(w) == set(w2)
    for k in w:
        assert np.array_equal(w[k], w2[k]), k


def test_glove_load_and_merge(tmp_path):
    p = tmp_path / "glove.txt"
    p.write_text(
        "the 0.1 0.2\nAttack 0.5 0.5\nmalformed line with text entries x\n"
        "ok 1.0 -1.0\n"
    )
    g = load_glove(str(p))
    assert set(g) == {"the", "Attack", "ok"}
    assert g["ok"].tolist() == [1.0, -1.0]

    # merge with dim-2 table: exact hit, lowercase fallback, miss keeps init
    w = {"word_emb": np.zeros((4, 2), dtype=np.float32) + 9.0}
    vocab = {"the": 0, "attack": 1, "missing": 2}
    merged = merge_glove(w, g, vocab)
    assert np.allclose(merged["word_emb"][0], [0.1, 0.2])        # exact hit: 'the'
    assert merged["word_emb"][2].tolist() == [9.0, 9.0]          # miss → init
    # 'attack' only exists capitalized in glove: reference falls back via
    # word.lower() — our vocab word is already lower, so no hit: keep init
    assert merged["word_emb"][1].tolist() == [9.0, 9.0]
