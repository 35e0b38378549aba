"""BIO label space for the engine.

Mirrors the reference's label-id convention (data_utils.py:120-125):
specials first ([BOS]=0, [EOS]=1, [X]=2), then tags. Our tagset is the
north-star CTI classes (BASELINE.json) mapped from DNRTI per SURVEY §1.3.
"""

from __future__ import annotations

from .gazetteer import ETYPES

SPECIALS = ["[BOS]", "[EOS]", "[X]"]


class LabelSpace:
    """BIO label space over an etype set. The engine's default is the
    north-star CTI classes; reference corpora bring their own (DNRTI's 13
    types, MalwareDB's Entity/Action/Modifier — the reference's active
    config, arguments.py:39)."""

    def __init__(self, etypes: list[str]):
        self.etypes = list(etypes)
        self.tags = ["O"] + [f"{p}-{e}" for e in self.etypes for p in ("B", "I")]
        self.labels = SPECIALS + self.tags
        self.label2id = {t: i for i, t in enumerate(self.labels)}
        self.id2label = {i: t for t, i in self.label2id.items()}
        self.n = len(self.labels)
        self.o_id = self.label2id["O"]

    def bio_transition_mask(self) -> "list[list[float]]":
        """(N, N) additive mask: I-X reachable only from B-X / I-X;
        specials unreachable at inference. Plain lists (numpy-free)."""
        NEG = -1e4
        mask = [[0.0] * self.n for _ in range(self.n)]
        for j, to_tag in enumerate(self.labels):
            for i, from_tag in enumerate(self.labels):
                bad = False
                if to_tag in SPECIALS:
                    bad = True
                elif to_tag.startswith("I-"):
                    etype = to_tag[2:]
                    if from_tag not in (f"B-{etype}", f"I-{etype}"):
                        bad = True
                if bad:
                    mask[i][j] = NEG
        return mask


CTI = LabelSpace(ETYPES)
