"""Per-sentence reference for the trained CRF decode.

`reference_decode_sents` decodes one sentence at a time: one Viterbi per
sentence, the neural branch through the B=1 `neural.sent_logprob`, and
the two-pass attribution gate applied sentence by sentence. The engine's
decode (`perceptron.decode_batch`, behind both `TaggerKernel.tag` and
`perceptron.decode_sents`) batches all of this; tests require equal tags.
"""

from __future__ import annotations

import numpy as np

from ner4cti_spark.kernel import gazetteer, neural
from ner4cti_spark.kernel import perceptron as P
from ner4cti_spark.kernel.crf import viterbi_decode
from ner4cti_spark.kernel.labels import LabelSpace


def reference_decode_sents(sents: list[list[str]], arts: dict, ls: LabelSpace,
                           phrases: dict, use_patterns: bool,
                           clusters: dict | None = None,
                           extras: list[list[tuple[str, ...]]] | None = None,
                           clf_dense_scores: list[float] | None = None
                           ) -> list[list[str]]:
    W, TR = arts["sp_w"], arts["sp_trans"]
    buckets = W.shape[0]
    mask, em_mask, first_mask = P._decode_masks(ls)
    lexicon = gazetteer.PhraseMatcher(phrases)
    two = "sp2_w" in arts and "clf_w" in arts
    nb = neural.branch_from_arts(arts)
    o_id = ls.o_id
    out = []
    for si, sent in enumerate(sents):
        if not sent:
            out.append([])
            continue
        sent_t = sent[:P.MAX_LEN]
        ex = extras[si][:P.MAX_LEN] if extras is not None else None
        nn_add = None
        if nb is not None:
            members, nemb, nlook, nmode, nlam = nb
            lp = neural.sent_logprob(sent_t, members, nemb, nlook)
            if nmode == neural.MODE_STACK and ex is None:
                ex = neural.stack_extra(lp, ls.id2label)
            elif nmode == neural.MODE_SCORE:
                nn_add = (nlam * lp).astype(np.float32)
        feats = P._sent_features(sent_t, lexicon, use_patterns, buckets,
                                 clusters, extra=ex)
        e = W[feats].sum(axis=1) + em_mask
        if nn_add is not None:
            e = e + nn_add
        e[0] += first_mask
        p, _ = viterbi_decode(e[None], TR + mask, np.array([len(sent_t)]))
        tags = [ls.id2label[int(i)] for i in p[0][: len(sent_t)]]
        if two:
            c = float(arts["clf_w"][
                P.clf_features(sent_t, lexicon, clusters)].sum())
            if clf_dense_scores is not None:
                c += float(clf_dense_scores[si])
            elif "clf_dw" in arts:
                pair = neural.emb_from_arts(arts)
                if pair is not None:
                    c += float(arts["clf_dw"] @ P.sent_mean_emb(
                        sent_t, pair[1], pair[0]))
            if c > P.GATE_C_LO:
                TR2m = arts["sp2_trans"] + mask
                e2 = arts["sp2_w"][feats].sum(axis=1) + em_mask
                if nn_add is not None:
                    e2 = e2 + nn_add
                e2[0] += first_mask
                p2, s2 = viterbi_decode(e2[None], TR2m, np.array([len(sent_t)]))
                allo = e2[:, o_id].sum() + (len(sent_t) - 1) * TR2m[o_id, o_id]
                if c > P.GATE_C_HI or float(s2[0]) - allo > P.GATE_M_TAU:
                    cand = p2[0][: len(sent_t)]
                    if (cand != o_id).any():
                        attr_tags = [ls.id2label[int(i)] for i in cand]
                        tags = P.merge_tag_spans(attr_tags, tags)
        tags += ["O"] * (len(sent) - len(tags))
        out.append(tags)
    return out
