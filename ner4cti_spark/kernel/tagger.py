"""The tagger kernel: Arrow batch of sentences → BIO tags → spans.

Composition mirrors the reference flagship forward (M10, model.py:390-491):
feature fusion (M1/M2) → BiLSTM (M3) → multi-head attention (M4) →
emission head, gate-fused (M8, model.py:455-465) with a second emission
branch, decoded by Viterbi over a BIO-constrained transition matrix
(M9/W5, CRF_classes.py:112-192).

Deviation (documented, SURVEY §5.2): the reference's BERT emission branch
needs torch+HF checkpoints that are neither in this environment nor in
the reference repo (.MISSING_LARGE_BLOBS). Its role — a high-precision
lexical-semantic emission signal — is filled by a deterministic
gazetteer/pattern emission model (`lexicon_emissions`), which is the
branch that carries entity identity; the numpy network supplies the
contextual branch. Swapping in real BERT weights changes only
`neural_emissions`' internals, none of the Spark plumbing.

The untrained contextual branch is opt-in (`neural_scale > 0`; default
0.0, which skips its forward). Its weights are seeded random, and it is
fused as `neural_scale·g·tanh(neural)`, so it moves each token's
potentials by less than `neural_scale`. Every lexicon potential has a
unique argmax with margin `LEX_O - LEX_OTHER` = 4 over the other labels,
and the argmax path is BIO-valid. A path that differs from it at k
tokens loses ≥ 4k of emission score and can win back < 2k·neural_scale
from the branch and ≤ 2k·spread(valid `trans` entries) from
transitions. So while 2·neural_scale + 2·spread < 4 the decoded tags
equal the lexicon + CRF tags and only the per-token score moves.
Trained `sp_w` bundles decode through `perceptron.decode_batch` and
ignore `neural_scale`.
"""

from __future__ import annotations

import numpy as np

from . import gazetteer, nn, perceptron, pos
from .crf import greedy_decode, viterbi_decode
from .labels import CTI, LabelSpace

MAX_SEQ_LEN = 256  # arguments.py:33
LEX_HIT = 8.0
LEX_O = 2.0
LEX_OTHER = -2.0


class TaggerKernel:
    def __init__(
        self,
        weights: dict[str, np.ndarray],
        neural_scale: float = 0.0,
        decode: str = "viterbi",
        phrases: dict[tuple[str, ...], tuple[str, str]] | None = None,
        use_patterns: bool = True,
        label_space: LabelSpace = CTI,
        sent_cache: bool = True,
    ) -> None:
        """phrases: token-tuple (lowercased) → (etype, canonical). Default
        is the built-in CTI gazetteer; pass a corpus-induced lexicon
        (e.g. from the DNRTI/MalwareDB train split, operators/conll.py)
        to retarget the tagger. use_patterns toggles the regex indicator
        classes (disable for tagsets without cve/indicator)."""
        self.w = weights
        p = weights["_profile"]
        (self.word_vocab, self.char_vocab, self.char_maxlen,
         self.hidden, self.layers, self.heads, self.d_model) = (int(x) for x in p)
        self.neural_scale = neural_scale
        self.decode = decode
        self.phrases = phrases if phrases is not None else gazetteer.phrase_index()
        self.use_patterns = use_patterns
        self.lexicon = gazetteer.PhraseMatcher(self.phrases)
        self.ls = label_space
        assert weights["emit_b"].shape[0] == label_space.n, (
            "weights were built for a different label space — pass the same "
            "label_space to build_weights and TaggerKernel"
        )
        # per-executor caches: code corpora repeat tokens AND whole lines
        # heavily, so token-level features (word/char/pos/case), indicator
        # classes, and full per-sentence decode results are each computed
        # once per distinct input (exact sentence dedup, executor-local —
        # no shuffle, identical results by determinism)
        self._feat_cache: dict[str, np.ndarray] = {}
        self._class_cache: dict[str, str | None] = {}
        self._sent_cache: dict[tuple[str, ...], tuple[list[str], float]] = {}
        self._sent_cache_on = sent_cache
        # trained neural branch: resolved lazily ONCE per kernel — the
        # vocab→row lookup dict inside is O(vocab) to rebuild, far too
        # much to repeat per 128-sentence chunk
        self._neural_branch: tuple | None | bool = False  # False = unresolved

    def _branch(self):
        if self._neural_branch is False:
            from . import neural
            self._neural_branch = neural.branch_from_arts(self.w)
        return self._neural_branch

    # ---------------- emissions ----------------

    def lexicon_emissions(self, sents: list[list[str]], T: int) -> np.ndarray:
        """(B,T,L) log-potentials from longest-match gazetteer + indicator
        patterns. The high-precision branch (stands in for M7)."""
        lab, o = self.ls.label2id, self.ls.o_id
        # same bound as _feat_cache: near-unique indicator tokens (hashes,
        # IPs) would otherwise grow the memo with the corpus
        if len(self._class_cache) > self.FEAT_CACHE_MAX:
            self._class_cache.clear()
        em = np.full((len(sents), T, self.ls.n), LEX_OTHER, dtype=np.float32)
        em[:, :, o] = LEX_O
        for b, sent in enumerate(sents):
            sent = sent[:T]
            covered: set[int] = set()
            for i, j, etype in self.lexicon.matches(sent):
                em[b, i, lab[f"B-{etype}"]] = LEX_HIT
                em[b, i + 1 : j, lab[f"I-{etype}"]] = LEX_HIT
                em[b, i:j, o] = LEX_OTHER
                covered.update(range(i, j))
            if not self.use_patterns:
                continue
            for i, tok in enumerate(sent):
                if i in covered:
                    continue
                if tok not in self._class_cache:
                    self._class_cache[tok] = gazetteer.classify_token(tok)
                etype = self._class_cache[tok]
                if etype is not None:
                    em[b, i, lab[f"B-{etype}"]] = LEX_HIT
                    em[b, i, o] = LEX_OTHER
        return em

    def _token_features(self, tokens: list[str]) -> np.ndarray:
        """(N, feat_dim) rows for distinct tokens, cached per executor.
        Feature fusion M2 inputs: word(hash-emb) ‖ charCNN ‖ pos ‖ case —
        each a pure function of the token string, so distinct-token
        compute + gather replaces per-position recompute."""
        w = self.w
        # snapshot the rows this call needs BEFORE any cache eviction:
        # the bounded-size clear below must not invalidate tokens already
        # gathered for THIS batch (crash seen at 100k-doc scale: a kernel
        # crossing the cache bound evicted the pad token mid-call and the
        # final stack raised KeyError — works-at-small-SF, dies-at-scale)
        rows = {t: self._feat_cache[t] for t in tokens if t in self._feat_cache}
        missing = [t for t in tokens if t not in rows]
        if missing:
            wid = nn.stable_hash_ids(np.array(missing, dtype=object), self.word_vocab)
            word_v = w["word_emb"][wid]                                  # (N,50)
            cids = nn.char_ids([missing], len(missing), self.char_maxlen, self.char_vocab)[0]
            char_v = nn.char_cnn(
                cids[:, None, :], w["char_emb"], w["char_conv_w"], w["char_conv_b"], 3
            )[:, 0, :]                                                   # (N,30)
            case_id = np.array([casing_class(t) for t in missing], dtype=np.int64)
            case_v = w["case_emb"][case_id]
            # F4: heuristic UPOS (kernel/pos.py) — the reference's
            # stanza-UPOS 10-dim signal (data_utils.py:46-62), stanza-free
            pos_id = np.array([pos.upos_id(t) for t in missing], dtype=np.int64)
            pos_v = w["pos_emb"][pos_id % w["pos_emb"].shape[0]]
            feats = np.concatenate([word_v, char_v, pos_v, case_v], axis=-1).astype(np.float32)
            if len(self._feat_cache) > self.FEAT_CACHE_MAX:
                self._feat_cache.clear()
            for i, t in enumerate(missing):
                self._feat_cache[t] = feats[i]
                rows[t] = feats[i]
        return np.stack([rows[t] for t in tokens])

    def neural_emissions(self, sents: list[list[str]], T: int, mask: np.ndarray) -> np.ndarray:
        """(B,T,L) contextual branch: M1→M2→M3→M4→linear, batched numpy."""
        w = self.w
        B = len(sents)
        uniq: dict[str, int] = {"": 0}
        for s in sents:
            for t in s[:T]:
                if t not in uniq:
                    uniq[t] = len(uniq)
        fmat = self._token_features(list(uniq))                          # (U,98)
        idx = np.zeros((B, T), dtype=np.int64)
        for b, s in enumerate(sents):
            for ti, t in enumerate(s[:T]):
                idx[b, ti] = uniq[t]
        x = fmat[idx]                                                    # (B,T,98)
        h = np.tanh(x @ w["proj_w"] + w["proj_b"])                      # (B,T,d_model)
        h = h + nn.sinusoidal_pe(T, h.shape[-1])                        # W3 positional encoding
        h = nn.bilstm(h, w, self.layers)                                # (B,T,2H)
        h = nn.multihead_attention(h, w, self.heads, mask)
        return h @ w["emit_w"] + w["emit_b"]                            # (B,T,L)

    # ---------------- decode ----------------

    CHUNK = 128  # sub-batch rows: keeps the LSTM/attention working set
    #              cache-resident — large padded batches go memory-
    #              bandwidth-bound when many workers run per box
    #              (measured best under 16-32-worker concurrency)

    FEAT_CACHE_MAX = 500_000  # bound on _feat_cache (and _class_cache)
    #              entries before a full clear — per-executor-task memory
    #              cap for the fused feature rows (98-dim float32 ≈ 400 B
    #              each → ~200 MB)

    def tag(self, sents: list[list[str]]) -> tuple[list[list[str]], np.ndarray]:
        """Batch decode → (BIO tag lists aligned 1:1 with tokens, scores).

        Sentences are length-bucketed before chunking: each sub-batch
        pads only to its own max length, so short code lines don't pay
        the long-line O(T)/O(T²) cost (the reference pads everything to
        the global maxlen, data_utils.py:208-219 — a deliberate
        physical-plan improvement, not a semantic change)."""
        if not sents:
            return [], np.zeros(0, dtype=np.float32)
        tags_out: list[list[str] | None] = [None] * len(sents)
        scores_out = np.zeros(len(sents), dtype=np.float32)
        # executor-local exact sentence dedup: decode each distinct
        # sentence once (cached across batches too). sent_cache=False
        # forces every row through the model — the inference-bound
        # benchmarking regime (real corpora dedup far less than the
        # template-generated synthetic one).
        todo: dict[tuple[str, ...], list[int]] = {}
        for i, s in enumerate(sents):
            key = tuple(s)
            hit = self._sent_cache.get(key) if self._sent_cache_on else None
            if hit is not None:
                tags_out[i] = hit[0]
                scores_out[i] = hit[1]
            elif self._sent_cache_on:
                todo.setdefault(key, []).append(i)
            else:
                todo[(str(i),)] = [i]  # unique pseudo-key: no dedup
        uniq = list(todo)
        order = sorted(range(len(uniq)), key=lambda i: len(sents[todo[uniq[i]][0]]))
        if len(self._sent_cache) > 1_000_000:
            self._sent_cache.clear()
        for start in range(0, len(order), self.CHUNK):
            idxs = order[start : start + self.CHUNK]
            chunk_keys = [uniq[i] for i in idxs]
            ctags, cscores = self._tag_chunk([sents[todo[k][0]] for k in chunk_keys])
            for j, key in enumerate(chunk_keys):
                t = ctags[j]
                # sentences beyond MAX_SEQ_LEN decode truncated; pad the
                # tail with 'O' so the output stays aligned 1:1 with the
                # input tokens (same contract as perceptron.decode_sents —
                # an eval join must never silently drop tokens past 256)
                n_in = len(sents[todo[key][0]])
                if len(t) < n_in:
                    t = t + ["O"] * (n_in - len(t))
                if self._sent_cache_on:
                    self._sent_cache[key] = (t, float(cscores[j]))
                for i in todo[key]:
                    tags_out[i] = t
                    scores_out[i] = cscores[j]
        return tags_out, scores_out  # type: ignore[return-value]

    def _tag_chunk(self, sents: list[list[str]]) -> tuple[list[list[str]], np.ndarray]:
        sents = [s[:MAX_SEQ_LEN] for s in sents]
        if "sp_w" in self.w:
            # TRAINED perceptron-CRF bundle: its decode replaces the
            # gazetteer-potentials + random-neural fusion below
            use_patterns = (bool(self.w["_sp_meta"][1]) if "_sp_meta" in self.w
                            else self.use_patterns)
            return perceptron.decode_batch(
                sents, self.w, self.ls, self.lexicon, use_patterns,
                self.w.get("_sp_clusters"), self._branch())
        lengths = np.array([len(s) for s in sents], dtype=np.int64)
        T = max(1, int(lengths.max()))
        mask = np.arange(T)[None, :] < lengths[:, None]
        em = self.lexicon_emissions(sents, T)
        if self.neural_scale > 0.0:
            neural = self.neural_emissions(sents, T, mask)
            # gate fusion M8: sigmoid gate over both branches
            g = 1.0 / (1.0 + np.exp(-np.clip(
                np.concatenate([em, neural], axis=-1) @ self.w["gate_w"] + self.w["gate_b"],
                -30, 30)))
            em = em + self.neural_scale * g * np.tanh(neural)
        if self.decode == "viterbi":
            paths, scores = viterbi_decode(em, self.w["trans"], lengths)
        else:
            paths = greedy_decode(em, lengths)
            # padding positions count for nothing: the score is the
            # sentence's own, whatever the chunk's padded length
            scores = np.where(
                mask, np.take_along_axis(em, paths[:, :, None], axis=2)[:, :, 0], 0.0
            ).sum(axis=1)
        tags = [
            [self.ls.id2label[int(paths[b, t])] for t in range(int(lengths[b]))]
            for b in range(len(sents))
        ]
        scores = (scores / np.maximum(lengths, 1)).astype(np.float32)
        return tags, scores


def casing_class(tok: str) -> int:
    """8-class casing/morphology id — exact re-derivation of the
    reference's get_token_case / case_feature (data_utils.py:135-162):
    ids {allNum:0, allLower:1, allUpper:2, upperInit:3, other:4,
    main_num:5, contain_num:6, [PAD]:7}, checks in reference order
    (isdigit → digit_prop>0.5 → islower → isupper → istitle →
    contains-digit → other). Empty/pad token → [PAD]=7 (the reference
    never sees empty tokens; this is the padding id)."""
    if not tok:
        return 7
    n_digits = sum(c.isdigit() for c in tok.strip())
    digit_prop = n_digits / float(len(tok))
    if tok.isdigit():
        return 0
    if digit_prop > 0.5:
        return 5
    if tok.islower():
        return 1
    if tok.isupper():
        return 2
    if tok.istitle():
        return 3
    if n_digits > 0:
        return 6
    return 4


def lookup_canonical(phrases: dict[tuple[str, ...], tuple[str, str]],
                     span_tokens: list[str], etype: str) -> str | None:
    """Canonical-name hint for a decoded span: the lexicon's canonical
    form when the span is an exact (lowercased) phrase entry of the same
    etype. Knowledge-based linking prior — 'Sofacy' hints 'APT28'."""
    hit = phrases.get(tuple(t.lower() for t in span_tokens))
    if hit is not None and hit[0] == etype:
        return hit[1]
    return None


def extract_spans(tokens: list[str], tags: list[str]) -> list[tuple[int, int, str, str]]:
    """BIO run grouping (W8): (begin, end_exclusive, surface, etype)."""
    spans: list[tuple[int, int, str, str]] = []
    i = 0
    n = min(len(tokens), len(tags))
    while i < n:
        tag = tags[i]
        if tag.startswith("B-"):
            etype = tag[2:]
            j = i + 1
            while j < n and tags[j] == f"I-{etype}":
                j += 1
            spans.append((i, j, " ".join(tokens[i:j]), etype))
            i = j
        else:
            i += 1
    return spans
