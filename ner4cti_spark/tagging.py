"""Distributed tagging: sentences → mentions via mapInPandas.

The engine's hot path (SURVEY §3.3 rebuild): broadcast weights once,
lazy-init the kernel per executor process, tag whole Arrow batches,
emit one row per sentence that has mentions, its spans as parallel
arrays (`SENTENCE_SCHEMA`). No per-row Python — each batch is one
vectorized forward + one batched Viterbi; the pipeline caches or
checkpoints these rows. `flatten_mentions` is the one flat view
(`MENTION_SCHEMA`, one row per mention); `nest_mentions` regroups a
flat table by sentence for `graph.build_triples`, the flat callers' path.

Skew: giant repos are spread by salted repartition on
(repo, pmod(hash(path, sent_id), SALT_BUCKETS)) before tagging, per SURVEY §4.2.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernel.tagger import TaggerKernel, extract_spans, lookup_canonical

_KERNEL_CACHE: dict[int, TaggerKernel] = {}

# score: the decoded path's mean per-token Viterbi score over lexicon
# potentials and BIO transitions (greedy decode: the mean emission).
# With neural_scale > 0 it moves by less than neural_scale; tags stay
# fixed while 2*neural_scale + 2*spread(trans) < LEX_O - LEX_OTHER.
MENTION_SCHEMA = (
    "repo string, path string, commit string, sha256 string, sent_id long, "
    "begin int, end int, surface string, etype string, score float, "
    "canonical_hint string"
)

SENTENCE_KEY = ("repo", "path", "commit", "sha256", "sent_id")
SALT_BUCKETS = 64  # salt values per repo in `salted_repartition`
SPAN_COLUMNS = ("begin", "end", "surface", "etype", "canonical_hint")

# the tag stage's output: one row per sentence with at least one mention,
# its spans in begin order as parallel arrays
SENTENCE_SCHEMA = (
    "repo string, path string, commit string, sha256 string, sent_id long, "
    "score float, begin array<int>, end array<int>, surface array<string>, "
    "etype array<string>, canonical_hint array<string>"
)


def _get_kernel(weights_bc, neural_scale: float, decode: str,
                phrases_bc=None, use_patterns: bool = True,
                label_space=None, sent_cache: bool = True) -> TaggerKernel:
    # keyed by the broadcast's dump-file path (stable, unique per
    # broadcast, present on both driver and workers) — NOT id(): a GC'd
    # broadcast's address can be reused, which would silently serve a
    # kernel built from a different weights/lexicon broadcast
    def _bkey(bc) -> str:
        return getattr(bc, "_path", None) or f"id:{id(bc)}"

    from .kernel.labels import CTI

    ls = label_space or CTI
    key = (_bkey(weights_bc), _bkey(phrases_bc) if phrases_bc is not None else "-",
           neural_scale, decode, use_patterns, tuple(ls.etypes), sent_cache)
    k = _KERNEL_CACHE.get(key)
    if k is None:
        # bounded LRU: long-lived executors serve MANY jobs, each with its
        # own weights broadcast → its own kernel whose token/sentence
        # caches grow to ~100 MB at corpus scale. Unbounded, a reused
        # Python worker accumulates one such kernel per job and its RSS
        # climbs until the box pages (measured: tag stage 21.6s cold →
        # 32.4s after three prior jobs at local[32]). Keep the most
        # recent few; stale broadcasts never come back.
        while len(_KERNEL_CACHE) >= 4:
            _KERNEL_CACHE.pop(next(iter(_KERNEL_CACHE)))
        k = TaggerKernel(
            weights_bc.value, neural_scale=neural_scale, decode=decode,
            phrases=phrases_bc.value if phrases_bc is not None else None,
            use_patterns=use_patterns, label_space=ls, sent_cache=sent_cache,
        )
        _KERNEL_CACHE[key] = k
    else:
        _KERNEL_CACHE[key] = _KERNEL_CACHE.pop(key)  # refresh LRU position
    return k


def tag_token_frames(df: DataFrame, weights_bc, phrases_bc=None,
                     use_patterns: bool = True, neural_scale: float = 0.0,
                     decode: str = "viterbi", label_space=None) -> DataFrame:
    """Generic tagging over (doc_id, sent_id, tokens) frames (e.g. CoNLL
    splits) with an optional corpus-induced lexicon broadcast."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _get_kernel(weights_bc, neural_scale, decode, phrases_bc,
                             use_patterns, label_space)
        for pdf in batches:
            if pdf.empty:
                continue
            tags, _scores = kernel.tag([list(t) for t in pdf["tokens"]])
            out = pdf[["doc_id", "sent_id", "tokens"]].copy()
            out["tags"] = tags
            yield out

    return df.mapInPandas(
        run, schema="doc_id string, sent_id long, tokens array<string>, tags array<string>"
    )


def salted_repartition(sentences: DataFrame, num_partitions: int) -> DataFrame:
    """Spread hot repos across partitions: partition by (repo, salt) where
    salt = pmod(hash(path, sent_id), SALT_BUCKETS). At cluster scale this
    prevents a single giant repo from pinning one executor."""
    return sentences.repartition(
        num_partitions,
        F.col("repo"),
        F.pmod(F.hash(F.col("path"), F.col("sent_id")), F.lit(SALT_BUCKETS)),
    )


def tag_sentences(sentences: DataFrame, weights_bc, neural_scale: float = 0.0,
                  decode: str = "viterbi", sent_cache: bool = True) -> DataFrame:
    """sentences → one row per sentence with mentions (`SENTENCE_SCHEMA`).

    `score` is the sentence's decoded-path mean per-token Viterbi score
    over the lexicon potentials and the BIO transitions. neural_scale > 0
    adds the untrained contextual branch, which moves `score` by less
    than neural_scale and changes no tag while 2*neural_scale +
    2*spread(trans) < LEX_O - LEX_OTHER (kernel/tagger.py docstring)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _get_kernel(weights_bc, neural_scale, decode, sent_cache=sent_cache)
        for pdf in batches:
            if pdf.empty:
                continue
            sents = [list(t) for t in pdf["tokens"]]
            tags, scores = kernel.tag(sents)
            keep: list[int] = []
            spans: dict[str, list] = {c: [] for c in SPAN_COLUMNS}
            for i, (toks, tg) in enumerate(zip(sents, tags)):
                found = extract_spans(toks, tg)
                if not found:
                    continue
                keep.append(i)
                # found is (begin, end, surface, etype) tuples: the first
                # four span columns, transposed
                for c, vals in zip(SPAN_COLUMNS, zip(*found)):
                    spans[c].append(list(vals))
                spans["canonical_hint"].append([
                    lookup_canonical(kernel.phrases, toks[b:e], et) for b, e, _, et in found
                ])
            if not keep:  # Arrow cannot type an empty untyped list column
                continue
            out = pdf.iloc[keep][list(SENTENCE_KEY)].reset_index(drop=True)
            out["score"] = [float(scores[i]) for i in keep]
            for c in SPAN_COLUMNS:
                out[c] = spans[c]
            yield out

    return sentences.mapInPandas(run, schema=SENTENCE_SCHEMA)


def flatten_mentions(sentences: DataFrame) -> DataFrame:
    """Sentence rows → one row per mention, in `MENTION_SCHEMA` order."""
    return sentences.select(
        *SENTENCE_KEY, "score", F.inline(F.arrays_zip(*SPAN_COLUMNS))
    ).select(*SENTENCE_KEY, "begin", "end", "surface", "etype", "score", "canonical_hint")


def nest_mentions(mentions: DataFrame) -> DataFrame:
    """A flat mention table → one row per sentence key: `score` plus every
    other non-key column as a begin-ordered array (a `MENTION_SCHEMA`
    table gives `SENTENCE_SCHEMA`). One shuffle, keyed on the sentence."""
    per = [c for c in mentions.columns if c not in SENTENCE_KEY and c != "score"]
    return mentions.groupBy(*SENTENCE_KEY).agg(
        F.max("score").alias("score"),
        F.sort_array(F.collect_list(F.struct(*per))).alias("m"),
    ).select(*SENTENCE_KEY, "score", *[F.col("m")[c].alias(c) for c in per])
