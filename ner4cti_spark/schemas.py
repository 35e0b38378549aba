"""Canonical schemas for every stage of the pipeline.

Mirrors the reference's implicit data model (SURVEY.md §1) with explicit
Spark SQL types: corpus rows (BASELINE input_hint), sentences
(data_utils.py:24-27 token lists), mentions (exploded tagger output),
entities/aliases and triples. Lineage rows: `lineage.MANIFEST_SCHEMA`.
"""

from __future__ import annotations

from pyspark.sql import types as T

CORPUS = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

SENTENCES = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("sent_id", T.LongType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
    ]
)

TAGGED = T.StructType(
    SENTENCES.fields + [T.StructField("tags", T.ArrayType(T.StringType()), False)]
)

MENTIONS = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("sent_id", T.LongType(), False),
        T.StructField("begin", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("etype", T.StringType(), False),
        T.StructField("score", T.FloatType(), False),
        T.StructField("canonical_hint", T.StringType(), True),
    ]
)

ENTITIES = T.StructType(
    [
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("canonical", T.StringType(), False),
        T.StructField("etype", T.StringType(), False),
        T.StructField("alias", T.StringType(), False),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("repo", T.StringType(), True),
        T.StructField("commit", T.StringType(), True),
        T.StructField("sha256", T.StringType(), True),
    ]
)
