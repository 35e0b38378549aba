"""CoNLL corpus operators: the reference's own data format and eval.

- read_conll: S2 (data_utils.py:17-88) as pure relational ops — one
  `word TAG` per line, blank line ends a sentence, malformed lines
  dropped (P2, data_utils.py:75-77).
- induce_lexicon: builds a phrase→etype lexicon from a labeled train
  split (the Spark analog of fitting the reference's lexical knowledge);
  DNRTI tags map onto the north-star CTI classes (SURVEY §1.3).
- evaluate_tags / span_prf: the reference's eval semantics
  (model_evaluation.py:50-112): token accuracy + weighted F1, plus
  span-level P/R over BIO mentions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

# DNRTI tagset → north-star CTI classes (SURVEY §1.3). Unmapped DNRTI
# types (Org, SecTeam, Area, Idus, Time, Features, Purp) are outside the
# engine's 6-class label model and excluded from mapped evaluation.
DNRTI_TO_ETYPE = {
    "HackOrg": "threat-actor",
    "Tool": "tool",
    "OffAct": "attack-pattern",
    "Way": "attack-pattern",
    "SamFile": "malware",
    "Exp": "cve",
    "Idus": None, "Org": None, "SecTeam": None, "Area": None,
    "Time": None, "Features": None, "Purp": None,
}


def read_conll(spark: SparkSession, path: str) -> DataFrame:
    """CoNLL file(s) → (doc_id, sent_id, tokens, tags).

    wholetext read keeps per-file line order (a plain line reader loses
    global order across partitions); sentence assembly is then the same
    posexplode + blank-line sessionization as the corpus sentencizer
    (W1). Malformed lines (≠2 fields) are dropped like the reference."""
    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("doc_id"), F.col("value").alias("content")
    )
    lines = files.select(
        "doc_id", F.posexplode(F.split("content", r"\r\n|\r|\n")).alias("line_no", "line")
    ).withColumn("line", F.trim("line"))
    # sentence id = running count of blank lines before this line (W1)
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("line_no")
    marked = lines.withColumn(
        "sent_id",
        F.sum((F.length("line") == 0).cast("long")).over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ),
    ).filter(F.length("line") > 0)
    fields = marked.withColumn("parts", F.split("line", r"\s+")).filter(
        F.size("parts") == 2
    )
    return (
        fields.groupBy("doc_id", "sent_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("line_no", "parts"))).alias("rows")
        )
        .select(
            "doc_id",
            "sent_id",
            F.transform("rows", lambda r: r["parts"][0]).alias("tokens"),
            F.transform("rows", lambda r: r["parts"][1]).alias("tags"),
        )
    )


def map_dnrti_tags(df: DataFrame) -> DataFrame:
    """Rewrite DNRTI BIO tags into the engine's etype space; unmapped
    types become O."""
    mapping = F.create_map(
        *[F.lit(x) for kv in DNRTI_TO_ETYPE.items() if kv[1] for x in kv]
    )
    return df.withColumn(
        "tags",
        F.transform(
            "tags",
            lambda t: F.when(
                t.rlike("^[BI]-") & mapping.getItem(F.regexp_replace(t, "^[BI]-", "")).isNotNull(),
                F.concat(F.substring(t, 1, 2), mapping.getItem(F.regexp_replace(t, "^[BI]-", ""))),
            ).otherwise(F.lit("O")),
        ),
    )


def induce_lexicon(train: DataFrame, min_count: int = 1,
                   min_entity_frac: float = 0.5) -> dict[tuple[str, ...], tuple[str, str]]:
    """Labeled sentences → phrase lexicon: extract BIO spans, keep each
    phrase's majority etype (count desc, etype asc tiebreak). Single-token
    phrases must additionally be tagged as entities in ≥ min_entity_frac
    of their occurrences — a token that is almost always O ('attack',
    'group') would otherwise poison precision. Runs as DataFrame
    aggregations; the result is broadcast-sized by construction."""
    spans = extract_span_rows(train)
    ranked = (
        spans.groupBy("surface", "etype")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("surface").orderBy(F.desc("n"), F.asc("etype"))
    best = ranked.withColumn("rk", F.row_number().over(w)).filter("rk = 1")
    # entity fraction per lowercased token (for single-token phrases)
    tok = train.select(F.explode(F.arrays_zip("tokens", "tags")).alias("tt")).select(
        F.lower(F.col("tt.tokens")).alias("ltok"),
        F.col("tt.tags").rlike("^[BI]-").cast("long").alias("is_ent"),
    )
    frac = tok.groupBy("ltok").agg(
        (F.sum("is_ent") / F.count(F.lit(1))).alias("ent_frac")
    )
    single_ok = {
        r["ltok"]
        for r in frac.filter(F.col("ent_frac") >= min_entity_frac).collect()
    }
    out: dict[tuple[str, ...], tuple[str, str]] = {}
    for r in best.collect():
        key = tuple(r["surface"].lower().split())
        if not key:
            continue
        if len(key) == 1 and key[0] not in single_ok:
            continue
        out[key] = (r["etype"], r["surface"])
    return out


def extract_span_rows(tagged: DataFrame) -> DataFrame:
    """(tokens, tags) rows → exploded span rows (surface, etype) — W8 as
    relational ops over positional arrays (no UDF)."""
    pos = tagged.select(
        "doc_id", "sent_id",
        F.posexplode(F.arrays_zip("tokens", "tags")).alias("idx", "tt"),
    ).select(
        "doc_id", "sent_id", "idx",
        F.col("tt.tokens").alias("word"), F.col("tt.tags").alias("tag"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id", "sent_id").orderBy("idx")
    marked = (
        pos.withColumn("is_ent", F.col("tag").rlike("^[BI]-").cast("int"))
        .withColumn(
            "etype_tok", F.when(F.col("is_ent") == 1, F.regexp_replace("tag", "^[BI]-", ""))
        )
        .withColumn("prev_tag", F.lag("tag").over(w))
        .withColumn(
            "start",
            (
                F.col("tag").startswith("B-")
                | (
                    F.col("tag").startswith("I-")
                    & ~F.coalesce(
                        F.col("prev_tag").rlike("^[BI]-")
                        & (
                            F.regexp_replace("prev_tag", "^[BI]-", "")
                            == F.col("etype_tok")
                        ),
                        F.lit(False),
                    )
                )
            ).cast("int"),
        )
        .withColumn(
            "span_id",
            F.sum("start").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return (
        marked.filter(F.col("is_ent") == 1)
        .groupBy("doc_id", "sent_id", "span_id", "etype_tok")
        .agg(
            F.min("idx").alias("begin"),
            (F.max("idx") + 1).alias("end"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("idx", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("surface"),
        )
        .select("doc_id", "sent_id", "begin", "end", "surface",
                F.col("etype_tok").alias("etype"))
    )


def evaluate_tags(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Token-level accuracy + weighted F1 (model_evaluation.py:50-112
    semantics) over two (doc_id, sent_id, tokens, tags) DataFrames —
    J7 alignment join on (doc_id, sent_id, idx) then pure-SQL metrics."""
    def flat(df: DataFrame, col: str) -> DataFrame:
        return df.select(
            "doc_id", "sent_id", F.posexplode("tags").alias("idx", col)
        )

    joined = flat(pred, "pred").join(flat(gold, "gold"), ["doc_id", "sent_id", "idx"])
    per_label = (
        joined.groupBy(F.col("gold").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.sum((F.col("pred") == F.col("gold")).cast("long")).alias("tp"),
        )
        .join(
            joined.groupBy(F.col("pred").alias("label")).agg(
                F.count(F.lit(1)).alias("pred_n")
            ),
            "label",
            "outer",
        )
        .fillna(0, ["support", "tp", "pred_n"])
    )
    f1 = per_label.withColumn(
        "f1",
        F.when(
            (F.col("tp") > 0),
            2.0 * (F.col("tp") / F.col("pred_n")) * (F.col("tp") / F.col("support"))
            / ((F.col("tp") / F.col("pred_n")) + (F.col("tp") / F.col("support"))),
        ).otherwise(0.0),
    )
    acc = joined.agg(
        F.avg((F.col("pred") == F.col("gold")).cast("double")).alias("accuracy"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    wf1 = f1.agg(
        (F.sum(F.col("f1") * F.col("support")) / F.sum("support")).alias("weighted_f1")
    )
    return acc.crossJoin(wf1).select(
        F.round("accuracy", 6).alias("accuracy"),
        "n_tokens",
        F.round("weighted_f1", 6).alias("weighted_f1"),
    )


def span_prf(pred_spans: DataFrame, gold_spans: DataFrame) -> DataFrame:
    """Span-level precision/recall/F1: exact (doc, sent, begin, end,
    etype) match."""
    keys = ["doc_id", "sent_id", "begin", "end", "etype"]
    p = pred_spans.select(keys).distinct()
    g = gold_spans.select(keys).distinct()
    tp = p.join(g, keys).count()
    np_, ng = p.count(), g.count()
    prec = tp / np_ if np_ else 0.0
    rec = tp / ng if ng else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return local_frame(
        pred_spans.sparkSession,
        "precision double, recall double, f1 double, tp long, n_pred long, n_gold long",
        pd.DataFrame({"precision": [round(prec, 6)], "recall": [round(rec, 6)],
                      "f1": [round(f1, 6)], "tp": [tp], "n_pred": [np_], "n_gold": [ng]}),
    )
