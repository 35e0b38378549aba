"""Driver-contract queries: Spark implementation + DuckDB oracle SQL.

Each entry re-expresses one operator family from SURVEY.md §2 over the
driver-provided test tables (TESTDATA.md), plus the training-data-
pipeline operations (dedup / similarity / text analysis). Column names
and types are aligned between the Spark callable and the oracle SQL so
the driver's order-insensitive value-hash comparison passes.

Registry: QUERIES[name] = (fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, idx, word); whitespace tokenization (F2)."""
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", r"\s+")).alias("idx", "word"))
        .filter(F.col("word") != "")
    )


_TOKENS_SQL = """
    SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS idx, t.word
    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
         LATERAL (SELECT UNNEST(ws) AS word, UNNEST(generate_series(1, len(ws))) AS i) t
    WHERE t.word <> ''
"""


# ---------------------------------------------------------------- A1: vocab freq

def q_vocab_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (data_utils.py:106-128): global token frequency, min-freq 2 (P3)."""
    return (
        _tokens(spark, sf_dir)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 2)
    )


SQL_VOCAB_WORD_FREQ = f"""
    SELECT word, count(*) AS freq FROM ({_TOKENS_SQL})
    GROUP BY word HAVING count(*) >= 2
"""


# ------------------------------------------------- A2: deterministic id ranks

def q_vocab_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (data_utils.py:109): id by freq rank, deterministic tiebreak
    (freq desc, word asc), +2 specials offset for words. Uses the
    two-phase scalable ranker (operators/rank.py) — a bare global window
    would funnel the vocabulary through one task at scale."""
    from .operators.rank import global_row_number

    vocab = q_vocab_word_freq(spark, sf_dir)
    ranked = global_row_number(
        vocab, [F.desc("freq"), F.asc("word")], out_col="rn", num_partitions=8
    )
    return ranked.withColumn("id", (F.col("rn") + 1).cast("long")).drop("rn")


SQL_VOCAB_RANK = f"""
    SELECT word, freq,
           CAST(row_number() OVER (ORDER BY freq DESC, word ASC) + 1 AS BIGINT) AS id
    FROM ({SQL_VOCAB_WORD_FREQ})
"""


# ------------------------------------------------------------- A3: max lengths

def q_sent_maxlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (data_utils.py:64,80): max tokens per document, max word length."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("n_tok")
    )
    words = _tokens(spark, sf_dir)
    a = per_doc.agg(F.max("n_tok").cast("long").alias("max_sent_len"))
    b = words.agg(F.max(F.length("word")).cast("long").alias("max_word_len"))
    return a.crossJoin(b)


SQL_SENT_MAXLEN = f"""
    SELECT
      (SELECT CAST(max(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS BIGINT)
         FROM documents) AS max_sent_len,
      (SELECT CAST(max(length(word)) AS BIGINT) FROM ({_TOKENS_SQL})) AS max_word_len
"""


# ------------------------------------------------------------ A4: split counts

def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: dataset counts per split (source stands in for train/valid/test)."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


SQL_SPLIT_COUNTS = """
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY source
"""


# ------------------------------------------------- F1: casing classifier (SQL)

_CASE_EXPR = """
    CASE
      WHEN regexp_matches(word, '^[0-9]+$') THEN 'allNum'
      WHEN length(regexp_replace(word, '[^0-9]', '', 'g')) * 2 > length(word) THEN 'main_num'
      WHEN NOT regexp_matches(word, '[A-Z]') AND regexp_matches(word, '[a-z]') THEN 'allLower'
      WHEN NOT regexp_matches(word, '[a-z]') AND regexp_matches(word, '[A-Z]') THEN 'allUpper'
      WHEN regexp_matches(word, '^[A-Z][a-z]*$') THEN 'upperInit'
      WHEN regexp_matches(word, '[0-9]') THEN 'contain_num'
      ELSE 'other'
    END
"""


def _part_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-case tokens: part p_name + p_brand + p_type words."""
    part = load(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.explode(
                F.split(F.concat_ws(" ", "p_name", "p_brand", "p_type"), r"\s+")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
    )


_PART_TOKENS_SQL = """
    SELECT p_partkey, t.word
    FROM (SELECT p_partkey,
                 string_split_regex(p_name || ' ' || p_brand || ' ' || p_type, '\\s+') AS ws
          FROM part),
         LATERAL (SELECT UNNEST(ws) AS word) t
    WHERE t.word <> ''
"""


def q_casing_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (data_utils.py:141-162) as a pure column expression — the
    relational variant (ASCII-regex semantics; exact Python-unicode parity
    lives in the kernel, tested against the reference oracle in pytest).
    Runs over part tokens, which exercise all casing classes."""
    toks = _part_tokens(spark, sf_dir)
    w = F.col("word")
    n_digits = F.length(F.regexp_replace(w, "[^0-9]", ""))
    case_class = (
        F.when(w.rlike("^[0-9]+$"), "allNum")
        .when(n_digits * 2 > F.length(w), "main_num")
        .when(~w.rlike("[A-Z]") & w.rlike("[a-z]"), "allLower")
        .when(~w.rlike("[a-z]") & w.rlike("[A-Z]"), "allUpper")
        .when(w.rlike("^[A-Z][a-z]*$"), "upperInit")
        .when(w.rlike("[0-9]"), "contain_num")
        .otherwise("other")
    )
    return (
        toks.withColumn("case_class", case_class)
        .groupBy("case_class")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )


SQL_CASING_CLASSIFY = f"""
    SELECT {_CASE_EXPR} AS case_class, count(*) AS n_tokens
    FROM ({_PART_TOKENS_SQL}) GROUP BY 1
"""


# ----------------------------------- J1: lookup join with lowercase fallback

def q_token_lookup_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (data_utils.py:178-184): exact-match join, then lowercase
    fallback, else UNK — two broadcast left joins + coalesce. Output:
    per-doc encoded-token provenance counts."""
    toks = _tokens(spark, sf_dir)
    vocab = q_vocab_rank(spark, sf_dir).select("word", "id")
    exact = F.broadcast(vocab).alias("v1")
    lower = F.broadcast(
        vocab.groupBy(F.lower("word").alias("lword")).agg(F.min("id").alias("lid"))
    ).alias("v2")
    enc = (
        toks.alias("t")
        .join(exact, F.col("t.word") == F.col("v1.word"), "left")
        .join(lower, F.lower(F.col("t.word")) == F.col("v2.lword"), "left")
        .select(
            "t.doc_id",
            F.col("v1.id").alias("id_exact"),
            F.col("v2.lid").alias("id_lower"),
        )
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("id_exact").isNotNull(), 1).otherwise(0)).alias("n_exact"),
        F.sum(
            F.when(F.col("id_exact").isNull() & F.col("id_lower").isNotNull(), 1).otherwise(0)
        ).alias("n_lower_fallback"),
        F.sum(
            F.when(F.col("id_exact").isNull() & F.col("id_lower").isNull(), 1).otherwise(0)
        ).alias("n_unk"),
    )


SQL_TOKEN_LOOKUP_FALLBACK = f"""
    WITH toks AS ({_TOKENS_SQL}),
    vocab AS ({SQL_VOCAB_RANK}),
    lvocab AS (SELECT lower(word) AS lword, min(id) AS lid FROM vocab GROUP BY 1)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v1.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN v1.id IS NULL AND v2.lid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lower_fallback,
           CAST(sum(CASE WHEN v1.id IS NULL AND v2.lid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
    FROM toks t
    LEFT JOIN vocab v1 ON t.word = v1.word
    LEFT JOIN lvocab v2 ON lower(t.word) = v2.lword
    GROUP BY t.doc_id
"""


# ------------------------------------------------------- OOV anti-join (J1 anti)

def q_oov_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV handling (→UNK, data_utils.py:183-184) as an explicit
    left_anti join: part-name tokens absent from the documents vocab
    (after lowercase fallback — both join keys, like J1)."""
    toks = _part_tokens(spark, sf_dir).select(F.lower("word").alias("word")).distinct()
    vocab = q_vocab_word_freq(spark, sf_dir).select(F.lower("word").alias("word")).distinct()
    return toks.join(F.broadcast(vocab), "word", "left_anti")


SQL_OOV_ANTI_JOIN = f"""
    SELECT DISTINCT lower(word) AS word FROM ({_PART_TOKENS_SQL})
    WHERE lower(word) NOT IN (SELECT DISTINCT lower(word) FROM ({SQL_VOCAB_WORD_FREQ}))
"""


# ------------------------------------------- J4-style enrichment join chain

def q_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (data_utils.py:248-260): enrichment via broadcast joins with a
    default for misses — customer → nation → region, coalesce defaults."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .groupBy(F.coalesce("r_name", F.lit("UNKNOWN")).alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


SQL_ENRICHMENT_JOIN = """
    SELECT coalesce(r.r_name, 'UNKNOWN') AS region_name,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS sum_acctbal
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
"""


# --------------------------- J7 + A6 + A7: pred/gold alignment, accuracy, F1

_GOLD_PRED_SQL = f"""
    SELECT doc_id, idx,
           {_CASE_EXPR} AS gold,
           CASE WHEN (doc_id + idx) % 7 = 0 THEN 'other' ELSE {_CASE_EXPR} END AS pred
    FROM ({_TOKENS_SQL})
"""


def _gold_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    w = F.col("word")
    n_digits = F.length(F.regexp_replace(w, "[^0-9]", ""))
    gold = (
        F.when(w.rlike("^[0-9]+$"), "allNum")
        .when(n_digits * 2 > F.length(w), "main_num")
        .when(~w.rlike("[A-Z]") & w.rlike("[a-z]"), "allLower")
        .when(~w.rlike("[a-z]") & w.rlike("[A-Z]"), "allUpper")
        .when(w.rlike("^[A-Z][a-z]*$"), "upperInit")
        .when(w.rlike("[0-9]"), "contain_num")
        .otherwise("other")
    )
    df = toks.withColumn("gold", gold)
    # deterministic synthetic "prediction": degrade every 7th token
    return df.withColumn(
        "pred",
        F.when((F.col("doc_id") + F.col("idx")) % 7 == 0, "other").otherwise(F.col("gold")),
    ).select("doc_id", "idx", "gold", "pred")


def q_tag_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (model_evaluation.py:111-112): token accuracy over the aligned
    pred/gold join (J7)."""
    gp = _gold_pred(spark, sf_dir)
    return gp.agg(
        F.round(F.avg((F.col("pred") == F.col("gold")).cast("double")), 6).alias("accuracy"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


SQL_TAG_ACCURACY = f"""
    SELECT round(avg(CASE WHEN pred = gold THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
           count(*) AS n_tokens
    FROM ({_GOLD_PRED_SQL})
"""


def q_weighted_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (model_evaluation.py:107-108): sklearn-style weighted F1 from
    per-label TP/FP/FN — pure SQL aggregation."""
    gp = _gold_pred(spark, sf_dir)
    per_label = (
        gp.select(F.col("gold").alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("support"))
        .join(
            gp.filter(F.col("pred") == F.col("gold"))
            .groupBy(F.col("gold").alias("label"))
            .agg(F.count(F.lit(1)).alias("tp")),
            "label",
            "left",
        )
        .join(
            gp.groupBy(F.col("pred").alias("label")).agg(F.count(F.lit(1)).alias("pred_n")),
            "label",
            "left",
        )
        .select(
            "label",
            "support",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("pred_n", F.lit(0)).alias("pred_n"),
        )
    )
    f1 = per_label.withColumn(
        "f1",
        F.when(
            (F.col("pred_n") > 0) & (F.col("support") > 0) & (F.col("tp") > 0),
            2.0
            * (F.col("tp") / F.col("pred_n"))
            * (F.col("tp") / F.col("support"))
            / ((F.col("tp") / F.col("pred_n")) + (F.col("tp") / F.col("support"))),
        ).otherwise(0.0),
    )
    return f1.agg(
        F.round(
            F.sum(F.col("f1") * F.col("support")) / F.sum("support"), 6
        ).alias("weighted_f1")
    )


SQL_WEIGHTED_F1 = f"""
    WITH gp AS ({_GOLD_PRED_SQL}),
    per_label AS (
      SELECT g.label, g.support,
             coalesce(t.tp, 0) AS tp,
             coalesce(p.pred_n, 0) AS pred_n
      FROM (SELECT gold AS label, count(*) AS support FROM gp GROUP BY 1) g
      LEFT JOIN (SELECT gold AS label, count(*) AS tp FROM gp WHERE pred = gold GROUP BY 1) t
             ON g.label = t.label
      LEFT JOIN (SELECT pred AS label, count(*) AS pred_n FROM gp GROUP BY 1) p
             ON g.label = p.label
    )
    SELECT round(sum(f1 * support) / sum(support), 6) AS weighted_f1
    FROM (
      SELECT label, support,
             CASE WHEN pred_n > 0 AND support > 0 AND tp > 0
                  THEN 2.0 * (tp * 1.0 / pred_n) * (tp * 1.0 / support)
                       / ((tp * 1.0 / pred_n) + (tp * 1.0 / support))
                  ELSE 0.0 END AS f1
      FROM per_label
    )
"""


# ------------------------------------------------- W1: sessionization (events)

def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 sessionization (the reference's blank-line sentence boundary,
    data_utils.py:48-82, generalized): events per user split into sessions
    at >30-minute gaps via lag + running sum."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800)
            ).cast("int"),
        )
        .withColumn("session_id", F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.count(F.lit(1)) / F.max("session_id"), 4).alias("avg_session_events"),
    )


SQL_SESSIONIZE_EVENTS = """
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(max(session_id) AS BIGINT) AS n_sessions,
           count(*) AS n_events,
           round(count(*) * 1.0 / max(session_id), 4) AS avg_session_events
    FROM sess GROUP BY user_id
"""


# ------------------------------------------------------ O2: top-k per group

def q_topk_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 (security_augmentation.py:27 top-k): top-3 events by value per
    user, deterministic tiebreak."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("user_id", "rk", "event_id", F.round("value", 4).alias("value"))
    )


SQL_TOPK_EVENTS_PER_USER = """
    SELECT user_id, CAST(rk AS BIGINT) AS rk, event_id, round(value, 4) AS value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rk
      FROM events
    ) WHERE rk <= 3
"""


# -------------------------------------------------- W2: skip-gram pair windows

def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (POS_Embedding.py:60-73): (center, context) pairs within ±3,
    via positional self-join on token index. Restricted to doc_id < 50."""
    toks = _tokens(spark, sf_dir).filter(F.col("doc_id") < 50)
    a = toks.alias("a")
    b = toks.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.idx") != F.col("b.idx"))
        & (F.abs(F.col("a.idx") - F.col("b.idx")) <= 3),
    ).select(F.col("a.word").alias("center"), F.col("b.word").alias("context"))
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 10)
    )


SQL_SKIPGRAM_PAIRS = f"""
    WITH toks AS (SELECT * FROM ({_TOKENS_SQL}) WHERE doc_id < 50)
    SELECT a.word AS center, b.word AS context, count(*) AS n
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id AND a.idx <> b.idx AND abs(a.idx - b.idx) <= 3
    GROUP BY 1, 2 HAVING count(*) >= 10
"""


# ------------------------------------------- M13: POS skip-gram pair counts

def q_pos_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 data side (POS_Embedding.py:60-73): (center_pos, context_pos)
    skip-gram pair counts over the rule-based UPOS stream (F4). The POS
    mapping is the generated `upos_case_sql` CASE — JVM-side codegen,
    shared verbatim with the oracle. The window bound replicates the
    reference's build_skip_grams asymmetry (`range(max(0, i-w),
    min(i+w, n))` — j reaches i-3 but only i+2), with one stated
    deviation: this corpus has no sentence segmentation, so the
    DOCUMENT is the sequence unit here, whereas the reference (and
    training.pos_pair_counts, which operates on conll sentence rows)
    windows per sentence.

    The ≤18×18 output is the sufficient statistic for the full-softmax
    skip-gram fit (training.train_pos_embeddings).

    Plan shape (r6): pair generation is ARRAY-LOCAL per document — the
    POS array is built once per doc and (center, context) pairs come
    from a nested transform over in-window index pairs, so the ONLY
    Exchange in the plan is the ≤324-cell aggregation (map-side
    partials). The previous exploded-token self-join shuffled the whole
    corpus through a join exchange before the tiny groupBy — at 100 TB
    the difference between one full-corpus shuffle and zero
    (tests/test_plans.py asserts the join-free plan). Window semantics
    are unchanged: j - i ∈ [-3, 2], j ≠ i, document as the sequence
    unit. Equivalence with the oracle's posexplode+join form: split()
    on \\s+ only yields empty tokens at the string edges, so dropping
    them shifts every surviving index by the same constant and index
    DIFFERENCES — all the window sees — are preserved.
    """
    from .kernel.pos import upos_case_sql

    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    ps = docs.select(ws.alias("ws")).selectExpr(
        f"transform(ws, x -> {upos_case_sql('x')}) AS ps"
    )
    pairs = ps.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (c, i) -> "
                "transform(filter(sequence(greatest(i - 3, 0), "
                "least(i + 2, size(ps) - 1)), j -> j != i), "
                "j -> struct(c AS center_pos, ps[j] AS context_pos))))"
            )
        ).alias("p")
    )
    return pairs.select("p.center_pos", "p.context_pos").groupBy(
        "center_pos", "context_pos"
    ).agg(F.count(F.lit(1)).alias("n"))


def _sql_pos_skipgram_pairs() -> str:
    from .kernel.pos import upos_case_sql

    return f"""
    WITH toks AS (
      SELECT doc_id, idx, {upos_case_sql("word")} AS pos FROM ({_TOKENS_SQL})
    )
    SELECT a.pos AS center_pos, b.pos AS context_pos, count(*) AS n
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id AND b.idx - a.idx <> 0
     AND b.idx - a.idx >= -3 AND b.idx - a.idx <= 2
    GROUP BY 1, 2
"""


SQL_POS_SKIPGRAM_PAIRS = _sql_pos_skipgram_pairs()


# ------------------------------------------------------- U1/U2: set operations

def q_set_ops_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2 (data_processing.py:27-33; data_utils.py:127): union /
    intersect / except over per-lang distinct token sets."""
    toks = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    en = toks.filter(F.col("lang") == "en").select("word").distinct()
    fr = toks.filter(F.col("lang") == "fr").select("word").distinct()
    return (
        en.union(fr).distinct().agg(F.count(F.lit(1)).alias("n_union"))
        .crossJoin(en.intersect(fr).agg(F.count(F.lit(1)).alias("n_intersect")))
        .crossJoin(en.exceptAll(fr.distinct()).distinct().agg(F.count(F.lit(1)).alias("n_except")))
    )


SQL_SET_OPS_TOKENS = """
    WITH toks AS (
      SELECT lang, t.word FROM (
        SELECT lang, string_split_regex(text, '\\s+') AS ws FROM documents
      ), LATERAL (SELECT UNNEST(ws) AS word) t WHERE t.word <> ''
    ),
    en AS (SELECT DISTINCT word FROM toks WHERE lang = 'en'),
    fr AS (SELECT DISTINCT word FROM toks WHERE lang = 'fr')
    SELECT
      (SELECT count(*) FROM (SELECT word FROM en UNION SELECT word FROM fr)) AS n_union,
      (SELECT count(*) FROM (SELECT word FROM en INTERSECT SELECT word FROM fr)) AS n_intersect,
      (SELECT count(*) FROM (SELECT word FROM en EXCEPT SELECT word FROM fr)) AS n_except
"""


# ----------------------------------------------------------- TPC-H style aggs

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-analog hash aggregation with partial (map-side) combine —
    Catalyst plans partial+final automatically."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-heavy top-k: orders × lineitem × customer, revenue top-10."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    return (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "o_orderkey", "c_name", F.round("rev", 2).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


SQL_TOP_REVENUE_ORDERS = """
    SELECT o.o_orderkey, c.c_name, round(r.rev, 2) AS revenue
    FROM orders o
    JOIN (SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS rev
          FROM lineitem GROUP BY 1) r ON o.o_orderkey = r.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
"""


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup (metrics-layer shape from SURVEY §2.4 note)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "qty",
        )
    )


SQL_CUBE_COUNTS = """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --------------------------------------------- W8: BIO-style span extraction

def q_span_extract_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 relational variant: runs of capitalized tokens grouped into
    spans via lag + running-sum (the explode + window form of BIO span
    grouping). Output: span surfaces with positions."""
    toks = _tokens(spark, sf_dir).filter(F.col("doc_id") < 100)
    w = W.partitionBy("doc_id").orderBy("idx")
    ent_set = ["spark", "query", "join", "hash", "table"]
    marked = (
        toks.withColumn("is_ent", F.col("word").isin(ent_set).cast("int"))
        .withColumn("prev_ent", F.coalesce(F.lag("is_ent").over(w), F.lit(0)))
        .withColumn(
            "start", ((F.col("is_ent") == 1) & (F.col("prev_ent") == 0)).cast("int")
        )
        .withColumn("span_id", F.sum("start").over(w.rowsBetween(W.unboundedPreceding, 0)))
    )
    spans = (
        marked.filter(F.col("is_ent") == 1)
        .groupBy("doc_id", "span_id")
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
        .select("doc_id", "begin", "end", "surface")
    )
    return spans


SQL_SPAN_EXTRACT = f"""
    WITH toks AS (SELECT * FROM ({_TOKENS_SQL}) WHERE doc_id < 100),
    marked AS (
      SELECT doc_id, idx, word,
             CASE WHEN word IN ('spark', 'query', 'join', 'hash', 'table') THEN 1 ELSE 0 END AS is_ent,
             coalesce(lag(CASE WHEN word IN ('spark', 'query', 'join', 'hash', 'table') THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY idx), 0) AS prev_ent
      FROM toks
    ),
    spans AS (
      SELECT doc_id, idx, word, is_ent,
             sum(CASE WHEN is_ent = 1 AND prev_ent = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY idx ROWS UNBOUNDED PRECEDING) AS span_id
      FROM marked
    )
    SELECT doc_id, min(idx) AS begin, max(idx) + 1 AS "end",
           string_agg(word, ' ' ORDER BY idx) AS surface
    FROM spans WHERE is_ent = 1
    GROUP BY doc_id, span_id
"""


# ------------------------------ J6: similar-word top-k join + A9 softmax

def q_similar_words_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 (security_augmentation.py:25-56): top-4 similar words per vocab
    word with softmaxed scores (A9). Similarity = character-bigram
    cosine via inverted-index join (the scale path — no O(V²) cross
    join); softmax over each word's top-k via window functions."""
    vocab = q_vocab_word_freq(spark, sf_dir).select("word")
    grams = vocab.select(
        "word",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.length("word") - 2, F.lit(0))),
                    lambda i: F.col("word").substr(i + F.lit(1), F.lit(2)),
                )
            )
        ).alias("g"),
    )
    counts = grams.groupBy("word").agg(F.count(F.lit(1)).alias("ng"))
    pairs = (
        grams.alias("a")
        .join(grams.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.word") != F.col("b.word")))
        .groupBy(F.col("a.word").alias("word"), F.col("b.word").alias("other"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .join(counts.withColumnRenamed("word", "word").alias("ca"), "word")
        .join(
            counts.withColumnRenamed("word", "other").withColumnRenamed("ng", "ngb").alias("cb"),
            "other",
        )
        .withColumn("cos", F.col("shared") / F.sqrt(F.col("ng") * F.col("ngb")))
    )
    w = W.partitionBy("word").orderBy(F.desc("cos"), F.asc("other"))
    topk = pairs.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= 4)
    wmax = W.partitionBy("word")
    soft = (
        topk.withColumn("m", F.max("cos").over(wmax))
        .withColumn("e", F.exp(F.col("cos") - F.col("m")))
        .withColumn("softmax", F.col("e") / F.sum("e").over(wmax))
    )
    return soft.select(
        "word", "rk", "other", F.round("cos", 6).alias("cos"),
        F.round("softmax", 6).alias("softmax"),
    )


SQL_SIMILAR_WORDS_TOPK = f"""
    WITH vocab AS (SELECT word FROM ({SQL_VOCAB_WORD_FREQ})),
    grams AS (
      SELECT DISTINCT word, substr(word, i, 2) AS g
      FROM vocab, LATERAL (
        SELECT UNNEST(generate_series(1, greatest(length(word) - 1, 1))) AS i
      )
    ),
    counts AS (SELECT word, count(*) AS ng FROM grams GROUP BY word),
    pairs AS (
      SELECT a.word AS word, b.word AS other, count(*) AS shared
      FROM grams a JOIN grams b ON a.g = b.g AND a.word <> b.word
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.word, p.other, p.shared * 1.0 / sqrt(ca.ng * cb.ng) AS cos
      FROM pairs p
      JOIN counts ca ON ca.word = p.word
      JOIN counts cb ON cb.word = p.other
    ),
    topk AS (
      SELECT word, other, cos,
             row_number() OVER (PARTITION BY word ORDER BY cos DESC, other ASC) AS rk
      FROM scored QUALIFY rk <= 4
    ),
    withmax AS (
      SELECT *, max(cos) OVER (PARTITION BY word) AS m FROM topk
    )
    SELECT word, CAST(rk AS BIGINT) AS rk, other, round(cos, 6) AS cos,
           round(exp(cos - m) / sum(exp(cos - m)) OVER (PARTITION BY word), 6) AS softmax
    FROM withmax
"""


# ------------------------------------------------ event-time tumbling windows

def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling event-time windows per event type;
    oracle = DuckDB time_bucket."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


SQL_WINDOWED_EVENT_COUNTS = """
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
"""


# -------------------------------------------- semi-join / pivot / range join

def q_exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left_semi: orders having a high-discount lineitem,
    counted per priority."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SQL_EXISTS_SEMI_JOIN = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
    GROUP BY o_orderpriority
"""


def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus columns per returnflag (engine pivot on the Spark
    side; portable CASE aggregation in the oracle)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .select(
            "l_returnflag",
            F.coalesce("O", F.lit(0.0)).alias("qty_open"),
            F.coalesce("F", F.lit(0.0)).alias("qty_filled"),
        )
    )


SQL_PIVOT_RETURNFLAG = """
    SELECT l_returnflag,
           coalesce(round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2), 0.0) AS qty_open,
           coalesce(round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2), 0.0) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
"""


def q_event_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range self-join: pairs of events from the same user within
    60 seconds (the interval-join shape; Spark plans a range condition
    after the equi-key, DuckDB an IEJoin)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    a = ev.alias("a")
    b = ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (
            F.abs(
                F.unix_micros(F.col("a.ts").cast("timestamp"))
                - F.unix_micros(F.col("b.ts").cast("timestamp"))
            )
            <= 60_000_000
        ),
    )
    return pairs.groupBy(F.col("a.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_close_pairs")
    )


SQL_EVENT_RANGE_JOIN = """
    SELECT a.user_id, count(*) AS n_close_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
    GROUP BY a.user_id
"""


# --------------------------- O4: deterministic split (no unseeded shuffle)

def q_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 replacement: the reference splits by unseeded random shuffle
    (read_MalwareTextDB.py:29-44) — irreproducible by design. The engine
    pins an arithmetic 80/10/10 split (Knuth multiplicative hash — the
    same integers in any engine), so splits are stable across runs,
    engines, and cluster sizes."""
    docs = load(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % F.lit(10)
    split = (
        F.when(h < 8, "train").when(h == 8, "valid").otherwise("test")
    )
    return docs.select(split.alias("split"), "doc_id").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("docid_checksum")
    )


SQL_DETERMINISTIC_SPLIT = """
    SELECT CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'valid' ELSE 'test' END AS split,
           count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS docid_checksum
    FROM (SELECT doc_id, (doc_id * 2654435761) % 4294967296 % 10 AS h FROM documents)
    GROUP BY 1
"""


# ------------------------------------------------------------ as-of join

def q_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent prior 'view' event
    of the same user. Expressed as last_value over an ordered window
    with a conditional carry — the single-pass form that avoids a
    per-row subquery (at scale: one shuffle on user_id, sorted scan)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    asof = (
        ev.withColumn(
            "last_view_id",
            F.last(
                F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
    )
    return asof.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.when(F.col("last_view_id").isNotNull(), 1).otherwise(0)).alias("with_prior_view"),
        F.max("last_view_id").alias("max_last_view_id"),
    )


SQL_ASOF_LAST_VIEW = """
    WITH marked AS (
      SELECT *,
             last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_id
      FROM events
    )
    SELECT user_id, count(*) AS n_purchases,
           CAST(sum(CASE WHEN last_view_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_prior_view,
           max(last_view_id) AS max_last_view_id
    FROM marked WHERE event_type = 'purchase'
    GROUP BY user_id
"""


# ------------------------------------------ percentiles (exact, interpolated)

def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (Spark percentile ≡
    DuckDB quantile_cont; approx_percentile deliberately NOT used in an
    oracle-checked query — sketch algorithms differ across engines)."""
    ev = load(spark, sf_dir, "events")
    r4 = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return ev.groupBy("event_type").agg(
        r4(F.expr("percentile(value, 0.5)")).alias("p50"),
        r4(F.expr("percentile(value, 0.9)")).alias("p90"),
        r4(F.min("value")).alias("vmin"),
        r4(F.max("value")).alias("vmax"),
    )


SQL_VALUE_PERCENTILES = """
    SELECT event_type,
           floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
           floor(quantile_cont(value, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90,
           floor(min(value) * 10000.0 + 0.5) / 10000.0 AS vmin,
           floor(max(value) * 10000.0 + 0.5) / 10000.0 AS vmax
    FROM events GROUP BY event_type
"""


# ------------------------- hypertable-style multi-resolution time rollup

def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate shape: one pass produces hourly AND daily
    rollups via GROUPING SETS over truncated timestamps (the hypertable
    rollup analog; at scale this materializes into bucketed tables that
    downstream dashboards read instead of raw events)."""
    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_b"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_b"),
        "event_type", "value",
    )
    ev.createOrReplaceTempView("_ev_rollup")
    return spark.sql("""
        SELECT coalesce(hour_b, 'ALL') AS hour_bucket,
               coalesce(day_b, 'ALL') AS day_bucket,
               event_type,
               count(*) AS n,
               floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_value
        FROM _ev_rollup
        GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type)), event_type
    """)


SQL_TIME_ROLLUP = """
    WITH ev AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_b,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_b,
             event_type, value
      FROM events
    )
    SELECT coalesce(hour_b, 'ALL') AS hour_bucket,
           coalesce(day_b, 'ALL') AS day_bucket,
           event_type, count(*) AS n,
           floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_value
    FROM ev
    GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type))
"""
