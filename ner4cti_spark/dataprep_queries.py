"""Training-data-pipeline operations over the documents/embeddings
tables: deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard),
similarity search (brute-force cosine top-k, LSH buckets), and text
analysis (language-ID heuristic, quality scoring, token stats, document
fingerprinting). Each Spark implementation is paired with DuckDB oracle
SQL using the same (engine-portable, md5-based) hash constructions.

At 100 TB these are the scale-path designs: shingle→minhash→band→
bucket-join never materializes the O(n²) pair space; the inverted-index
Jaccard join uses word-level shingles so bucket cardinalities stay high.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .entry_queries import load
from .session import corpus_cached, local_frame

# ---------------------------------------------------------------- shingles

_WORD_SHINGLES_SQL = """
    SELECT doc_id, DISTINCT_SH.sh FROM (
      SELECT doc_id, ws FROM (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
        FROM documents
      )
    ), LATERAL (
      SELECT DISTINCT array_to_string(ws[i:i+4], ' ') AS sh
      FROM UNNEST(generate_series(1, greatest(len(ws) - 4, 1))) AS t(i)
    ) DISTINCT_SH
"""


_SHINGLE_WORDS = 5  # word n-gram length of every dedup query's shingles


@corpus_cached
def _doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shs array<string>): distinct word n-gram shingles
    (n = _SHINGLE_WORDS) per document, as ONE array column — the
    single-corpus-scan shape, persisted once per corpus (corpus_cached).
    Dedup queries derive both the minhash signatures (via explode) and
    the exact-Jaccard rescore (via array_intersect on the carried arrays)
    from the same cached scan."""
    n = _SHINGLE_WORDS
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0)))
    return (
        docs
        # small-file parquet arrives as ONE partition, and the shingle
        # transform is interpreted higher-order-function work — spread
        # it across the full parallelism before persisting or the whole
        # dedup family bottlenecks on a few cores (r6: //2 → full
        # defaultParallelism; at real scale the scan is many-partition
        # already)
        .repartition(max(4, spark.sparkContext.defaultParallelism), "doc_id")
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(idx, lambda i: F.array_join(F.slice(ws, i + F.lit(1), F.lit(n)), " "))
            ).alias("shs"),
        )
        .persist()
    )


def _word_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): exploded distinct word n-gram shingles."""
    return _doc_shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shs").alias("sh")
    )


def _jaccard_rescore(cand: DataFrame, sh_arr: DataFrame) -> DataFrame:
    """Exact shingle Jaccard for candidate pairs from carried arrays —
    no shingle-level shuffle: two joins on doc_id against the cached
    (doc_id, shs) table, then array_intersect per pair."""
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                inter / (F.size("shs_a") + F.size("shs_b") - inter), 6
            ).alias("jaccard"),
        )
    )


def _dot(a, b):
    """Fold-based dot product of two array<double> columns (the shared
    numerator of _cosine — exposed for callers that precompute norms)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def _norm(a):
    """Euclidean norm of an array<double> column, the same fold _cosine
    uses — bit-identical when precomputed once and reused."""
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda s, x: s + x))


def _cosine(a, b):
    """Exact double-precision cosine of two array<double> columns — the
    one shared implementation for every similarity query (fold-based dot
    + norms; single-lambda aggregates, safe under Spark 4.1 codegen)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return dot / (na * nb)


# ------------------------------------------------------------- exact dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groups; canonical = min doc_id."""
    docs = load(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("content_hash"))
    w = W.partitionBy("content_hash")
    return docs.withColumn(
        "is_canonical", (F.col("doc_id") == F.min("doc_id").over(w)).cast("int")
    ).withColumn("group_size", F.count(F.lit(1)).over(w))


SQL_DEDUP_EXACT = """
    SELECT doc_id, md5(text) AS content_hash,
           CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS is_canonical,
           count(*) OVER (PARTITION BY md5(text)) AS group_size
    FROM documents
"""


# --------------------------------------------------------- MinHash-LSH dedup

_N_HASHES = 8
_BAND_SIZE = 2  # 4 bands × 2 rows


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding: docs sharing ≥1 of 4 bands (2 minhashes each) →
    candidate pairs, re-scored with exact shingle Jaccard. The pair space
    never materializes — only band-bucket collisions do.

    ONE corpus scan: the (doc_id, shs) arrays are cached; minhashes come
    from exploding the cache (explode + groupBy-min, NOT
    array_min(transform(..md5..)) — that miscompiles under Spark 4.1
    codegen, see linking/minhash_lsh.py), and the exact-Jaccard rescore
    joins the carried arrays with array_intersect — no shingle-level
    inverted-index shuffle."""
    sh_arr = _doc_shingle_arrays(spark, sf_dir)  # persisted (corpus_cached)
    sh = sh_arr.select("doc_id", F.explode("shs").alias("sh"))
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"h{i}:"), F.col("sh")))).alias(f"mh{i}")
            for i in range(_N_HASHES)
        ]
    )
    n_bands = _N_HASHES // _BAND_SIZE
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", F.lit(f"b{b}"),
                    *[F.col(f"mh{b * _BAND_SIZE + r}") for r in range(_BAND_SIZE)],
                )
            )
            for b in range(n_bands)
        ]
    )
    # no .distinct() on the bucket rows (r6): the 4 band hashes carry
    # distinct "b{b}" prefixes, so a doc cannot emit the same bucket
    # twice (short of an md5 collision), and the candidate-pair
    # .distinct() below collapses any multiplicity anyway — the
    # defensive dedup only added a full shuffle of the bucket table
    bucketed = mh.select("doc_id", F.explode(bands).alias("bucket"))
    cand = (
        bucketed.alias("a")
        .join(bucketed.alias("b"),
              (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _jaccard_rescore(cand, sh_arr)


def _minhash_sql() -> str:
    mh_cols = ",\n           ".join(
        f"min(md5('h{i}:' || sh)) AS mh{i}" for i in range(_N_HASHES)
    )
    n_bands = _N_HASHES // _BAND_SIZE
    band_exprs = ", ".join(
        "md5('b%d:' || %s)" % (b, " || '|' || ".join(f"mh{b * _BAND_SIZE + r}" for r in range(_BAND_SIZE)))
        for b in range(n_bands)
    )
    return f"""
    WITH sh AS ({_WORD_SHINGLES_SQL}),
    mh AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
    bucketed AS (
      SELECT DISTINCT doc_id, UNNEST([{band_exprs}]) AS bucket FROM mh
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           round(coalesce(i.n_inter, 0) * 1.0
                 / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    JOIN counts ca ON ca.doc_id = c.doc_a
    JOIN counts cb ON cb.doc_id = c.doc_b
    """


SQL_DEDUP_MINHASH = _minhash_sql()


# ---------------------------------------------------------------- SimHash

_SIMHASH_BITS = 16


@corpus_cached
def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, simhash) signature table, one per corpus
    (corpus_cached), so the corpus-scan + 16-way bit-sum aggregation
    runs ONCE per corpus and BOTH simhash queries (signatures + the
    banded near-dup detector) and both sides of the detector's band
    self-join read the cache."""
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    h16 = F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("long")
    toks = toks.withColumn("h", h16)
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_sums.select("doc_id", sig.cast("long").alias("simhash")).persist()


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document from token md5s: bit b of the hash is
    the sign of Σ_tokens (2·bit_b(md5(token)) − 1). Same arithmetic in
    the oracle. Grouping by simhash gives near-dup buckets. Reads (and
    on first call builds) the shared per-corpus signature cache."""
    return _simhash_sigs(spark, sf_dir)


def _simhash_sql() -> str:
    # hex→int for the first 4 md5 chars without conv(): digit lookup
    h = ("(strpos('0123456789abcdef', substr(md5(word),1,1)) - 1) * 4096 + "
         "(strpos('0123456789abcdef', substr(md5(word),2,1)) - 1) * 256 + "
         "(strpos('0123456789abcdef', substr(md5(word),3,1)) - 1) * 16 + "
         "(strpos('0123456789abcdef', substr(md5(word),4,1)) - 1)")
    sums = ", ".join(
        f"sum(((h // {1 << b}) % 2) * 2 - 1) AS s{b}" for b in range(_SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, t.word FROM (
        SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents
      ), LATERAL (SELECT UNNEST(ws) AS word) t WHERE t.word <> ''
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM toks),
    bit_sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM bit_sums
    """


SQL_DEDUP_SIMHASH = _simhash_sql()


# -------------------------------------- SimHash Hamming-banded near-dup

_SIMHASH_BANDS = 4  # 4 bands × 4 bits: Hamming ≤ 3 ⇒ ≥1 band identical


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash as an actual near-dup DETECTOR: band the 16-bit signature
    into 4×4-bit keys, equi-join per band (pigeonhole: any pair at
    Hamming ≤ 3 shares at least one intact band), verify with exact
    bit_count(xor) ≤ 3. Candidate space is the band-bucket collision set
    — never O(n²) — and at corpus scale each of the 4 band joins is an
    ordinary shuffle on a 4-bit-×-band key."""
    sim = _simhash_sigs(spark, sf_dir)  # persisted (corpus_cached)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", 4 * b).bitwiseAND(F.lit(15)).alias("bv"),
        )
        for b in range(_SIMHASH_BANDS)
    ])
    bands = sim.select(
        "doc_id", "simhash", F.explode(band_structs).alias("p")
    ).select("doc_id", "simhash", F.col("p.band").alias("band"), F.col("p.bv").alias("bv"))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"),
              (F.col("a.band") == F.col("b.band")) & (F.col("a.bv") == F.col("b.bv"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("a.simhash").alias("sa"),
            F.col("b.doc_id").alias("doc_b"), F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


SQL_SIMHASH_NEARDUP = f"""
    WITH sim AS ({_simhash_sql()}),
    bands AS (
      SELECT doc_id, simhash, bb.b AS band, (simhash // (1 << (4 * bb.b))) % 16 AS bv
      FROM sim, UNNEST(generate_series(0, {_SIMHASH_BANDS - 1})) AS bb(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa, b.doc_id AS doc_b, b.simhash AS sb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


# ------------------------------------------------- n-gram Jaccard (inverted index)

_NGRAM_DF_MAX = 100  # document-frequency cut: shingles in more docs are
#                      boilerplate — one hot 5-gram otherwise yields
#                      O(df²) candidate pairs (the classic skew killer)


_NGRAM_KEEP_RAREST = 10  # per-doc rarest shingles exempt from the df cut


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs via inverted-index candidate join on
    word 5-gram shingles, kept at jaccard ≥ 0.3.

    Scale guards: (1) candidate generation only joins shingles with
    document frequency ≤ {_NGRAM_DF_MAX}, EXCEPT each document's
    {_NGRAM_KEEP_RAREST} rarest shingles, which always stay in the index
    — the df cut bounds the inverted-index join at O(df_max²) per hot
    shingle (the classic boilerplate-skew killer), while the per-doc
    exemption guarantees every document keeps SOME index presence.
    Recovery scope of the exemption: docs whose shingle SETS are
    identical (or rank-stable: the same shingles sort rarest in both)
    collide on their kept rarest shingles; near-identical docs in a
    >df_max hot cluster that each hold ≥{_NGRAM_KEEP_RAREST} distinct
    df=1 shingles keep disjoint sets and can still be missed — a
    bounded recall tradeoff inherent to any df-capped index (raise
    _NGRAM_KEEP_RAREST to widen it). The quadratic output for a
    recovered cluster is inherent — every pair genuinely qualifies.
    (2) the Jaccard itself is re-scored exactly on the carried shingle
    arrays (array_intersect), so the cuts affect candidate RECALL only,
    never a reported score."""
    sh_arr = _doc_shingle_arrays(spark, sf_dir)  # persisted (corpus_cached)
    sh = sh_arr.select("doc_id", F.explode("shs").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    sh_df = sh.join(dfreq, "sh")
    w_rare = W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("sh"))
    sh_idx = (
        sh_df.withColumn("rk", F.row_number().over(w_rare))
        .filter((F.col("df") <= _NGRAM_DF_MAX) | (F.col("rk") <= _NGRAM_KEEP_RAREST))
        .select("doc_id", "sh")
    )
    cand = (
        sh_idx.alias("a")
        .join(sh_idx.alias("b"),
              (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _jaccard_rescore(cand, sh_arr).filter(F.col("jaccard") >= 0.3)


SQL_NGRAM_JACCARD = f"""
    WITH sh AS ({_WORD_SHINGLES_SQL}),
    arr AS (SELECT doc_id, list(sh) AS shs FROM sh GROUP BY doc_id),
    dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
    sh_idx AS (
      SELECT doc_id, sh FROM (
        SELECT s.doc_id, s.sh, d.df,
               row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS rk
        FROM sh s JOIN dfreq d ON s.sh = d.sh
      ) WHERE df <= {_NGRAM_DF_MAX} OR rk <= {_NGRAM_KEEP_RAREST}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh_idx a JOIN sh_idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT doc_a, doc_b,
             round(len(list_intersect(x.shs, y.shs)) * 1.0
                   / (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))), 6) AS jaccard
      FROM cand JOIN arr x ON x.doc_id = cand.doc_a JOIN arr y ON y.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.3
"""


# ------------------------------------------------------- document fingerprint

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-k document fingerprint (k=3): concat of the 3 smallest shingle
    md5s — a compact rolling-hash-style signature; equal fingerprints ⇒
    near-identical prefix content."""
    sh = _word_shingles(spark, sf_dir).withColumn("hh", F.md5("sh"))
    w = W.partitionBy("doc_id").orderBy("hh")
    return (
        sh.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .groupBy("doc_id")
        .agg(F.concat_ws(":", F.sort_array(F.collect_list("hh"))).alias("fingerprint"))
    )


SQL_DOC_FINGERPRINT = f"""
    WITH sh AS ({_WORD_SHINGLES_SQL}),
    ranked AS (
      SELECT doc_id, md5(sh) AS hh,
             row_number() OVER (PARTITION BY doc_id ORDER BY md5(sh)) AS rk
      FROM sh
    )
    SELECT doc_id, string_agg(hh, ':' ORDER BY hh) AS fingerprint
    FROM ranked WHERE rk <= 3 GROUP BY doc_id
"""


# ------------------------------------------------------- language ID heuristic

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "for", "on"]


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic; confusion counts vs the
    labeled lang column."""
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    hits = F.size(F.filter(ws, lambda x: F.lower(x).isin(_STOPWORDS)))
    ratio = hits / F.size(ws)
    return (
        docs.withColumn("predicted", F.when(ratio >= 0.08, "en").otherwise("other"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SW_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)
SQL_LANG_ID = f"""
    WITH scored AS (
      SELECT lang,
             CASE WHEN len(list_filter(ws, x -> list_contains([{_SW_LIST}], lower(x)))) * 1.0
                       / len(ws) >= 0.08
                  THEN 'en' ELSE 'other' END AS predicted
      FROM (SELECT lang, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
            FROM documents)
    )
    SELECT lang, predicted, count(*) AS n_docs FROM scored GROUP BY 1, 2
"""


# ------------------------------------------------------------- quality score

def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality: token count, type/token ratio, mean
    word length, punctuation ratio → weighted score."""
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    n_tok = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    avg_len = F.aggregate(ws, F.lit(0), lambda acc, x: acc + F.length(x)) / n_tok
    punct = F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", "")) / F.length("text")
    score = (
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.3
        + (n_distinct / n_tok) * 0.4
        + F.least(avg_len / 8.0, F.lit(1.0)) * 0.2
        + (1.0 - F.least(punct * 10.0, F.lit(1.0))) * 0.1
    )
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        # floor(x*1e4+0.5)/1e4, NOT round(): Spark rounds the shortest
        # decimal rendering (HALF_UP) while DuckDB rounds the binary
        # double — they disagree on exact .5 boundaries; floor over
        # identical doubles is bit-deterministic in both engines
        (F.floor((n_distinct / n_tok) * 10000.0 + 0.5) / 10000.0).alias("type_token_ratio"),
        (F.floor(score * 10000.0 + 0.5) / 10000.0).alias("quality_score"),
    )


SQL_QUALITY_SCORE = """
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           floor((len(list_distinct(ws)) * 1.0 / len(ws)) * 10000.0 + 0.5) / 10000.0 AS type_token_ratio,
           floor((
             least(len(ws) / 100.0, 1.0) * 0.3
             + (len(list_distinct(ws)) * 1.0 / len(ws)) * 0.4
             + least(list_aggregate(list_transform(ws, x -> length(x)), 'sum') * 1.0
                     / len(ws) / 8.0, 1.0) * 0.2
             + (1.0 - least(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                            * 1.0 / length(text) * 10.0, 1.0)) * 0.1) * 10000.0 + 0.5) / 10000.0 AS quality_score
    FROM (SELECT doc_id, text,
                 list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
          FROM documents)
"""


# --------------------------------------------------------------- token stats

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace tokens + regex word-ish
    tokens (BPE-ish [a-z]+|[0-9]+|other — F5 analog)."""
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    bpe = F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
    per_doc = docs.select("source", F.size(ws).alias("n_ws"), bpe.alias("n_bpe"))
    return per_doc.groupBy("source").agg(
        F.sum("n_ws").alias("total_ws_tokens"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.round(F.avg("n_ws"), 4).alias("avg_tokens_per_doc"),
    )


SQL_TOKEN_STATS = """
    SELECT source,
           CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS total_ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpe_tokens,
           round(avg(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))), 4)
             AS avg_tokens_per_doc
    FROM documents GROUP BY source
"""


# ------------------------------------------------- similarity search (cosine)

def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 10.
    Dot products in double precision via zip_with+aggregate (JVM-side,
    no Python). The 100 TB scale path partitions the corpus side and
    broadcasts the (small) query side — exactly this plan."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("q")
    )
    dot = F.aggregate(
        F.zip_with("q", "e", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))  # noqa: E731
    sims = (
        F.broadcast(queries)
        .crossJoin(emb)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot / (norm(F.col("q")) * norm(F.col("e")))).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("query_id", "rk", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


SQL_EMBEDDING_TOPK = """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 10),
    sims AS (
      SELECT q.query_id, emb.vec_id AS neighbor_id,
             list_dot_product(q.qe, emb.e)
               / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(emb.e, emb.e))) AS sim
      FROM q CROSS JOIN emb WHERE q.query_id <> emb.vec_id
    )
    SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, round(sim, 4) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
          FROM sims)
    WHERE rk <= 5
"""


# Multi-table sign-random-projection LSH: T tables × B bits. One table of
# B bits keeps near neighbors together with prob cos_sim^B — too lossy —
# so T independent tables are OR-ed: candidate iff SOME table buckets the
# pair together. At corpus scale the within-bucket candidate space is
# O(n²/2^B) per table; B=16 makes collisions meaningful, T=4 recovers
# recall. Hyperplane components are md5-derived Rademacher ±1 — the same
# deterministic construction is computed by hashlib (Spark side, numpy
# matmul inside mapInPandas) and by md5() (DuckDB oracle).
_ANN_TABLES = 4
_ANN_BITS = 16


@functools.cache
def _ann_planes(dim: int):
    """(T·B, dim) float64 ±1 matrix; pure function of (t, b, k)."""
    import hashlib

    import numpy as np

    R = np.empty((_ANN_TABLES * _ANN_BITS, dim), dtype=np.float64)
    for t in range(_ANN_TABLES):
        for b in range(_ANN_BITS):
            for k in range(dim):
                h = hashlib.md5(f"p:{t}:{b}:{k}".encode()).hexdigest()
                R[t * _ANN_BITS + b, k] = 1.0 if int(h[0], 16) < 8 else -1.0
    return R


def _embedding_buckets(spark: SparkSession, sf_dir: str,
                       emb: DataFrame | None = None) -> DataFrame:
    """(vec_id, tbl, bucket): one 16-bit sign bucket per vector per table.
    The projections run as one numpy matmul per Arrow batch (vectorized
    mapInPandas — the Python crossing is amortized over the batch).
    `emb` overrides the indexed vector set (vec_id, e array<double>)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    if emb is None:
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["e"].to_numpy())              # (n, dim)
            S = E @ _ann_planes(E.shape[1]).T              # (n, T*B)
            bits = S >= 0.0
            rows = {"vec_id": [], "tbl": [], "bucket": []}
            for t in range(_ANN_TABLES):
                block = bits[:, t * _ANN_BITS : (t + 1) * _ANN_BITS]
                rows["vec_id"].extend(pdf["vec_id"])
                rows["tbl"].extend([t] * len(pdf))
                rows["bucket"].extend(
                    "".join("1" if x else "0" for x in row) for row in block
                )
            yield pd.DataFrame(rows)

    return emb.mapInPandas(run, "vec_id long, tbl int, bucket string")


def _ann_buckets_sql(src: str = "(SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)") -> str:
    """Bucket SQL over any (vec_id, e DOUBLE[]) relation `src`."""
    return f"""
      SELECT vec_id, t AS tbl,
             string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bucket
      FROM (
        SELECT ex.vec_id, g.t, g.b, sum(ex.v * g.r) AS s
        FROM (
          SELECT vec_id, u.k, e[u.k + 1] AS v
          FROM {src} AS src_e,
               LATERAL UNNEST(generate_series(0, len(e) - 1)) AS u(k)
        ) ex
        JOIN (
          SELECT tt.t, bb.b, kk.k,
                 CASE WHEN substring(md5('p:' || tt.t || ':' || bb.b || ':' || kk.k), 1, 1)
                      IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END AS r
          FROM UNNEST(generate_series(0, {_ANN_TABLES - 1})) AS tt(t),
               UNNEST(generate_series(0, {_ANN_BITS - 1})) AS bb(b),
               UNNEST(generate_series(0, (SELECT len(e) - 1 FROM {src} AS src_d LIMIT 1))) AS kk(k)
        ) g ON ex.k = g.k
        GROUP BY ex.vec_id, g.t, g.b
      ) GROUP BY vec_id, t
    """


def q_embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy histogram of the multi-table sign-LSH index —
    the operational view of ANN index balance (hot buckets = candidate
    blowup; see BENCH notes on the distribution at sf0.1)."""
    return (
        _embedding_buckets(spark, sf_dir)
        .groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


SQL_EMBEDDING_LSH_BUCKETS = f"""
    WITH buckets AS ({_ann_buckets_sql()})
    SELECT tbl, bucket, count(*) AS n_vecs FROM buckets GROUP BY tbl, bucket
"""


# ------------------------------------------- connected components (CC oracle)

def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic small graph over supplier keys: chains of 5 plus
    sparse cross-links — exercises chains AND merged components."""
    sup = load(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    e1 = sup.filter((F.col("k") % 5 != 0)).select(
        F.col("k").alias("src"), (F.col("k") + 1).alias("dst")
    )
    e2 = sup.filter((F.col("k") % 10 == 3)).select(
        F.col("k").alias("src"), (F.col("k") + 10).alias("dst")
    )
    nodes = sup.select(F.col("k").alias("n"))
    return (
        e1.union(e2)
        .join(nodes, F.col("dst") == F.col("n"), "inner")  # keep edges inside the node set
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's DataFrame-fixpoint CC vs a recursive-CTE oracle."""
    from .linking.components import connected_components

    edges = _cc_edges(spark, sf_dir)
    sup = load(spark, sf_dir, "supplier").select(F.col("s_suppkey").cast("long").alias("node"))
    comp = connected_components(edges)
    return (
        sup.join(comp, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


SQL_CONNECTED_COMPONENTS = """
    WITH nodes AS (SELECT s_suppkey AS k FROM supplier),
    e0 AS (
      SELECT k AS src, k + 1 AS dst FROM nodes WHERE k % 5 <> 0
      UNION ALL
      SELECT k AS src, k + 10 AS dst FROM nodes WHERE k % 10 = 3
    ),
    edges AS (
      SELECT src, dst FROM e0 WHERE dst IN (SELECT k FROM nodes)
      UNION
      SELECT dst AS src, src AS dst FROM e0 WHERE dst IN (SELECT k FROM nodes)
    ),
    reach AS (
      SELECT k AS a, k AS b FROM nodes
      UNION
      SELECT r.a, e.dst AS b
      FROM reach r JOIN edges e ON r.b = e.src
    )
    SELECT CAST(a AS BIGINT) AS node, CAST(min(b) AS BIGINT) AS component
    FROM reach GROUP BY a
"""
SQL_CONNECTED_COMPONENTS = "WITH RECURSIVE " + SQL_CONNECTED_COMPONENTS.lstrip()[len("WITH "):]


# ------------------------------------------------ PageRank (hash-checked)

_PR_ITERS = 8
_PR_DAMPING = 0.85


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's DataFrame power-iteration PageRank
    (linking/pagerank.py — per iteration one join + one aggregation,
    dangling mass folded in as a broadcast 1-row aggregate) on the
    deterministic supplier graph, DIRECTED so dangling nodes exist and
    the redistribution term is exercised. Oracle: the identical fixed
    {_PR_ITERS}-iteration power method unrolled as one SQL CTE chain
    (each iteration referenced exactly once — DuckDB inlines CTEs, so a
    twice-referenced iteration would expand exponentially; the total
    inflow therefore comes from a window aggregate, not a second
    scalar-subquery scan). Ranks rounded at 1e-6."""
    from .linking.pagerank import pagerank

    edges = _cc_edges(spark, sf_dir)  # directed: dangling nodes exist
    pr = pagerank(edges, damping=_PR_DAMPING, n_iter=_PR_ITERS)
    return pr.select(
        F.col("node").cast("long").alias("node"),
        (F.floor(F.col("rank") * 1e6 + 0.5) / 1e6).alias("rank"),
    )


def _pagerank_sql() -> str:
    d = _PR_DAMPING
    ctes = [
        """pr_edges AS (
      SELECT src, dst FROM (
        SELECT k AS src, k + 1 AS dst FROM (SELECT s_suppkey AS k FROM supplier) WHERE k % 5 <> 0
        UNION ALL
        SELECT k, k + 10 FROM (SELECT s_suppkey AS k FROM supplier) WHERE k % 10 = 3
      ) WHERE dst IN (SELECT s_suppkey FROM supplier)
    )""",
        "nodes AS (SELECT src AS node FROM pr_edges UNION SELECT dst FROM pr_edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        ("ew AS (SELECT e.src, e.dst, 1.0/d.deg AS w FROM pr_edges e "
         "JOIN (SELECT src, count(*) AS deg FROM pr_edges GROUP BY src) d ON d.src = e.src)"),
        "pr0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(_PR_ITERS):
        ctes.append(
            f"pr{i + 1} AS (SELECT n.node, (1 - {d})/(SELECT n FROM nn) + {d} * "
            f"(coalesce(i.inflow, 0) + (1 - coalesce(sum(i.inflow) OVER (), 0))"
            f"/(SELECT n FROM nn)) AS rank "
            f"FROM nodes n LEFT JOIN (SELECT e.dst AS node, sum(p.rank * e.w) AS inflow "
            f"FROM ew e JOIN pr{i} p ON p.node = e.src GROUP BY e.dst) i ON i.node = n.node)"
        )
    body = ",\n    ".join(ctes)
    return (f"WITH {body}\n    SELECT CAST(node AS BIGINT) AS node, "
            f"floor(rank * 1e6 + 0.5) / 1e6 AS rank FROM pr{_PR_ITERS}")


SQL_GRAPH_PAGERANK = _pagerank_sql()


# ----------------------------- M12: Word2Vec embedding training (rows-only)

def q_word2vec_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 (wod2vec_embedding.py:27-47): Word2Vec trained at scale with
    pyspark.ml (seeded, 1 partition for determinism at this size).
    Rows-only driver check (SGD training is not ANSI-SQL-expressible)."""
    from pyspark.ml.feature import Word2Vec

    docs = load(spark, sf_dir, "documents").select(
        F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("tokens")
    )
    w2v = Word2Vec(
        vectorSize=32, minCount=2, seed=42, numPartitions=1,
        inputCol="tokens", outputCol="vec",
    )
    model = w2v.fit(docs)
    return model.getVectors().select("word", F.col("vector").cast("string").alias("vector"))


# ------------------------------- multimodal feature extraction (rows-only)

def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → deterministic features via mapInPandas
    (codec step stubbed — operators/multimodal.py). The contract query
    serializes the feature array to a sortable scalar (the driver's row
    canonicalization cannot sort list cells); internal callers use
    extract_features directly and keep the array<float> column."""
    from .operators.multimodal import extract_features, synthesize_media

    feats = extract_features(synthesize_media(spark, n=120))
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_number(x, 4))
        ).alias("features_csv"),
    )


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked slice of the multimodal path: the synthesized binary
    media table's typed metadata + payload byte length, through the real
    mapInPandas generation and binary column (operators/multimodal.py).
    Every value is a pure function of media_id, so the DuckDB oracle
    regenerates the table from generate_series — the binary-column
    plumbing gets a value-level check while the (stubbed-codec) feature
    extraction stays rows-only in media_features."""
    from .operators.multimodal import synthesize_media

    m = synthesize_media(spark, n=120)
    return m.select(
        "media_id", "kind",
        F.length("payload").cast("long").alias("n_bytes"),
        F.col("meta.fmt").alias("fmt"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
    )


SQL_MEDIA_METADATA = """
    SELECT mid AS media_id,
           CASE mid % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(32 * (4 + mid % 5) AS BIGINT) AS n_bytes,
           CASE mid % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS fmt,
           CASE WHEN mid % 3 <> 1 THEN CAST(64 * (1 + mid % 4) AS INT) END AS width,
           CASE WHEN mid % 3 <> 1 THEN CAST(64 * (1 + mid % 3) AS INT) END AS height,
           CASE WHEN mid % 3 = 1 THEN CAST(16000 AS INT) END AS sample_rate
    FROM UNNEST(generate_series(0, 119)) AS t(mid)
"""


# ----------------------- DNRTI reference-corpus evaluation (rows-only)

_EVAL_SCHEMA = ("accuracy double, n_tokens long, weighted_f1 double, "
                "precision double, recall double, f1 double")


def _corpus_eval(spark: SparkSession, corpus: str, map_to_cti: bool) -> DataFrame:
    """Tag a reference corpus's test split with the TRAINED perceptron-CRF
    (kernel/perceptron.py; fitted on train+valid, cached npz artifact) and
    report the reference's eval metrics (model_evaluation.py:50-112
    semantics): token accuracy, weighted F1, span-exact P/R/F1."""
    from .operators import conll
    from .training import CORPORA, corpus_available, trained_weights

    if not corpus_available(corpus):
        return local_frame(spark, _EVAL_SCHEMA)
    from .tagging import tag_token_frames

    weights, lex, ls = trained_weights(spark, corpus)
    test = conll.read_conll(spark, CORPORA[corpus]["path"] + "/test.txt")
    sc = spark.sparkContext
    pred = tag_token_frames(
        test.select("doc_id", "sent_id", "tokens"),
        sc.broadcast(weights), sc.broadcast(lex), label_space=ls,
    )
    gold = test
    if map_to_cti:
        pred = conll.map_dnrti_tags(pred)
        gold = conll.map_dnrti_tags(gold)
    pred = pred.cache()
    gold = gold.cache()
    m = conll.evaluate_tags(pred, gold)
    prf = conll.span_prf(conll.extract_span_rows(pred), conll.extract_span_rows(gold))
    return m.crossJoin(prf.select("precision", "recall", "f1"))


def q_dnrti_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DNRTI test-split eval of the trained CRF (full 13-type tagset at
    train/decode time, predictions+gold mapped onto the CTI classes)."""
    return _corpus_eval(spark, "dnrti", map_to_cti=True)


def q_malwaredb_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MalwareDB (the reference's active corpus, arguments.py:39) test
    eval of the trained CRF over Action/Entity/Modifier."""
    return _corpus_eval(spark, "malwaredb", map_to_cti=False)


# -------------------------- embedding-cosine near-duplicate detection

def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via the multi-table sign-LSH index:
    candidates = pairs sharing a bucket in ANY of the T tables (distinct
    across tables), re-scored with exact double-precision cosine,
    threshold 0.45. The 100 TB path: candidate generation is T bucket
    equi-joins — the O(n²) pair space never materializes, and the T·B
    index bounds per-bucket candidate count at O(n²/2^B) per table."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    buckets = _embedding_buckets(spark, sf_dir)
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"),
              (F.col("x.tbl") == F.col("y.tbl"))
              & (F.col("x.bucket") == F.col("y.bucket"))
              & (F.col("x.vec_id") < F.col("y.vec_id")))
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    return (
        cand.join(a, "vec_a").join(b, "vec_b")
        .select(
            "vec_a", "vec_b",
            _cosine(F.col("ea"), F.col("eb")).alias("sim"),
        )
        .filter(F.col("sim") >= 0.45)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("sim"))
    )


SQL_EMBEDDING_NEARDUP = f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    buckets AS ({_ann_buckets_sql()}),
    cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM buckets x JOIN buckets y
        ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS sim
    FROM cand JOIN emb a ON a.vec_id = cand.vec_a JOIN emb b ON b.vec_id = cand.vec_b
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.45
"""


def _with_planted(emb: DataFrame) -> DataFrame:
    """Union the corpus with 20 deterministic near-duplicates: vectors
    0..19 re-emitted as vec_id+1e6 with every component shifted by
    0.02·e[0] (a tiny direction change, cos ≥ 0.998 regardless of the
    embedding scale). The synthetic corpus has NO true near-dups (max
    pairwise cos 0.51), which made the honest-threshold detector
    vacuously green at 0 rows — the planted pairs exercise the full
    bucket→candidate→rescore path non-vacuously, with the identical
    arithmetic on both engines."""
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("e", lambda x: x + 0.02 * F.element_at("e", 1)).alias("e"),
    )
    return emb.unionByName(planted)


_PLANTED_SRC = """(
      SELECT vec_id, e FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
      UNION ALL
      SELECT vec_id + 1000000, list_transform(e, x -> x + 0.02 * e[1])
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) WHERE vec_id < 20
    )"""


def q_embedding_neardup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_neardup with planted near-duplicates at threshold 0.9 —
    the detector-path evidence query (rows > 0 by construction). Same
    index, same candidate join, same exact-cosine rescore as
    q_embedding_neardup."""
    emb = _with_planted(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    buckets = _embedding_buckets(spark, sf_dir, emb=emb)
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"),
              (F.col("x.tbl") == F.col("y.tbl"))
              & (F.col("x.bucket") == F.col("y.bucket"))
              & (F.col("x.vec_id") < F.col("y.vec_id")))
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    return (
        cand.join(a, "vec_a").join(b, "vec_b")
        .select("vec_a", "vec_b", _cosine(F.col("ea"), F.col("eb")).alias("sim"))
        .filter(F.col("sim") >= 0.9)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("sim"))
    )


SQL_EMBEDDING_NEARDUP_PLANTED = f"""
    WITH emb AS (SELECT vec_id, e FROM {_PLANTED_SRC}),
    buckets AS ({_ann_buckets_sql(_PLANTED_SRC)}),
    cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM buckets x JOIN buckets y
        ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS sim
    FROM cand JOIN emb a ON a.vec_id = cand.vec_a JOIN emb b ON b.vec_id = cand.vec_b
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.9
"""


# ------------------------------------------------ IVF similarity search

_IVF_NPROBE = 4  # cells probed per query
_IVF_TOPK = 5
_IVF_ITERS = 3   # Lloyd iterations of the coarse-quantizer fit; grows
#                  with corpus size in a real deployment (config knob —
#                  the SQL oracle unrolls however many this says)
_IVF_C_MIN = 8   # floor on coarse cells for tiny corpora


def _ivf_c(n: int) -> int:
    """Coarse-cell count C = max(_IVF_C_MIN, round(sqrt(n))) — the
    standard IVF sizing rule (posting lists stay O(sqrt(n)), so probe
    cost is O(nprobe·sqrt(n)) instead of O(n)). Mirrored exactly by the
    cfg CTE in _ivf_sql so both engines derive the same C from the
    data; floor(sqrt+0.5) is the tie-stable rounding both share."""
    import math

    return max(_IVF_C_MIN, int(math.floor(math.sqrt(n) + 0.5)))

_COS = """(list_dot_product({a}, {b})
           / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"""


def _fold_dot(E, C):
    """Exact replica of _dot's left fold (((0+x0)+x1)+...) for every
    (row of E) × (row of C) pair, vectorized: one fused multiply/add
    sweep per dimension k in ascending order reproduces the identical
    IEEE operation sequence per element, so the doubles are
    bit-identical to the Spark/DuckDB fold — NOT a BLAS matmul, whose
    blocked summation order would drift in the last ulps and could
    flip argmax ties."""
    import numpy as np

    acc = np.zeros((E.shape[0], C.shape[0]), dtype=np.float64)
    for k in range(E.shape[1]):
        acc += E[:, k, None] * C[None, :, k]
    return acc


def _fold_norm(vec) -> float:
    """_norm's fold (sum of squares left-to-right, then sqrt) on one
    python list — bit-identical to the Spark column expression."""
    import math

    s = 0.0
    for x in vec:
        s += x * x
    return math.sqrt(s)


def _ivf_assign(emb: DataFrame, cents: list) -> DataFrame:
    """(vec_id, cent_id, e, ne): nearest cell by cosine, tie → lowest
    cent_id. `cents` is the driver-side [(cent_id, vector), ...] list
    (C×dim doubles — the same payload the Lloyd loop already holds).

    r6: the per-pair cosine runs as a numpy kernel inside mapInPandas
    (guide §4.2) instead of interpreted zip_with/aggregate lambdas —
    the O(n·C·dim) fold was the dominant cost of the whole IVF query
    (interpreted higher-order functions get no codegen). Arithmetic is
    a bit-exact replica of the column-expression version (_fold_dot /
    _fold_norm docstrings), and np.argmax's first-max tie-break equals
    the old max_by(struct(s, -cent_id)) pick, so assignments — and
    therefore centroids, posting lists and the oracle hash — are
    unchanged. The Python crossing ships only (vec_id, e, ne), which
    the similarity math needs anyway; no broadcast join, no argmax
    aggregation — the map is pipelined with no exchange at all."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cents = sorted(cents)  # ascending cent_id → argmax tie = lowest id
    cent_ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([list(c) for _, c in cents], dtype=np.float64)
    nc = np.array([_fold_norm(c) for _, c in cents], dtype=np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["e"]])
            ne = pdf["ne"].to_numpy(dtype=np.float64)
            S = _fold_dot(E, C) / (ne[:, None] * nc[None, :])
            best = np.argmax(S, axis=1)
            out = pdf[["vec_id", "e", "ne"]].copy()
            out.insert(1, "cent_id", cent_ids[best])
            yield out

    return emb.select("vec_id", "e", "ne").mapInPandas(
        run, "vec_id long, cent_id long, e array<double>, ne double"
    )


@corpus_cached
def _ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One cached (vec_id, e, ne) scan per corpus (corpus_cached), shared
    by the Lloyd fit's per-iteration reads AND the final search."""
    e = F.col("embedding").cast("array<double>")
    return (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id", e.alias("e"),
            # vector norm computed ONCE per corpus here, not per pair in
            # the O(n·C) assign: higher-order-function lambdas run
            # interpreted, so redundant per-pair norm folds dominated
            # the fit stage
            _norm(e).alias("ne"),
        )
        # small-file parquet arrives as one partition; the per-pair
        # similarity math must spread across cores (at real scale the
        # scan is many-partition already — this is the local analog).
        # defaultParallelism//2, NOT full: the numpy assign batches
        # ~n/partitions vectors per task, and at bench scale full
        # parallelism leaves batches too small to amortize the Python
        # crossing (measured r6: 2.9s at 16 partitions vs 3.3s at 32)
        .repartition(max(4, spark.sparkContext.defaultParallelism // 2), "vec_id")
        .persist()
    )


def _ivf_fit_centroids(spark: SparkSession, emb: DataFrame, c: int) -> list:
    """Deterministic distributed Lloyd fit of the coarse quantizer:
    init = the C lowest-vec_id vectors (a fixed seed, so both engines
    start identically), then {_IVF_ITERS} iterations of {assign each
    vector to its nearest centroid (numpy kernel, _ivf_assign);
    recompute each cell's element-wise mean with a map-side-combining
    groupBy}. Per iteration only the C×dim aggregated means come back
    to the driver (the same shape pyspark.ml's KMeans uses: centroids
    live on the driver, assignment and the update aggregation are
    distributed). Means are rounded to 1e-6 so the DuckDB oracle —
    whose aggregation order differs — reproduces the centroids
    bit-for-bit. Empty cells keep their previous centroid. emb is the
    corpus_cached scan (_ivf_embeddings) — the fit's per-iteration
    reads and the final search share one persisted copy. Returns the
    fitted [(cent_id, vector), ...] list (centroids are driver-side
    state throughout; callers build whatever table/closure they need)."""
    prev = {int(r["vec_id"]): list(r["e"])
            for r in emb.filter(F.col("vec_id") < c)
                        .select("vec_id", "e").collect()}
    for _ in range(_IVF_ITERS):
        partials = _ivf_update_partials(emb, list(prev.items()))
        upd = (
            partials.groupBy("cent_id", "pos")
            .agg((F.floor(F.sum("s") / F.sum("n") * 1e6 + 0.5) / 1e6).alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c")
            )
        )
        new_c = {r["cent_id"]: list(r["c"]) for r in upd.collect()}
        prev = {cid: new_c.get(cid, prev[cid]) for cid in sorted(prev)}
    return sorted(prev.items())


def _ivf_update_partials(emb: DataFrame, cents: list) -> DataFrame:
    """One fused map stage per Lloyd iteration: nearest-centroid assign
    (same numpy kernel as _ivf_assign) + PER-PARTITION partial sums of
    the assigned vectors — (cent_id, pos, s=Σv, n=count) for occupied
    cells only. The groupBy upstream in _ivf_fit_centroids then merges
    ≤C×dim×partitions tiny rows into C×dim cells: exactly the partial/
    final split Spark's avg() performs, minus the posexplode of every
    vector element through an exchange (guide §2.3 — aggregate before
    you shuffle). Element arithmetic: np.add.at accumulates rows in
    partition order, the same per-cell addition sequence the hash-agg
    partial saw, and the mean Σs/Σn is rounded at 1e-6 like before, so
    the fitted centroids are unchanged (oracle-verified at 3 SFs)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cents = sorted(cents)
    cent_ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([list(c) for _, c in cents], dtype=np.float64)
    nc = np.array([_fold_norm(c) for _, c in cents], dtype=np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        S = np.zeros_like(C)
        N = np.zeros(len(cents), dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["e"]])
            ne = pdf["ne"].to_numpy(dtype=np.float64)
            sims = _fold_dot(E, C) / (ne[:, None] * nc[None, :])
            best = np.argmax(sims, axis=1)
            np.add.at(S, best, E)
            np.add.at(N, best, 1)
        occ = np.nonzero(N)[0]
        if len(occ):
            dim = C.shape[1]
            yield pd.DataFrame({
                "cent_id": np.repeat(cent_ids[occ], dim),
                "pos": np.tile(np.arange(dim, dtype=np.int32), len(occ)),
                "s": S[occ].ravel(),
                "n": np.repeat(N[occ], dim),
            })

    return emb.select("vec_id", "e", "ne").mapInPandas(
        run, "cent_id long, pos int, s double, n long"
    )


def q_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse quantizer fitted with deterministic distributed
    Lloyd/KMeans (_ivf_fit_centroids — broadcast centroids, distributed
    assign + map-side-combined mean update) → every vector assigned to
    its nearest cell (one narrow map over a broadcast centroid table)
    → each query probes its NPROBE nearest cells and scores exact cosine
    ONLY against vectors in those cells → top-k. The inverted-file
    structure bounds per-query work at nprobe/C of the corpus; the
    posting-list join partitions by cell id. The DuckDB oracle unrolls
    the identical fixed-iteration fit, so centroids — and therefore
    posting lists and results — match exactly."""
    import pandas as pd

    emb = _ivf_embeddings(spark, sf_dir)
    c = _ivf_c(emb.count())
    cents = _ivf_fit_centroids(spark, emb, c)
    cent = local_frame(
        spark, "cent_id long, c array<double>",
        pd.DataFrame(cents, columns=["cent_id", "c"]),
    ).withColumn("nc", _norm(F.col("c")))
    assign = _ivf_assign(emb, cents)
    queries = emb.filter(
        (F.col("vec_id") >= c) & (F.col("vec_id") < c + 4)
    ).select(F.col("vec_id").alias("query_id"), F.col("e").alias("q"),
             F.col("ne").alias("nq"))
    sim_qc = _dot(F.col("q"), F.col("c")) / (F.col("nq") * F.col("nc"))
    w_q = W.partitionBy("query_id").orderBy(F.desc("s"), F.asc("cent_id"))
    probes = (
        queries.join(F.broadcast(cent))
        .select("query_id", "cent_id", "nq", sim_qc.alias("s"))
        .withColumn("rk", F.row_number().over(w_q))
        .filter(F.col("rk") <= _IVF_NPROBE)
        .select("query_id", "cent_id", "nq")
    )
    cand = (
        F.broadcast(probes).join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "e", "ne", "nq")
    )
    sim_qe = _dot(F.col("q"), F.col("e")) / (F.col("nq") * F.col("ne"))
    w_top = W.partitionBy("query_id").orderBy(F.desc("sim_raw"), F.asc("vec_id"))
    return (
        cand.join(F.broadcast(queries.select("query_id", "q")), "query_id")
        .select("query_id", "vec_id", sim_qe.alias("sim_raw"))
        .withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "vec_id", F.round("sim_raw", 4).alias("sim"),
                F.col("rank").cast("long").alias("rank"))
    )


def _ivf_sql() -> str:
    """Unrolled fixed-iteration Lloyd fit + IVF search, mirroring
    q_embedding_ivf: cent0 = lowest-vec_id seeds; per iteration an
    assign CTE (argmax cosine over the cross join) and a cent CTE
    (element-wise mean per cell rounded at 1e-6, empty cells keep the
    previous centroid)."""
    ctes = [
        "emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        # C derived from the data exactly as _ivf_c does — the SQL text
        # stays static while C scales with the table
        f"cfg AS (SELECT greatest({_IVF_C_MIN}, "
        "CAST(floor(sqrt(count(*)) + 0.5) AS BIGINT)) AS nc FROM emb)",
        "cent0 AS (SELECT vec_id AS cent_id, e AS c FROM emb, cfg WHERE vec_id < cfg.nc)",
    ]
    for i in range(_IVF_ITERS):
        cos = _COS.format(a="emb.e", b=f"cent{i}.c")
        ctes.append(f"""a{i + 1} AS (
      SELECT vec_id, cent_id FROM (
        SELECT emb.vec_id, cent{i}.cent_id,
               row_number() OVER (PARTITION BY emb.vec_id
                                  ORDER BY {cos} DESC, cent{i}.cent_id) AS rk
        FROM emb CROSS JOIN cent{i}
      ) WHERE rk = 1
    )""")
        ctes.append(f"""cent{i + 1} AS (
      SELECT c0.cent_id, coalesce(u.c, c0.c) AS c
      FROM cent{i} c0 LEFT JOIN (
        SELECT cent_id, list(m ORDER BY k) AS c FROM (
          SELECT a.cent_id, u.k, floor(avg(e.e[u.k]) * 1e6 + 0.5) / 1e6 AS m
          FROM a{i + 1} a JOIN emb e ON e.vec_id = a.vec_id,
               LATERAL UNNEST(generate_series(1, len(e.e))) AS u(k)
          GROUP BY a.cent_id, u.k
        ) GROUP BY cent_id
      ) u ON u.cent_id = c0.cent_id
    )""")
    fit = ",\n    ".join(ctes)
    cf = f"cent{_IVF_ITERS}"
    return f"""
    WITH {fit},
    cent AS (SELECT cent_id, c FROM {cf}),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT emb.vec_id, cent.cent_id,
               row_number() OVER (PARTITION BY emb.vec_id
                                  ORDER BY {_COS.format(a="emb.e", b="cent.c")} DESC, cent.cent_id) AS rk
        FROM emb CROSS JOIN cent
      ) WHERE rk = 1
    ),
    queries AS (SELECT vec_id AS query_id, e AS q FROM emb, cfg
                WHERE vec_id >= cfg.nc AND vec_id < cfg.nc + 4),
    probes AS (
      SELECT query_id, cent_id FROM (
        SELECT q.query_id, cent.cent_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.q", b="cent.c")} DESC, cent.cent_id) AS rk
        FROM queries q CROSS JOIN cent
      ) WHERE rk <= {_IVF_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assign a ON a.cent_id = p.cent_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, round(sim_raw, 4) AS sim, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT c.query_id, c.vec_id,
             {_COS.format(a="q.q", b="e.e")} AS sim_raw,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY {_COS.format(a="q.q", b="e.e")} DESC, c.vec_id) AS rank
      FROM cand c JOIN queries q ON q.query_id = c.query_id
      JOIN emb e ON e.vec_id = c.vec_id
    ) WHERE rank <= {_IVF_TOPK}
"""


SQL_EMBEDDING_IVF = _ivf_sql()


# ---------------------- grouped-map applyInPandas (per-group model fit)

def q_per_source_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().applyInPandas — the grouped-map API surface: per-source
    z-score normalization of document lengths computed inside a pandas
    group function (population std), verified against the window-function
    oracle."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=0)
        z = (pdf["n_chars"] - mu) / sd if sd > 0 else pdf["n_chars"] * 0.0
        import numpy as np

        return pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "source": pdf["source"],
            "z": np.floor(z * 10000.0 + 0.5) / 10000.0,
        })

    return docs.groupBy("source").applyInPandas(zscore, "doc_id long, source string, z double")


SQL_PER_SOURCE_ZSCORE = """
    SELECT doc_id, source,
           floor(CASE WHEN stddev_pop(n_chars) OVER w > 0
                      THEN (n_chars - avg(n_chars) OVER w) / stddev_pop(n_chars) OVER w
                      ELSE 0.0 END * 10000.0 + 0.5) / 10000.0 AS z
    FROM documents
    WINDOW w AS (PARTITION BY source)
"""


# ----------------------------------------- deterministic stratified sample

def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic stratified sample — the reproducible
    training-data downsampling primitive: keep a document iff the first
    4 hex chars of md5(doc_id) fall under the per-source rate threshold.
    Pure hash math (no RNG state), so the sample is stable across runs,
    engines, and partitionings — resumable jobs re-derive the identical
    subset. Rates: web 25%, wiki 75%, everything else 50%."""
    docs = load(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    rate = (
        F.when(F.col("source") == "web", 0.25)
        .when(F.col("source") == "wiki", 0.75)
        .otherwise(0.50)
    )
    return (
        docs.withColumn("hv", h)
        .filter(F.col("hv") < rate * 65536)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


SQL_STRATIFIED_SAMPLE = """
    WITH hashed AS (
      SELECT source,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1)) - 1) * 4096 +
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),2,1)) - 1) * 256 +
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),3,1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),4,1)) - 1) AS hv
      FROM documents
    )
    SELECT source, count(*) AS n_sampled
    FROM hashed
    WHERE hv < (CASE source WHEN 'web' THEN 0.25 WHEN 'wiki' THEN 0.75 ELSE 0.50 END) * 65536
    GROUP BY source
"""


# -------------------------------------------- vocabulary coverage curve

def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size planning curve: rank corpus words by frequency
    and report, at vocab sizes 5/10/20/30 (the synthetic corpus has a
    31-word template vocabulary; at real scale these are 1e4/1e5-style
    cutoffs), what fraction of all token occurrences the top-k words
    cover — the standard input to choosing a tokenizer/UNK budget. One
    explode + one partial-agg + one window over the (vocabulary-sized)
    distinct-word table; the global-order window is single-task but
    runs over |vocab| rows, not the corpus."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", r"\s+")).alias("w")).filter(F.col("w") != "")
    freq = toks.groupBy(F.lower("w").alias("word")).agg(F.count(F.lit(1)).alias("n"))
    w = W.orderBy(F.desc("n"), F.asc("word"))
    ranked = freq.withColumn("rk", F.row_number().over(w)).withColumn(
        "cum", F.sum("n").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    total = ranked.agg(F.sum("n").alias("t"))
    return (
        ranked.filter(F.col("rk").isin(5, 10, 20, 30))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rk").cast("long").alias("vocab_size"),
            (F.floor(F.col("cum") / F.col("t") * 1e6 + 0.5) / 1e6).alias("coverage"),
        )
    )


SQL_VOCAB_COVERAGE = """
    WITH toks AS (
      SELECT lower(t.w) AS word FROM (
        SELECT string_split_regex(text, '\\s+') AS ws FROM documents
      ), LATERAL (SELECT UNNEST(ws) AS w) t WHERE t.w <> ''
    ),
    freq AS (SELECT word, count(*) AS n FROM toks GROUP BY word),
    ranked AS (
      SELECT word, n,
             row_number() OVER (ORDER BY n DESC, word) AS rk,
             sum(n) OVER (ORDER BY n DESC, word
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM freq
    )
    SELECT CAST(rk AS BIGINT) AS vocab_size,
           floor(cum * 1.0 / (SELECT sum(n) FROM freq) * 1e6 + 0.5) / 1e6 AS coverage
    FROM ranked WHERE rk IN (5, 10, 20, 30)
"""


# -------------------------------------------------- data-quality audit

def q_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style audit over the corpus-feed table: per-rule
    violation counts in ONE pass (conditional aggregation — no per-rule
    scans). The pattern a 100 TB ingest gate runs before training-data
    jobs consume a drop."""
    docs = load(spark, sf_dir, "documents")
    rules = {
        "null_text": F.col("text").isNull(),
        "empty_text": F.col("text").isNotNull() & (F.length("text") == 0),
        "bad_lang": ~F.col("lang").isin("en", "de", "fr", "es", "zh"),
        "n_chars_mismatch": F.col("n_chars") != F.length("text"),
        "negative_id": F.col("doc_id") < 0,
        "dup_doc_id": F.lit(False),  # checked separately below
    }
    audit = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(cond.cast("long")).alias(name) for name, cond in rules.items() if name != "dup_doc_id"],
    )
    dups = load(spark, sf_dir, "documents").groupBy("doc_id").count().filter("count > 1").count()
    out = audit.withColumn("dup_doc_id", F.lit(dups).cast("long"))
    # long format: (rule, violations)
    names = ["null_text", "empty_text", "bad_lang", "n_chars_mismatch", "negative_id", "dup_doc_id"]
    stack = ", ".join(f"'{n}', {n}" for n in names)
    return out.selectExpr("n_rows", f"stack({len(names)}, {stack}) as (rule, violations)")


SQL_DATA_QUALITY_AUDIT = """
    WITH audit AS (
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
             CAST(sum(CASE WHEN text IS NOT NULL AND length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
             CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS BIGINT) AS bad_lang,
             CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_mismatch,
             CAST(sum(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_id
      FROM documents
    ),
    dups AS (
      SELECT count(*) AS dup_doc_id FROM (
        SELECT doc_id FROM documents GROUP BY doc_id HAVING count(*) > 1)
    )
    SELECT n_rows, t.rule, t.violations
    FROM audit, dups,
    LATERAL (VALUES ('null_text', null_text), ('empty_text', empty_text),
                    ('bad_lang', bad_lang), ('n_chars_mismatch', n_chars_mismatch),
                    ('negative_id', negative_id), ('dup_doc_id', dup_doc_id)) t(rule, violations)
"""
