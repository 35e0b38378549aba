"""MinHash-LSH candidate blocking for entity linking (J6 analog).

The reference's similar-word top-k join (security_augmentation.py:25-56)
becomes, at KG scale, candidate-pair generation over mention surfaces:
distinct normalized surfaces → character n-gram shingles → MinHash
signatures → band-bucket join. Only candidates sharing a band bucket are
scored — the O(n²) pair space never materializes.

Implementations:
- `candidate_pairs_sql`: pure DataFrame minhash banding (md5-based,
  engine-portable — the same algorithm the DuckDB oracle can run).
- `candidate_pairs_local`: its driver twin for a collected vocabulary.
  It shares the md5 family string for string — minhash i = min over
  md5('h{i}:' + shingle), band key = md5('band{b}|' + the band's
  minhashes joined by '|'), shingles from '^' + norm + '$' — so on the
  same normalized surfaces it returns the same pairs. The pipeline runs
  it below the driver gate in `pipeline.link_entities`.
All restrict pairs to equal etype and re-score with exact Jaccard.
"""

from __future__ import annotations

from hashlib import md5

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_HASHES = 12
BAND_SIZE = 2  # 6 bands × 2 rows

# Fuzzy similarity linking applies to named entities only. Indicators and
# CVE ids are identities — 'CVE-2014-1111' and 'CVE-2014-1112' are
# different vulnerabilities however similar their strings — so they link
# strictly by exact normalized equality.
FUZZY_ETYPES = ("threat-actor", "malware", "tool", "attack-pattern")


def normalize_surface(col):
    """lowercase, strip separators — 'APT 28'/'APT-28'/'apt28' all meet."""
    return F.regexp_replace(F.lower(col), r"[\s\-_\.]+", "")


def surface_shingles(df: DataFrame, text_col: str = "norm", n: int = 3) -> DataFrame:
    """Distinct char n-grams per surface, over '^text$' padding."""
    padded = F.concat(F.lit("^"), F.col(text_col), F.lit("$"))
    idx = F.sequence(F.lit(0), F.greatest(F.length(padded) - n, F.lit(0)))
    return df.withColumn(
        "shingles",
        F.array_distinct(F.transform(idx, lambda i: padded.substr(i + F.lit(1), F.lit(n)))),
    )


def candidate_pairs_sql(
    surfaces: DataFrame,
    sim_threshold: float = 0.5,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """surfaces(etype, surface) → pairs (etype, surface_a, surface_b, jaccard).

    Plan shape at scale — exactly THREE shuffles: the minhash groupBy,
    the band-bucket self-join (short md5-derived keys → high bucket
    cardinality, low skew), and the final pair dedup. The shingle SET is
    carried through the minhash aggregation (collect_set alongside the
    12 mins), so the exact-Jaccard re-score reads arrays both join sides
    already carry — no re-join against the shingle table, and no
    defensive distinct()s: exact-duplicate input surfaces collapse at
    the groupBy, and pairs meeting in several buckets collapse at the
    final dedup (their per-row jaccard is identical by construction).

    Row-width tradeoff of the carried shingle sets: the band explode
    replicates each surface's full shingle array 6× into the self-join
    shuffle on both sides. For the short normalized surfaces this
    engine links (entity names, tens of chars → tens of 3-gram
    shingles) that is a few hundred bytes per row and strictly cheaper
    than the re-join it replaced; if the input ever carries long
    surfaces (sentence-scale strings), cap or size-check the arrays
    before re-enabling the carry.

    Minhash = min over md5(seed‖shingle) hex strings — a portable family
    (expressible in ANSI SQL for the oracle). Computed via explode +
    groupBy-min with REGULAR expressions: the tempting one-liner
    `array_min(transform(shingles, s -> md5(...)))` miscompiles under
    Spark 4.1 whole-stage codegen when several such lambdas share a
    select (lambda-variable binding is plan-dependent — observed
    returning different minhashes for identical input across
    otherwise-identical runs).
    """
    base = (
        surfaces.select("etype", "surface")
        .filter(F.col("etype").isin(*FUZZY_ETYPES))
        .withColumn("norm", normalize_surface(F.col("surface")))
    )
    sh = surface_shingles(base).select("etype", "surface", "shingles")
    exploded = sh.select("etype", "surface", F.explode("shingles").alias("s"))
    mh = exploded.groupBy("etype", "surface").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"h{i}:"), F.col("s")))).alias(f"mh{i}")
            for i in range(n_hashes)
        ],
        F.collect_set("s").alias("shingles"),
    )
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.md5(F.concat_ws("|", F.lit(f"band{b}"),
                              *[F.col(f"mh{b * band_size + r}") for r in range(band_size)]))
            for b in range(n_bands)
        ]
    )
    bucketed = mh.select("etype", "surface", "shingles", F.explode(bands).alias("bucket"))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.etype") == F.col("b.etype"))
            & (F.col("a.surface") < F.col("b.surface")),
        )
        .select(
            F.col("a.etype").alias("etype"),
            F.col("a.surface").alias("surface_a"),
            F.col("b.surface").alias("surface_b"),
            (
                F.size(F.array_intersect("a.shingles", "b.shingles"))
                / F.size(F.array_union("a.shingles", "b.shingles"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= sim_threshold)
        .dropDuplicates(["etype", "surface_a", "surface_b"])
        .select("etype", "surface_a", "surface_b", F.round("jaccard", 6).alias("jaccard"))
    )


def shingle_set(norm: str, n: int = 3) -> frozenset[str]:
    """Driver twin of `surface_shingles`: distinct char n-grams of
    '^norm$' (a norm shorter than n - 2 gives the one short shingle)."""
    padded = f"^{norm}$"
    return frozenset(padded[i:i + n] for i in range(max(len(padded) - n, 0) + 1))


def candidate_pairs_local(
    keys: list[tuple[str, str]],
    sim_threshold: float = 0.5,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
) -> list[tuple[int, int]]:
    """Driver twin of `candidate_pairs_sql` over distinct (etype, norm)
    keys, norm as `normalize_surface` computed it → index pairs (i, j),
    i < j: same etype, sharing a band bucket, exact Jaccard of their
    shingle sets >= sim_threshold.

    Surfaces with equal norm have equal shingles, so keying by norm
    instead of by surface loses no pair the SQL path would link: those
    pairs already share a node id. Each distinct shingle is hashed once;
    driver memory stays O(vocabulary + linked pairs)."""
    memo: dict[str, tuple[str, ...]] = {}

    def hashes(s: str) -> tuple[str, ...]:
        h = memo.get(s)
        if h is None:
            h = memo[s] = tuple(md5(f"h{i}:{s}".encode()).hexdigest()
                                for i in range(n_hashes))
        return h

    sets = [shingle_set(norm) for _etype, norm in keys]
    buckets: dict[tuple[str, str], list[int]] = {}
    for idx, ((etype, _norm), sh) in enumerate(zip(keys, sets)):
        mins = [min(col) for col in zip(*map(hashes, sh))]
        for b in range(n_hashes // band_size):
            band = "|".join([f"band{b}", *mins[b * band_size:(b + 1) * band_size]])
            buckets.setdefault((etype, md5(band.encode()).hexdigest()), []).append(idx)
    # a pair sharing several buckets is scored once per bucket; only the
    # pairs that pass are kept, so no candidate set is ever materialized
    pairs = set()
    for members in buckets.values():
        for x, i in enumerate(members):
            si = sets[i]
            for j in members[x + 1:]:
                inter = len(si & sets[j])
                if inter / (len(si) + len(sets[j]) - inter) >= sim_threshold:
                    pairs.add((i, j))
    return sorted(pairs)
