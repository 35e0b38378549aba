"""W1 sentencization — pure relational, no Python in the hot path.

The reference assembles sentences from contiguous non-blank lines
(data_utils.py:48-82). Over a corpus of file contents the same semantics
are: split on newline → posexplode → whitespace tokenize → drop blank
lines. Catalyst keeps this entirely JVM-side, and the sha256 invariant
column (input_hint) is computed once at scan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# one `\s+` split per line; array_remove drops the empty pieces a
# leading or trailing whitespace run leaves
_LINE_TOKENS = (
    r"posexplode(transform(split(content, '\\r\\n|\\r|\\n'),"
    r" l -> array_remove(split(l, '\\s+'), ''))) AS (sent_id, tokens)"
)


def with_sha256(corpus: DataFrame) -> DataFrame:
    """Per-row content sha256 — the invariant carried through every stage
    (BASELINE.json input_hint; F.sha2 is a JVM built-in, SURVEY F6)."""
    return corpus.withColumn("sha256", F.sha2(F.col("content"), 256))


def sentencize(corpus: DataFrame) -> DataFrame:
    """corpus(repo,path,commit,lang,content[,sha256]) → one row per
    non-blank line with tokens array. sent_id = line ordinal.

    Tokens are the non-empty pieces of one split per line on ASCII
    whitespace (Java's `\\s`: space, \\t, \\n, \\x0b, \\f, \\r), which is
    Python's `line.split()` on such text. Unicode spaces such as NBSP
    are not separators here, though Python's `str.split()` splits on
    them. sha256 stays in its own projection below the generator, so it
    hashes each document once, not once per line."""
    df = corpus if "sha256" in corpus.columns else with_sha256(corpus)
    return (
        df.selectExpr("repo", "path", "commit", "sha256", _LINE_TOKENS)
        .where("size(tokens) > 0")
        .selectExpr("repo", "path", "commit", "sha256", "cast(sent_id AS long) AS sent_id", "tokens")
    )
