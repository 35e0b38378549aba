"""Deterministic synthetic corpus generator.

Produces the BASELINE.json input_hint table
(repo, path, commit, lang, content) with planted CTI sentences whose
expected mentions are known exactly — the test oracle for the tagger's
P/R gate (FIXTURES.md §1). Heavy-tailed repo sizes exercise skew salting.

Generated DISTRIBUTED: `spark.range(n)` → pure column expressions +
one Arrow-batched mapInPandas for text assembly, so corpus synthesis
itself scales to any size without driver materialization.
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernel import gazetteer
from .session import local_frame

SEED = 42
LANGS = ["python", "c", "md", "txt", "java"]

_CODE_FILLER = [
    "def process(data):",
    "    return [x for x in data if x]",
    "import os",
    "int main(void) {",
    "    printf(\"%d\\n\", value);",
    "}",
    "for (int i = 0; i < n; i++) {",
    "## Configuration",
    "See the build instructions below.",
    "static const int TABLE_SIZE = 4096;",
]

_TEMPLATES = [
    "The {actor} group deployed {malware} against targets using {pattern} .",
    "Researchers attributed {malware} to {actor} after analysis with {tool} .",
    "{actor} exploited {cve} to deliver {malware} via {pattern} .",
    "The sample {hash} communicated with {domain} at {ip} .",
    "{tool} was used for {pattern} during the {actor} campaign .",
    "Analysis of {malware} revealed C2 infrastructure at {domain} .",
    "{actor} leveraged {cve} and performed {pattern} with {tool} .",
    "Indicators include {ip} and the dropper {hash} .",
]


def _flat_aliases() -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for etype, ents in gazetteer.ENTITIES.items():
        out[etype] = [a for aliases in ents.values() for a in aliases]
    return out


def _doc_text(doc_id: int) -> tuple[str, list[tuple[int, str, str]]]:
    """Deterministic content for doc_id; returns (text, planted mentions
    [(line_no, surface, etype)])."""
    rng = random.Random(SEED * 1_000_003 + doc_id)
    aliases = _flat_aliases()
    n_lines = rng.randint(6, 30)
    lines: list[str] = []
    planted: list[tuple[int, str, str]] = []
    for ln in range(n_lines):
        if rng.random() < 0.35:
            tmpl = rng.choice(_TEMPLATES)
            subs: dict[str, str] = {}
            used: list[tuple[str, str]] = []
            for field, etype in [
                ("actor", "threat-actor"),
                ("malware", "malware"),
                ("tool", "tool"),
                ("pattern", "attack-pattern"),
            ]:
                if "{%s}" % field in tmpl:
                    s = rng.choice(aliases[etype])
                    subs[field] = s
                    used.append((s, etype))
            if "{cve}" in tmpl:
                s = f"CVE-{rng.randint(2014, 2023)}-{rng.randint(1000, 99999)}"
                subs["cve"] = s
                used.append((s, "cve"))
            if "{ip}" in tmpl:
                s = f"{rng.randint(1, 223)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
                subs["ip"] = s
                used.append((s, "indicator"))
            if "{hash}" in tmpl:
                s = hashlib.md5(f"{doc_id}:{ln}".encode()).hexdigest()
                subs["hash"] = s
                used.append((s, "indicator"))
            if "{domain}" in tmpl:
                s = f"c2-{rng.randint(1, 999)}.evil{rng.randint(1, 99)}.com"
                subs["domain"] = s
                used.append((s, "indicator"))
            line = tmpl.format(**subs)
            lines.append(line)
            for s, e in used:
                planted.append((ln, s, e))
        else:
            lines.append(rng.choice(_CODE_FILLER))
    return "\n".join(lines), planted


def generate_corpus(
    spark: SparkSession, n_docs: int = 1000, n_repos: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus. Repo assignment is heavy-tailed
    (quadratic skew: repo = floor(sqrt(uniform)) style) so one repo holds
    far more files than the median — the skew case the pipeline must
    handle via salting + AQE."""
    n_repos = n_repos or max(3, n_docs // 50)
    base = (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        # deterministic skewed repo id: u² clusters mass at repo 0, which
        # ends up with ~sqrt(1/n_repos) of all files (the hot-repo case)
        .withColumn(
            "repo_id",
            F.floor(F.pow(F.col("doc_id") / F.lit(float(n_docs)), F.lit(2)) * n_repos).cast("int"),
        )
        .withColumn("repo", F.concat(F.lit("org/repo-"), F.format_string("%04d", "repo_id")))
        .withColumn(
            "path",
            F.format_string("src/module_%03d/file_%06d.%s",
                            (F.col("doc_id") % 100).cast("int"),
                            F.col("doc_id").cast("int"),
                            F.element_at(F.array(*[F.lit(x) for x in ["py", "c", "md", "txt", "java"]]),
                                         (F.col("doc_id") % 5 + 1).cast("int"))),
        )
        .withColumn(
            "commit", F.substring(F.sha2(F.concat(F.lit("commit:"), F.col("repo")), 256), 1, 40)
        )
        .withColumn(
            "lang",
            F.element_at(
                F.array(*[F.lit(x) for x in LANGS]), (F.col("doc_id") % 5 + 1).cast("int")
            ),
        )
    )

    def gen_text(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [_doc_text(int(d))[0] for d in pdf["doc_id"]]
            yield pdf[["repo", "path", "commit", "lang", "content"]]

    schema = "repo string, path string, commit string, lang string, content string"
    return base.mapInPandas(gen_text, schema=schema)


def expected_mentions(spark: SparkSession, n_docs: int = 1000) -> DataFrame:
    """Gold mentions for the generated corpus — driver-side derivation
    (test-scale only) matching generate_corpus determinism."""
    rows = []
    for d in range(n_docs):
        text, planted = _doc_text(d)
        sha = hashlib.sha256(text.encode()).hexdigest()
        for ln, surface, etype in planted:
            rows.append((d, ln, surface, etype, sha))
    return local_frame(
        spark, "doc_id long, sent_id long, surface string, etype string, sha256 string",
        pd.DataFrame(rows, columns=["doc_id", "sent_id", "surface", "etype", "sha256"]),
    )
