"""Seeded input generator for the benchmark.

Writes the table the engine reads, `(repo, path, commit, lang, content)`,
plus the planted-mention gold `(path, sent_id, surface, etype)` that the
benchmark scores the tagger against. Everything here is frozen: the alias
lists, templates and filler are copied into this file, so a later change to
`ner4cti_spark.corpus` or the engine's gazetteer cannot change the inputs
of a given seed.

Two profiles:

- ``templated``: source-code-like files, mostly code filler lines plus CTI
  template lines over gazetteer aliases; heavy-tailed repo sizes. Lines
  repeat a lot, so the tagger's sentence cache absorbs most tag work and
  linking / canonicalization / co-occurrence do most of the work.
- ``prose``: long prose lines that are all distinct, with sparse mentions
  drawn from a small entity vocabulary. Every line reaches the tag kernel.

Run it directly to print the input statistics of a profile:

    python3 perfbench/gen.py --profile prose --seed 1 --docs 300
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Frozen copy of the engine's gazetteer aliases (etype -> aliases).
ALIASES: dict[str, list[str]] = {
    "threat-actor": [
        "APT28", "APT 28", "Fancy Bear", "FancyBear", "Sofacy", "Sednit",
        "APT29", "APT 29", "Cozy Bear", "CozyBear", "The Dukes",
        "Lazarus Group", "Lazarus", "HIDDEN COBRA", "Hidden Cobra",
        "Equation Group", "EquationGroup", "Turla", "Snake", "Uroburos",
        "FIN7", "Carbanak Group", "Sandworm", "Sandworm Team", "Voodoo Bear",
    ],
    "malware": [
        "WannaCry", "WanaCrypt0r", "WCry", "Emotet", "Geodo", "TrickBot",
        "Trickbot", "TrickLoader", "NotPetya", "ExPetr", "Nyetya", "Stuxnet",
        "Zeus", "Zbot", "ZeuS", "Ryuk", "Conficker", "Downadup", "Kido",
    ],
    "tool": [
        "Mimikatz", "mimikatz", "Cobalt Strike", "CobaltStrike", "Cobalt-Strike",
        "PsExec", "psexec", "Metasploit", "metasploit", "PowerShell Empire",
        "Empire", "BloodHound", "Bloodhound",
    ],
    "attack-pattern": [
        "spear phishing", "spear-phishing", "spearphishing", "credential dumping",
        "credential-dumping", "lateral movement", "privilege escalation",
        "watering hole", "watering-hole", "supply chain compromise",
        "brute force", "brute-force",
    ],
}

# The prose profile's small entity vocabulary: a few aliases per named type.
PROSE_ALIASES: dict[str, list[str]] = {
    "threat-actor": ["APT28", "Fancy Bear", "Lazarus Group", "Turla"],
    "malware": ["Emotet", "TrickBot", "Ryuk"],
    "tool": ["Mimikatz", "Cobalt Strike"],
    "attack-pattern": ["spear phishing", "lateral movement"],
}

CODE_FILLER = [
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

TEMPLATES = [
    "The {actor} group deployed {malware} against targets using {pattern} .",
    "Researchers attributed {malware} to {actor} after analysis with {tool} .",
    "{actor} exploited {cve} to deliver {malware} via {pattern} .",
    "The sample {hash} communicated with {domain} at {ip} .",
    "{tool} was used for {pattern} during the {actor} campaign .",
    "Analysis of {malware} revealed C2 infrastructure at {domain} .",
    "{actor} leveraged {cve} and performed {pattern} with {tool} .",
    "Indicators include {ip} and the dropper {hash} .",
]

_FIELDS = [("actor", "threat-actor"), ("malware", "malware"),
           ("tool", "tool"), ("pattern", "attack-pattern")]

LANGS = ["py", "c", "md", "txt", "java"]


def _prose_words() -> list[str]:
    """Letters-only pseudo-words: no digits or dots, so no indicator pattern
    can match them, and none equal to a token of any frozen alias."""
    onsets = ["b", "d", "f", "g", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
    vowels = ["a", "e", "i", "o", "u"]
    syll = [o + v for o in onsets for v in vowels]
    alias_tokens = {t.lower() for al in ALIASES.values() for a in al
                    for t in a.replace("-", " ").split()}
    words = [a + b for a in syll for b in syll[::3]]
    return [w for w in words if w not in alias_tokens]


PROSE_WORDS = _prose_words()
STOPWORDS = ["the", "of", "and", "to", "in", "was", "for", "with", "on", "by"]


def _cve(rng: random.Random) -> str:
    return f"CVE-{rng.randint(2014, 2023)}-{rng.randint(1000, 99999)}"


def _ip(rng: random.Random) -> str:
    return (f"{rng.randint(1, 223)}.{rng.randint(0, 255)}."
            f"{rng.randint(0, 255)}.{rng.randint(1, 254)}")


def _templated_line(rng: random.Random, key: str) -> tuple[str, list[tuple[str, str]]]:
    tmpl = rng.choice(TEMPLATES)
    subs: dict[str, str] = {}
    used: list[tuple[str, str]] = []
    for field, etype in _FIELDS:
        if "{%s}" % field in tmpl:
            subs[field] = rng.choice(ALIASES[etype])
            used.append((subs[field], etype))
    if "{cve}" in tmpl:
        subs["cve"] = _cve(rng)
        used.append((subs["cve"], "cve"))
    if "{ip}" in tmpl:
        subs["ip"] = _ip(rng)
        used.append((subs["ip"], "indicator"))
    if "{hash}" in tmpl:
        subs["hash"] = hashlib.md5(key.encode()).hexdigest()
        used.append((subs["hash"], "indicator"))
    if "{domain}" in tmpl:
        subs["domain"] = f"c2-{rng.randint(1, 999)}.evil{rng.randint(1, 99)}.com"
        used.append((subs["domain"], "indicator"))
    return tmpl.format(**subs), used


def _templated_doc(rng: random.Random, d: int, key: str
                   ) -> tuple[list[str], list[list[tuple[str, str]]]]:
    lines, gold = [], []
    for ln in range(6 + d * 7 % 25):
        if (d * 31 + ln) % 20 < 7:  # 35% template lines
            line, used = _templated_line(rng, f"{key}:{ln}")
        else:
            line, used = rng.choice(CODE_FILLER), []
        lines.append(line)
        gold.append(used)
    return lines, gold


def _prose_doc(rng: random.Random, d: int, _key: str
               ) -> tuple[list[str], list[list[tuple[str, str]]]]:
    lines, gold = [], []
    for ln in range(8 + d * 5 % 9):
        words = [rng.choice(PROSE_WORDS) if rng.random() < 0.7 else rng.choice(STOPWORDS)
                 for _ in range(rng.randint(18, 40))]
        used: list[tuple[str, str]] = []
        if (d * 7 + ln) % 10 < 3:  # 30% of lines carry mentions
            etypes = rng.sample(sorted(PROSE_ALIASES), rng.randint(1, 2))
            for etype in etypes:
                used.append((rng.choice(PROSE_ALIASES[etype]), etype))
            if rng.random() < 0.25:
                used.append((_cve(rng), "cve"))
            # insert back to front so earlier insert positions stay valid;
            # a stopword before each mention keeps mentions apart
            slots = sorted(rng.sample(range(1, len(words)), len(used)), reverse=True)
            for pos, (surface, _etype) in zip(slots, used):
                words[pos:pos] = ["the", surface]
        lines.append(" ".join(words) + " .")
        gold.append(used)
    return lines, gold


# profile -> document maker(rng, doc number, key for content hashes)
_DOC = {"templated": _templated_doc, "prose": _prose_doc}


def generate(profile: str, seed: int, n_docs: int, n_repos: int):
    """-> (rows, gold). rows: dicts of the input table; gold: (path,
    sent_id, surface, etype) tuples, sent_id being the line ordinal.

    The shape of the input -- lines per document, which lines carry
    mentions, which repo each document belongs to -- is a fixed function of
    the document number; the seed draws the content. So every seed gives
    inputs of nearly the same size and skew, and run-to-run spread measures
    the program rather than the input size."""
    rng = random.Random(f"{profile}:{seed}")
    make_doc = _DOC[profile]
    rows, gold = [], []
    seen_prose: set[str] = set()
    for d in range(n_docs):
        # heavy tail: (d/n)^3 piles most files into the first repos. Repo
        # names do not depend on the seed, so every seed maps the same repos
        # to the same lineage buckets.
        repo_id = int((d / n_docs) ** 3 * n_repos)
        repo = f"org/repo-{repo_id:04d}"
        path = f"src/module_{d % 100:03d}/file_{d:06d}.{LANGS[d % 5]}"
        lines, planted = make_doc(rng, d, f"{seed}:{d}")
        if profile == "prose":
            # every prose line distinct, also across documents
            for i, line in enumerate(lines):
                while line in seen_prose:
                    line = rng.choice(PROSE_WORDS) + " " + line
                lines[i] = line
                seen_prose.add(line)
        rows.append({
            "repo": repo,
            "path": path,
            "commit": hashlib.sha1(f"{seed}:{repo}".encode()).hexdigest(),
            "lang": LANGS[d % 5],
            "content": "\n".join(lines),
        })
        for ln, used in enumerate(planted):
            gold.extend((path, ln, surface, etype) for surface, etype in used)
    return rows, gold


def input_stats(rows, gold) -> dict:
    lines = [ln.strip() for r in rows for ln in r["content"].split("\n")]
    lines = [ln for ln in lines if ln]
    return {
        "docs": len(rows),
        "repos": len({r["repo"] for r in rows}),
        "sentences": len(lines),
        "distinct_sentence_ratio": round(len(set(lines)) / len(lines), 4),
        "mentions_per_sentence": round(len(gold) / len(lines), 4),
        "surface_vocabulary": len({(g[2], g[3]) for g in gold}),
    }


def write_inputs(out_dir: str, profile: str, seed: int, n_docs: int, n_repos: int) -> dict:
    """Write corpus.parquet and gold.parquet under out_dir; return the
    input statistics (also written as stats.json)."""
    os.makedirs(out_dir, exist_ok=True)
    rows, gold = generate(profile, seed, n_docs, n_repos)
    corpus = pa.Table.from_pylist(rows, schema=pa.schema(
        [(c, pa.string()) for c in ("repo", "path", "commit", "lang", "content")]))
    pq.write_table(corpus, os.path.join(out_dir, "corpus.parquet"))
    gold_tbl = pa.table({
        "path": [g[0] for g in gold],
        "sent_id": pa.array([g[1] for g in gold], pa.int64()),
        "surface": [g[2] for g in gold],
        "etype": [g[3] for g in gold],
    })
    pq.write_table(gold_tbl, os.path.join(out_dir, "gold.parquet"))
    stats = input_stats(rows, gold)
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump(stats, f, sort_keys=True)
    return stats


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--profile", choices=sorted(_DOC), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=300)
    ap.add_argument("--repos", type=int, default=24)
    a = ap.parse_args()
    print(json.dumps(input_stats(*generate(a.profile, a.seed, a.docs, a.repos)), sort_keys=True))
