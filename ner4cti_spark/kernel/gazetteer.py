"""CTI gazetteer + indicator patterns.

The lexical knowledge the tagger's emission model uses. Entity classes
follow BASELINE.json north_star (malware, threat-actor, cve,
attack-pattern, tool, indicator), which map onto the reference's DNRTI
tagset (SURVEY.md §1.3: HackOrg→threat-actor, Tool→tool, OffAct/Way→
attack-pattern, SamFile→malware, Exp→cve).
"""

from __future__ import annotations

import re

# etype → canonical name → aliases (aliases include the canonical).
# Deliberately includes near-duplicate surface forms ("APT28" / "APT 28" /
# "Fancy Bear") so MinHash-LSH linking + connected components have real
# work to do, per FIXTURES.md §5.
ENTITIES: dict[str, dict[str, list[str]]] = {
    "threat-actor": {
        "APT28": ["APT28", "APT 28", "Fancy Bear", "FancyBear", "Sofacy", "Sednit"],
        "APT29": ["APT29", "APT 29", "Cozy Bear", "CozyBear", "The Dukes"],
        "Lazarus Group": ["Lazarus Group", "Lazarus", "HIDDEN COBRA", "Hidden Cobra"],
        "Equation Group": ["Equation Group", "EquationGroup"],
        "Turla": ["Turla", "Snake", "Uroburos"],
        "FIN7": ["FIN7", "Carbanak Group"],
        "Sandworm": ["Sandworm", "Sandworm Team", "Voodoo Bear"],
    },
    "malware": {
        "WannaCry": ["WannaCry", "WanaCrypt0r", "WCry"],
        "Emotet": ["Emotet", "Geodo"],
        "TrickBot": ["TrickBot", "Trickbot", "TrickLoader"],
        "NotPetya": ["NotPetya", "ExPetr", "Nyetya"],
        "Stuxnet": ["Stuxnet"],
        "Zeus": ["Zeus", "Zbot", "ZeuS"],
        "Ryuk": ["Ryuk"],
        "Conficker": ["Conficker", "Downadup", "Kido"],
    },
    "tool": {
        "Mimikatz": ["Mimikatz", "mimikatz"],
        "Cobalt Strike": ["Cobalt Strike", "CobaltStrike", "Cobalt-Strike"],
        "PsExec": ["PsExec", "psexec"],
        "Metasploit": ["Metasploit", "metasploit"],
        "PowerShell Empire": ["PowerShell Empire", "Empire"],
        "BloodHound": ["BloodHound", "Bloodhound"],
    },
    "attack-pattern": {
        "spear phishing": ["spear phishing", "spear-phishing", "spearphishing"],
        "credential dumping": ["credential dumping", "credential-dumping"],
        "lateral movement": ["lateral movement"],
        "privilege escalation": ["privilege escalation"],
        "watering hole": ["watering hole", "watering-hole"],
        "supply chain compromise": ["supply chain compromise"],
        "brute force": ["brute force", "brute-force"],
    },
}

# Regex-detectable indicator classes (single-token mentions).
CVE_RE = re.compile(r"^CVE-\d{4}-\d{4,7}$")
IPV4_RE = re.compile(
    r"^(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}$"
)
MD5_RE = re.compile(r"^[0-9a-f]{32}$")
SHA256_RE = re.compile(r"^[0-9a-f]{64}$")
DOMAIN_RE = re.compile(
    r"^(?!-)[a-z0-9-]{1,63}(\.[a-z0-9-]{1,63})+\.(com|net|org|info|ru|cn|io|biz)$"
)

PATTERN_ETYPES = [
    (CVE_RE, "cve"),
    (IPV4_RE, "indicator"),
    (MD5_RE, "indicator"),
    (SHA256_RE, "indicator"),
    (DOMAIN_RE, "indicator"),
]

ETYPES = ["threat-actor", "malware", "tool", "attack-pattern", "cve", "indicator"]


def alias_rows() -> list[tuple[str, str, str]]:
    """(etype, canonical, alias) rows — the linking gold standard."""
    out = []
    for etype, ents in ENTITIES.items():
        for canon, aliases in ents.items():
            for a in aliases:
                out.append((etype, canon, a))
    return out


def phrase_index() -> dict[tuple[str, ...], tuple[str, str]]:
    """token-tuple (lowercased) → (etype, canonical). Longest-match lookup
    table used by the emission model; small enough to broadcast."""
    idx: dict[tuple[str, ...], tuple[str, str]] = {}
    for etype, canon, alias in alias_rows():
        idx[tuple(alias.lower().split())] = (etype, canon)
    return idx


def classify_token(tok: str) -> str | None:
    """Single-token indicator classification by pattern (cve/indicator)."""
    low = tok.lower() if not tok.startswith("CVE-") else tok
    for pat, etype in PATTERN_ETYPES:
        probe = tok if etype == "cve" else low
        if pat.match(probe):
            return etype
    return None


class PhraseMatcher:
    """Greedy longest match of lowercased token tuples — the lexicon
    behind both the kernel's emissions and the trained CRF's features.
    Span lengths come longest first from a first-token index, so a token
    that starts no phrase costs one dict probe."""

    def __init__(self, phrases: dict[tuple[str, ...], tuple[str, str]]) -> None:
        self.phrases = phrases
        lengths: dict[str, set[int]] = {}
        for k in phrases:
            if k:
                lengths.setdefault(k[0], set()).add(len(k))
        self.lengths = {w: sorted(ls, reverse=True) for w, ls in lengths.items()}

    def matches(self, tokens: list[str]) -> list[tuple[int, int, str]]:
        """Non-overlapping (begin, end_exclusive, etype), left to right."""
        lows = [t.lower() for t in tokens]
        n = len(lows)
        out: list[tuple[int, int, str]] = []
        i = 0
        while i < n:
            for span in self.lengths.get(lows[i], ()):
                if span > n - i:
                    continue
                hit = self.phrases.get(tuple(lows[i : i + span]))
                if hit is not None:
                    out.append((i, i + span, hit[0]))
                    i += span
                    break
            else:
                i += 1
        return out

    def bio(self, tokens: list[str]) -> list[str]:
        """Per-token BIO tag strings of `matches`."""
        tags = ["O"] * len(tokens)
        for b, e, etype in self.matches(tokens):
            tags[b : e] = ["B-" + etype] + ["I-" + etype] * (e - b - 1)
        return tags
