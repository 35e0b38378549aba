"""Measure the shared-memory-system contention that caps local[N]
scaling of the tagger kernel (the 8→32 evidence in BENCH/BASELINE.md).

Runs the SAME kernel workload (TaggerKernel.tag over identical
sentences, BLAS pinned to 1 thread) in K concurrent single-core
processes for K in (1, 8, 32) and reports per-process wall-time
inflation. Pure numpy — no Spark, no shuffle, no Python-worker reuse —
so any slowdown at higher K is the box's shared L3/memory bandwidth,
not the engine. The kernel is the one the pipeline runs: lexicon
potentials + BIO-CRF Viterbi, `neural_scale=0.0` (the recorded 8→32
evidence in BENCH/BASELINE.md predates that default and timed the
untrained forward at 0.1). The sentence cache is off and the 6,000
sentences give ~0.4 s of single-core work per process. Usage:
python tools/contention_probe.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORK = """
import os, sys, time
for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[v] = "1"
sys.path.insert(0, {repo!r})
import numpy as np
from ner4cti_spark.kernel.weights import build_weights, FAST
from ner4cti_spark.kernel.tagger import TaggerKernel

w = build_weights(FAST)
k = TaggerKernel(w, neural_scale=0.0, sent_cache=False)
rng = np.random.default_rng(0)
vocab = ["alpha", "beta", "the", "APT28", "dropper", "used", "CVE-2017-0144",
         "malware", "implant", "c2", "infrastructure", "loader"]
sents = [[vocab[int(j)] for j in rng.integers(len(vocab), size=18)]
         for _ in range(6000)]
k.tag(sents[:50])  # warm
t0 = time.time()
k.tag(sents)
print(round(time.time() - t0, 3))
"""


def run_k(k: int) -> float:
    code = _WORK.format(repo=REPO)
    procs = [
        subprocess.Popen([sys.executable, "-c", code],
                         stdout=subprocess.PIPE, text=True)
        for _ in range(k)
    ]
    times = [float(p.communicate()[0].strip().splitlines()[-1]) for p in procs]
    return sum(times) / len(times)


def main() -> None:
    base = run_k(1)
    out = {"1": round(base, 3)}
    for k in (8, 32):
        t = run_k(k)
        out[str(k)] = round(t, 3)
        out[f"inflation_x{k}"] = round(t / base, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
