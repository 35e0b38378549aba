"""Regenerate the committed corpus artifacts (ner4cti_spark/artifacts/
{corpus}_crf.npz) from the CORPORA configs — run after any change to
the training recipe. Deterministic: seeded Word2Vec/KMeans/perceptron/
BiLSTM fits reproduce the artifact bit-for-bit.

Usage: python tools/retrain_artifacts.py [dnrti] [malwaredb]
Then:  python -m pytest tests/test_conll.py   (the DNRTI/MalwareDB quality gates)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from ner4cti_spark.session import get_spark
    from ner4cti_spark.training import trained_weights

    corpora = sys.argv[1:] or ["dnrti", "malwaredb"]
    spark = get_spark(app_name="retrain_artifacts", cores=8,
                      shuffle_partitions=8)
    for corpus in corpora:
        t0 = time.time()
        weights, lex, ls = trained_weights(spark, corpus, refresh=True)
        print(f"{corpus}: retrained in {time.time() - t0:.0f}s; "
              f"keys={sorted(k for k in weights if k.startswith(('sp', 'nn', 'clf')))[:8]}...")


if __name__ == "__main__":
    main()
