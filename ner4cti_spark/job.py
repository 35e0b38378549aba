"""spark-submit entry point (north_rule deploy mode).

    spark-submit --py-files ner4cti_spark.zip ner4cti_spark/job.py \\
        --input /path/to/corpus_parquet --output /path/to/kg \\
        [--synthetic-docs N] [--link-threshold 0.5] [--decode viterbi]

Reads the corpus table (repo, path, commit, lang, content) from
--input parquet (or synthesizes a deterministic corpus with
--synthetic-docs), runs the full KG pipeline resumable into --output,
and prints one JSON status line. The job always runs in local mode:
`session.get_spark` sets the master to `local[--cores]`, which takes
precedence over spark-submit's `--master`, and the Python workers are
forks of the engine's worker daemon on the driver's machine.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="ner4cti_spark KG construction job")
    ap.add_argument("--input", help="corpus parquet path (repo,path,commit,lang,content)")
    ap.add_argument("--output", required=True, help="output directory (triples/mentions/_lineage)")
    ap.add_argument("--synthetic-docs", type=int, default=0,
                    help="generate a deterministic synthetic corpus of N docs instead of --input")
    ap.add_argument("--link-threshold", type=float, default=0.5)
    ap.add_argument("--decode", choices=["viterbi", "greedy"], default="viterbi")
    ap.add_argument("--neural-scale", type=float, default=0.0,
                    help="weight of the untrained contextual branch fused onto the "
                         "lexicon potentials; 0 (default) skips its forward. While "
                         "2*scale + 2*spread(trans) < 4 (the lexicon margin) it "
                         "moves mentions.score by less than the scale and no tag")
    ap.add_argument("--cores", type=int, default=0,
                    help="local-mode cores (0: $SPARK_GRAFT_CPUS, else all); the job "
                         "runs in local mode whatever spark-submit's --master says")
    args = ap.parse_args(argv)
    if not args.input and not args.synthetic_docs:
        ap.error("one of --input / --synthetic-docs is required")

    # absolute imports: spark-submit executes this file as a top-level
    # script; the package itself arrives via --py-files
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.pipeline import PipelineConfig, run_pipeline
    from ner4cti_spark.session import get_spark

    spark = get_spark(app_name="ner4cti_job", cores=args.cores or None)
    corpus = (
        generate_corpus(spark, n_docs=args.synthetic_docs)
        if args.synthetic_docs
        else spark.read.parquet(args.input)
    )
    cfg = PipelineConfig(
        link_threshold=args.link_threshold,
        decode=args.decode,
        neural_scale=args.neural_scale,
    )
    t0 = time.time()
    out = run_pipeline(spark, corpus, cfg, out_dir=args.output)
    n_triples = out["triples"].count()
    elapsed = time.time() - t0
    print(json.dumps({
        "status": "ok",
        "output": args.output,
        "n_triples": n_triples,
        "seconds": round(elapsed, 2),
        "triples_per_sec": round(n_triples / elapsed, 2) if elapsed else None,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
