"""Benchmark of the CTI knowledge-graph pipeline: one seeded workload per
invocation, outputs checked, one JSON result line printed last on stdout.

    python3 perfbench/run.py --workload kg_templated --seed 1 --seconds 8 --trace 0

Run it from the repository root. --trace 0 measures the end-to-end metrics
with tracing off; --trace 1 is the separate traced run that reports the
per-layer metrics. The engine is driven only through its public functions,
on one driver process at local[nproc], one job at a time. perfbench/README.md
describes the workloads, the metrics and how to read them.
"""

import time

T_PROCESS = time.perf_counter()  # reference for setup_s: taken before any import work

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import measure  # noqa: E402

# generator profile and input size of each workload
WORKLOADS = {
    "kg_templated": {"profile": "templated", "docs": 1000, "repos": 40},
    "kg_prose": {"profile": "prose", "docs": 600, "repos": 24},
}
SETUP_REPS = 3          # repetitions of the repeatable part of set-up
# Untimed warm-up jobs on a quarter-size corpus of another seed: JIT keeps
# speeding the job up for about three jobs after JVM start, and two small
# ones take most of that out of the timed jobs.
WARM_JOBS = 2
KERNEL_SAMPLE = 1000    # distinct sentences in the single-process kernel probe
MIN_P = MIN_R = 0.95    # north-rule mention precision / recall gate

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "triples_per_s": "1/s",
    "peak_rss_mb": "MB", "mention_f1": "ratio",
}
KERNEL_LAYERS = ("tag", "lexicon", "neural", "decode", "spans")
SPARK_LAYERS = ("sentencize", "tagging", "linking", "graph", "lineage")
SPARK_FIELDS = {"shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                "task_s": "s", "jobs": "count"}
PER_LAYER = {
    "sentencize.s": "s", "sentencize.sentences": "count", "sentencize.distinct_ratio": "ratio",
    "tagging.s": "s", "tagging.mentions": "count", "tagging.sentences_per_s": "1/s",
    **{f"kernel.{k}_s": "s" for k in KERNEL_LAYERS}, "kernel.sentences": "count",
    "linking.s": "s", "linking.surfaces": "count", "linking.lsh_s": "s",
    "linking.lsh_pairs": "count", "linking.canonicalize_s": "s", "linking.entities": "count",
    "graph.link_s": "s", "graph.triples_s": "s", "graph.triples": "count",
    "graph.cooc_triples": "count",
    "lineage.write_s": "s", "lineage.resume_s": "s", "lineage.files": "count",
    "lineage.bytes": "bytes", "lineage.buckets_skipped": "count", "lineage.skip_ratio": "ratio",
    **{f"spark.{layer}.{field}": unit for layer in SPARK_LAYERS
       for field, unit in SPARK_FIELDS.items()},
    "trace.wall_s": "s", "trace.unattributed_s": "s", "trace.overhead_s": "s",
}
# Spark job label of each traced span; jobs outside these spans are "probe"
SPAN_LABEL = {
    "sentencize": "sentencize", "tagging": "tagging", "linking": "linking",
    "graph.link": "graph", "graph.triples": "graph",
    "lineage.write": "lineage", "lineage.resume": "lineage",
}


class CheckFailed(Exception):
    pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One invocation: a Spark session, the generated inputs under a private
    work directory inside the checkout, and the counts of operations."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.wl = WORKLOADS[workload]
        self.workload, self.seed, self.trace = workload, seed, trace
        self.work = ROOT / ".perfbench" / f"work-{workload}-{seed}-{os.getpid()}"
        self.corpus_path = str(self.work / "input" / "corpus.parquet")
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.reference_digest: str | None = None

    # ---------------- set-up ----------------

    def start_session(self) -> None:
        for sub in ("tmp", "local", "events"):
            (self.work / sub).mkdir(parents=True, exist_ok=True)
        # temp files (the shipped package zip, broadcast dumps, Spark local
        # dirs) stay inside the work directory
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        # the JVM that spark-submit starts to build the driver's command line
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}")
        import tempfile

        tempfile.tempdir = str(self.work / "tmp")
        from ner4cti_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            # -Xms = -Xmx and pre-touched: the heap's resident size is then
            # a constant, so peak RSS moves with what the program holds
            # outside the heap and in its Python workers, not with the
            # collector's heap-sizing decisions
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} "
                                             "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "events").as_uri(),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name="perfbench", cores=nproc(),
                               shuffle_partitions=nproc(), extra_conf=conf)

    def setup(self) -> float:
        """Returns setup_s: process start -> session up and package shipped,
        plus the median of SETUP_REPS repetitions of (weights built and
        broadcast, inputs generated, written and scanned), plus WARM_JOBS
        untimed warm-up jobs."""
        import pyarrow.parquet as pq

        from ner4cti_spark.kernel.weights import build_weights
        from ner4cti_spark.pipeline import PipelineConfig

        self.start_session()
        session_s = time.perf_counter() - T_PROCESS
        self.cfg = PipelineConfig()
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.weights = build_weights(self.cfg.profile)
            self.spark.sparkContext.broadcast(self.weights).destroy()
            stats = gen.write_inputs(str(self.work / "input"), self.wl["profile"],
                                     self.seed, self.wl["docs"], self.wl["repos"])
            self.spark.read.parquet(self.corpus_path).count()
            reps.append(time.perf_counter() - t0)
        gold = pq.read_table(str(self.work / "input" / "gold.parquet")).to_pylist()
        self.gold = {(r["path"], r["sent_id"], r["surface"], r["etype"]) for r in gold}
        print(f"inputs {self.workload} seed={self.seed}: {json.dumps(stats)}", file=sys.stderr)

        t0 = time.perf_counter()
        warm = self.work / "warm"
        gen.write_inputs(str(warm), self.wl["profile"], self.seed + 1_000_003,
                         self.wl["docs"] // 4, self.wl["repos"])
        for _ in range(WARM_JOBS):
            self.release(self.in_memory(str(warm / "corpus.parquet"))[1])
        warm_s = time.perf_counter() - t0
        print(f"setup: session {session_s:.3f}s, repeated part median "
              f"{statistics.median(reps):.3f}s of {[round(r, 3) for r in reps]}, "
              f"warm-up {warm_s:.3f}s", file=sys.stderr)
        return session_s + statistics.median(reps) + warm_s

    # ---------------- the timed jobs ----------------

    def read(self, path: str, half: bool = False):
        from pyspark.sql import functions as F

        from ner4cti_spark import lineage

        df = self.spark.read.parquet(path)
        if half:  # the first half of the repo buckets
            df = (lineage.with_bucket(df)
                  .filter(F.col("bucket") < lineage.N_BUCKETS // 2).drop("bucket"))
        return df

    def in_memory(self, path: str):
        """The user's one-shot job: fresh weights broadcast (so the
        executor-local kernel caches start empty), scan, full pipeline,
        triples materialized. Returns (outputs, broadcast, seconds), with
        outputs["triples"] cached."""
        from ner4cti_spark.pipeline import broadcast_weights, run_pipeline

        t0 = time.perf_counter()
        bc = broadcast_weights(self.spark, self.cfg)
        out = run_pipeline(self.spark, self.read(path), self.cfg, weights_bc=bc)
        out["triples"] = out["triples"].cache()
        out["triples"].count()
        return out, bc, time.perf_counter() - t0

    def checkpointed(self, out_dir: str, half: bool):
        """run_pipeline with out_dir and a fresh broadcast. Returns outputs."""
        from ner4cti_spark.pipeline import broadcast_weights, run_pipeline

        bc = broadcast_weights(self.spark, self.cfg)
        out = run_pipeline(self.spark, self.read(self.corpus_path, half=half), self.cfg,
                           out_dir=out_dir, weights_bc=bc)
        self.attempted += 1
        bc.destroy()
        return out

    def release(self, bc) -> None:
        """Drop every cached DataFrame and the job's weights broadcast."""
        self.spark.catalog.clearCache()
        bc.destroy()

    # ---------------- output checks (outside the timed regions) ----------------

    def check_triples(self, triples, what: str) -> int:
        """The triple set must be the one every earlier job of this run
        produced. Returns the number of distinct triples."""
        pdf = triples.select("subj", "pred", "obj").toPandas()
        bad = set(pdf["pred"]) - measure.PREDICATES
        if bad:
            raise CheckFailed(f"{what}: unknown predicates {sorted(bad)}")
        rows = set(pdf.itertuples(index=False, name=None))
        digest = measure.triple_digest(rows)
        if self.reference_digest is None:
            self.reference_digest = digest
        elif digest != self.reference_digest:
            raise CheckFailed(f"{what}: triple set differs from the first job's")
        return len(rows)

    def mention_f1(self, mentions) -> float:
        pdf = mentions.select("path", "sent_id", "surface", "etype").toPandas()
        p, r, f1 = measure.span_prf(set(pdf.itertuples(index=False, name=None)), self.gold)
        if p < MIN_P or r < MIN_R:
            raise CheckFailed(f"mention precision {p:.4f} / recall {r:.4f} below {MIN_P}")
        return f1

    @staticmethod
    def bucket_files(out_dir: str) -> dict[str, set[str]]:
        """bucket directory -> file names, of the mentions checkpoint."""
        base = Path(out_dir) / "mentions"
        if not base.exists():
            return {}
        return {d.name: {f.name for f in d.iterdir()} for d in base.iterdir()
                if d.name.startswith("bucket=")}

    # ---------------- untraced run: end-to-end metrics ----------------

    def measured_job(self) -> dict[str, float]:
        out, bc, wall = self.in_memory(self.corpus_path)
        self.attempted += 1
        n = self.check_triples(out["triples"], "in-memory job")
        res = {"wall_s": wall, "triples_per_s": n / wall,
               "mention_f1": self.mention_f1(out["mentions"])}
        self.release(bc)
        return res

    def run_untraced(self, seconds: float, setup_s: float) -> dict[str, dict]:
        samples: dict[str, list[float]] = {}
        sampler = measure.RssSampler(os.getpid())
        sampler.start()
        try:
            deadline = time.perf_counter() + seconds
            while not samples or time.perf_counter() < deadline:
                for k, v in self.measured_job().items():
                    samples.setdefault(k, []).append(v)
        finally:
            sampler.stop()
        print(f"{len(samples['wall_s'])} jobs; wall_s "
              f"{[round(x, 3) for x in samples['wall_s']]}; triple set sha256 "
              f"{self.reference_digest}; peak RSS MB by process: "
              f"{sampler.peak_breakdown()}", file=sys.stderr)
        values = {k: statistics.median(v) for k, v in samples.items()}
        values.update(setup_s=setup_s, peak_rss_mb=sampler.peak_mb)
        return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    # ---------------- traced run: per-layer metrics ----------------

    def run_traced(self, seconds: float) -> dict[str, dict]:
        untraced = []
        deadline = time.perf_counter() + seconds / 2
        while not untraced or time.perf_counter() < deadline:
            out, bc, wall = self.in_memory(self.corpus_path)
            self.attempted += 1
            untraced.append(wall)
            self.check_triples(out["triples"], "untraced job")
            self.release(bc)

        sc = self.spark.sparkContext
        tr = measure.Tracer(f"{self.workload}-{self.seed}",
                            on_enter=lambda name: sc.setJobDescription(
                                SPAN_LABEL.get(name, "probe")))
        m: dict[str, float] = {}
        root, surfaces = self.traced_pipeline(tr, m)
        self.traced_probes(tr, m, surfaces)
        self.traced_lineage(tr, m)
        sc.setJobDescription(None)

        durations = {
            "tagging.s": "tagging", "linking.s": "linking", "graph.link_s": "graph.link",
            "graph.triples_s": "graph.triples", "sentencize.s": "sentencize",
            "linking.lsh_s": "linking.lsh", "linking.canonicalize_s": "linking.canonicalize",
            "lineage.write_s": "lineage.write", "lineage.resume_s": "lineage.resume",
            "trace.wall_s": "pipeline", **{f"kernel.{k}_s": f"kernel.{k}" for k in KERNEL_LAYERS},
        }
        m.update({metric: tr.duration(span) for metric, span in durations.items()})
        m["trace.unattributed_s"] = tr.self_times()[root]
        m["trace.overhead_s"] = m["trace.wall_s"] - statistics.median(untraced)
        m["tagging.sentences_per_s"] = m["sentencize.sentences"] / m["tagging.s"]

        traces = ROOT / ".perfbench" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tr.write(str(traces / f"{self.workload}-seed{self.seed}.json"))
        print(f"traced pipeline {m['trace.wall_s']:.3f}s; layer spans cover "
              f"{m['trace.wall_s'] - m['trace.unattributed_s']:.3f}s; remainder "
              f"{m['trace.unattributed_s']:.3f}s; untraced median "
              f"{statistics.median(untraced):.3f}s over {len(untraced)} jobs", file=sys.stderr)

        self.stop_spark()  # flushes the event log
        layers = measure.stage_metrics(str(self.work / "events"))
        for layer in SPARK_LAYERS:
            for field in SPARK_FIELDS:
                m[f"spark.{layer}.{field}"] = layers.get(layer, {}).get(field, 0)
        return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}

    def traced_pipeline(self, tr: measure.Tracer, m: dict):
        """The in-memory job with each layer forced inside its own span.
        Returns the id of the enclosing span and the distinct mention
        surfaces (etype, surface, freq), cached."""
        from pyspark.sql import functions as F

        from ner4cti_spark import graph
        from ner4cti_spark.pipeline import broadcast_weights, extract_mentions, link_entities

        corpus = self.read(self.corpus_path)
        with tr.span("pipeline") as root:
            with tr.span("broadcast"):
                bc = broadcast_weights(self.spark, self.cfg)
            with tr.span("tagging"):
                mentions = extract_mentions(self.spark, corpus, self.cfg, weights_bc=bc).cache()
                m["tagging.mentions"] = mentions.count()
            with tr.span("linking"):
                entities = link_entities(mentions, self.cfg).cache()
                m["linking.entities"] = entities.count()
            with tr.span("graph.link"):
                # entities has one row per alias-table entry: the count
                # run_pipeline hands link_mentions
                linked = graph.link_mentions(mentions, entities,
                                             alias_count=m["linking.entities"]).cache()
                linked.count()
            with tr.span("graph.triples"):
                triples = graph.build_triples(linked, entities).cache()
                m["graph.triples"] = triples.count()
        self.attempted += 1
        self.spark.sparkContext.setJobDescription("probe")
        self.check_triples(triples, "traced job")
        m["graph.cooc_triples"] = triples.filter(F.col("pred") == "co_occurs_with").count()
        surfaces = mentions.groupBy("etype", "surface").agg(
            F.count(F.lit(1)).alias("freq")).cache()
        m["linking.surfaces"] = surfaces.count()
        bc.destroy()
        return root["id"], surfaces

    def traced_probes(self, tr: measure.Tracer, m: dict, surfaces) -> None:
        """Direct calls into single layers: sentencize, MinHash-LSH and
        canonicalize on the traced job's distinct mention surfaces, and the
        tag kernel in this process."""
        from ner4cti_spark.linking.components import canonicalize
        from ner4cti_spark.linking.minhash_lsh import candidate_pairs_sql
        from ner4cti_spark.operators.sentencize import sentencize, with_sha256

        with tr.span("sentencize"):
            sents = sentencize(with_sha256(self.read(self.corpus_path))).cache()
            m["sentencize.sentences"] = sents.count()
        self.spark.sparkContext.setJobDescription("probe")
        m["sentencize.distinct_ratio"] = (
            sents.select("tokens").distinct().count() / m["sentencize.sentences"])
        with tr.span("linking.lsh"):
            pairs = candidate_pairs_sql(surfaces, sim_threshold=self.cfg.link_threshold).cache()
            m["linking.lsh_pairs"] = pairs.count()
        with tr.span("linking.canonicalize"):
            canonicalize(surfaces, pairs).cache().count()
        self.spark.catalog.clearCache()
        m["kernel.sentences"] = self.kernel_probe(tr)

    def kernel_probe(self, tr: measure.Tracer) -> int:
        """Single-process calls into the tag kernel on a seeded sample of the
        input's distinct sentences, each kernel built fresh so its caches
        start empty. Returns the sample size."""
        import random

        import numpy as np
        import pyarrow.parquet as pq

        from ner4cti_spark.kernel import crf
        from ner4cti_spark.kernel.tagger import MAX_SEQ_LEN, TaggerKernel, extract_spans

        contents = pq.read_table(self.corpus_path, columns=["content"]).column(0).to_pylist()
        distinct = sorted({ln.strip() for c in contents for ln in c.split("\n")} - {""})
        sample = [s.split() for s in random.Random(self.seed).sample(
            distinct, min(KERNEL_SAMPLE, len(distinct)))]

        def kernel():
            return TaggerKernel(self.weights, neural_scale=self.cfg.neural_scale,
                                decode=self.cfg.decode)

        k = kernel()
        with tr.span("kernel.tag"):
            tags, _ = k.tag(sample)
        with tr.span("kernel.spans"):
            for toks, tg in zip(sample, tags):
                extract_spans(toks, tg)
        k = kernel()
        order = sorted(range(len(sample)), key=lambda i: len(sample[i]))
        for start in range(0, len(order), TaggerKernel.CHUNK):
            sents = [sample[i][:MAX_SEQ_LEN] for i in order[start:start + TaggerKernel.CHUNK]]
            lengths = np.array([len(s) for s in sents], dtype=np.int64)
            T = int(lengths.max())
            mask = np.arange(T)[None, :] < lengths[:, None]
            with tr.span("kernel.lexicon"):
                em = k.lexicon_emissions(sents, T)
            with tr.span("kernel.neural"):
                k.neural_emissions(sents, T, mask)
            with tr.span("kernel.decode"):
                crf.viterbi_decode(em, self.weights["trans"], lengths)
        return len(sample)

    def traced_lineage(self, tr: measure.Tracer, m: dict) -> None:
        """Checkpointed write over the first half of the repo buckets into a
        fresh directory, then a resume over the full corpus, which must skip
        the completed buckets and give the in-memory triple set."""
        from ner4cti_spark import lineage

        out_dir = str(self.work / "ckpt")
        with tr.span("lineage.write"):
            self.checkpointed(out_dir, half=True)
        written = self.bucket_files(out_dir)
        self.spark.sparkContext.setJobDescription("probe")
        m["lineage.buckets_skipped"] = lineage.completed_buckets(
            self.spark, out_dir, "tag").count()
        n_buckets = lineage.with_bucket(self.read(self.corpus_path)).select(
            "bucket").distinct().count()
        m["lineage.skip_ratio"] = m["lineage.buckets_skipped"] / n_buckets
        with tr.span("lineage.resume"):
            out = self.checkpointed(out_dir, half=False)
        after = self.bucket_files(out_dir)
        if not written or len(after) <= len(written):
            raise CheckFailed(f"write covered {len(written)} buckets, resume {len(after)}")
        if any(after.get(b) != files for b, files in written.items()):
            raise CheckFailed("resume rewrote buckets that the first write completed")
        self.spark.sparkContext.setJobDescription("probe")
        self.check_triples(out["triples"], "resumed job")
        files = [f for f in Path(out_dir).rglob("*") if f.is_file()]
        m["lineage.files"] = len(files)
        m["lineage.bytes"] = sum(f.stat().st_size for f in files)
        shutil.rmtree(out_dir)

    # ---------------- teardown ----------------

    def stop_spark(self) -> None:
        """Stop the session and the JVM it started, and wait for them and
        the Python workers to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while measure.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "ner4cti_spark" / "__init__.py").is_file():
        print(f"no ner4cti_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    bench = Bench(args.workload, args.seed, bool(args.trace))
    metrics = None
    try:
        setup_s = bench.setup()
        if args.trace:
            metrics = bench.run_traced(args.seconds)
        else:
            metrics = bench.run_untraced(args.seconds, setup_s)
    except Exception:  # a failed job or output check: report it, exit nonzero
        traceback.print_exc()
        bench.attempted += 1
        bench.failed += 1
    finally:
        bench.stop_spark()
        shutil.rmtree(bench.work, ignore_errors=True)
    correct = bench.failed == 0
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics or {}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
