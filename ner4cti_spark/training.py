"""Training orchestration for the reference corpora (DNRTI, MalwareDB).

Fits the averaged-perceptron CRF (kernel/perceptron.py) on a corpus
train split — the engine's analog of the reference training entrypoint
(main.py:96-191) — and caches the fitted model + induced lexicon as a
sparse npz artifact so eval queries and the driver contract pay the
training cost once, not per run. Artifacts are deterministic (seeded
shuffles, sorted lexicons): retraining reproduces them bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .kernel import perceptron
from .kernel.labels import CTI, LabelSpace
from .kernel.weights import build_weights

ARTIFACT_DIR = os.path.join(os.path.dirname(__file__), "artifacts")

# DNRTI's native 13-type tagset (train.txt inventory). The model is
# trained on the FULL tagset and predictions are mapped onto the engine's
# CTI classes at eval time (conll.map_dnrti_tags) — finer classes give
# the CRF sharper decision boundaries than training on the collapsed
# space (measured: span F1 0.842 collapsed vs 0.852 full→mapped).
DNRTI_TYPES = ["Area", "Exp", "Features", "HackOrg", "Idus", "OffAct",
               "Org", "Purp", "SamFile", "SecTeam", "Time", "Tool", "Way"]

CORPORA = {
    "dnrti": {
        "path": "/root/reference/DNRTI_Dataset",
        "etypes": DNRTI_TYPES,
        "use_patterns": True,
        "epochs": 32,
        "cost": 2.0,
        "miss_cost": 4.0,
        # trained neural emission branch (kernel/neural.py), score-fused
        # into the CRF decode: e += lam * ensemble log-softmax — the
        # engine's M7/M8 analog (reference BertModel.py:53-114 emissions
        # + model.py:455-465 gate fusion). Word2Vec at the reference's
        # scale (wod2vec_embedding.py:27: size=256, window=3,
        # min_count=2, 5 epochs). All hyperparameters valid-selected
        # with train-fitted models (NOTES_r4.md experiment log):
        # valid span F1 0.7676 -> 0.7955.
        "neural": {"mode": 1, "lam": 16.0, "dim": 256, "max_iter": 5,
                   "window": 3, "hidden": 100, "epochs": 45, "lr": 3e-3,
                   "nonO_weight": 2.0, "word_dropout": 0.1, "ens": 3},
    },
    "malwaredb": {
        "path": "/root/reference/MalwareDB/MalwareDB",
        "etypes": ["Action", "Entity", "Modifier"],
        "use_patterns": False,
        "epochs": 20,
        "cost": 2.0,
        "miss_cost": 4.0,
        # MalwareTextDB annotations are sentence-conditional ("attributed"
        # sentences only) — two-pass decode: attribution classifier +
        # margin gate over a token model trained on attributed sentences,
        # full-split model as fallback (kernel/perceptron.py two-pass
        # section). Hyperparameters selected on valid with train-fitted
        # models; the shipped artifact is the train+valid refit.
        "two_pass": True,
        "attr_epochs": 40,
        "clf_pos_w": 3.0,
        # neural emission branch fused into BOTH two-pass token models
        # (valid span F1 0.3183 -> 0.4475 train-fitted; lam plateau
        # 64-192, argmax 192; pure-neural asymptote 0.4147, so the CRF
        # features still add ~3pts). The dense sentence-embedding clf
        # block was a measured NEGATIVE (gate R 0.629 -> 0.599) and is
        # not enabled.
        "neural": {"mode": 1, "lam": 192.0, "dim": 256, "max_iter": 5,
                   "window": 3, "hidden": 100, "epochs": 45, "lr": 3e-3,
                   "nonO_weight": 2.0, "word_dropout": 0.1, "ens": 3},
    },
}


def corpus_available(corpus: str) -> bool:
    return os.path.exists(os.path.join(CORPORA[corpus]["path"], "train.txt"))


def _read_train(spark: SparkSession, corpus: str):
    """train+valid splits, native tagset (standard final-model fit; the
    test split is never read here)."""
    from .operators import conll

    cfg = CORPORA[corpus]
    df = conll.read_conll(spark, os.path.join(cfg["path"], "train.txt"))
    valid = os.path.join(cfg["path"], "valid.txt")
    if os.path.exists(valid):
        df = df.unionByName(conll.read_conll(spark, valid))
    return df


def label_space_for(corpus: str) -> LabelSpace:
    cfg = CORPORA[corpus]
    return CTI if cfg["etypes"] is None else LabelSpace(cfg["etypes"])


def _word_vectors(spark: SparkSession, corpus: str, dim: int, seed: int,
                  min_count: int = 2, max_iter: int = 1, window: int = 5):
    """Word2Vec over the corpus's unlabeled text, ALL splits — exactly
    the reference's scope: data_processing.py:31 builds all_sentences =
    train+valid+test and wod2vec_embedding.py:17-28 fits gensim Word2Vec
    on it (labels never read; their config: min_count=2, size=256,
    window=3, CBOW, gensim-default 5 epochs — pyspark.ml is skip-gram,
    a documented deviation). Test-split TEXT in the unlabeled embedding
    fit is what gives out-of-vocabulary test entities usable
    cluster/embedding features → (word, vector) DataFrame."""
    from pyspark.ml.feature import Word2Vec
    from pyspark.sql import functions as F

    from .operators import conll

    cfg = CORPORA[corpus]
    sents = None
    for split in ("train", "valid", "test"):
        path = os.path.join(cfg["path"], f"{split}.txt")
        if os.path.exists(path):
            df = conll.read_conll(spark, path).select("tokens")
            sents = df if sents is None else sents.unionByName(df)
    toks = sents.select(F.transform("tokens", lambda t: F.lower(t)).alias("tokens"))
    w2v = Word2Vec(vectorSize=dim, minCount=min_count, seed=seed,
                   numPartitions=1, maxIter=max_iter, windowSize=window,
                   inputCol="tokens", outputCol="vec")
    return w2v.fit(toks).getVectors()


def word_clusters(spark: SparkSession, corpus: str, *, dim: int = 50,
                  k_coarse: int = 64, k_fine: int = 512,
                  seed: int = 42) -> dict[str, tuple[int, int]]:
    """Semi-supervised word-cluster features: Word2Vec on the corpus's
    unlabeled train+valid+TEST text (the reference's exact scope —
    data_processing.py:31 all_sentences; wod2vec_embedding.py:27-47
    ships it at Result/Embedding/word_embedding.npy), then two k-means
    granularities over the vectors. Note the transductive dependency:
    test-split TEXT (never labels) joins the unsupervised fit, so eval
    F1 gates downstream reflect that reference-parity setting.
    Cluster ids are Brown-cluster-style CRF features: evidence learned on
    'loading' transfers to a cluster-sibling like 'dropping' even when the
    word never appears labeled. Fully seeded → deterministic artifact."""
    from pyspark.ml.clustering import KMeans

    vecs = _word_vectors(spark, corpus, dim, seed)  # (word, vector)
    out: dict[str, tuple[int, int]] = {}
    assign = {}
    for k in (k_coarse, k_fine):
        km = KMeans(k=k, seed=seed, featuresCol="vector", predictionCol="c")
        assign[k] = {
            r["word"]: int(r["c"])
            for r in km.fit(vecs).transform(vecs).select("word", "c").collect()
        }
    for w in assign[k_coarse]:
        out[w] = (assign[k_coarse][w], assign[k_fine][w])
    return out


def _neural_branch(spark: SparkSession, corpus: str,
                   sents: list[tuple[list[str], list[str]]],
                   ls, ncfg: dict) -> tuple[dict, object, object, dict]:
    """Train the BiLSTM emission branch (kernel/neural.py) on the corpus
    Word2Vec vectors → ("nn_*" artifact keys, emb, lookup, nn weights).
    Deterministic: seeded Word2Vec fit + seeded trainer."""
    import numpy as np

    from .kernel import neural
    from .kernel.tagger import casing_class

    rows = _word_vectors(spark, corpus, dim=ncfg.get("dim", 256), seed=42,
                         min_count=ncfg.get("min_count", 2),
                         max_iter=ncfg.get("max_iter", 5),
                         window=ncfg.get("window", 3)).collect()
    words = [r["word"] for r in rows]
    vecs = np.array([list(r["vector"]) for r in rows], dtype=np.float32)
    lookup, emb = neural.build_embedding(words, vecs)
    data = []
    for toks, tags in sents:
        toks = list(toks)[: perceptron.MAX_LEN]
        tags = list(tags)[: perceptron.MAX_LEN]
        if not toks:
            continue
        wid = neural.sent_ids(toks, lookup)
        cas = np.array([casing_class(t) for t in toks], dtype=np.int64)
        gold = np.array(
            [ls.label2id.get(t, ls.o_id)
             for t in perceptron.repair_bio(tags)], dtype=np.int64)
        data.append((wid, cas, gold))
    arts = {"nn_words": words, "nn_emb": emb,
            "nn_cfg": np.array([ncfg["mode"], ncfg.get("lam", 0.0)],
                               dtype=np.float64)}
    nnw = None
    for m in range(ncfg.get("ens", 3)):
        w_m, _losses = neural.train_bilstm(
            data, emb, n_labels=ls.n, o_id=ls.o_id,
            hidden=ncfg.get("hidden", 100), epochs=ncfg.get("epochs", 45),
            lr=ncfg.get("lr", 3e-3), nonO_weight=ncfg.get("nonO_weight", 2.0),
            seed=5 + m, word_dropout=ncfg.get("word_dropout", 0.1))
        nnw = w_m if nnw is None else nnw
        for k, v in w_m.items():
            arts[f"nn_m{m}_{k}"] = v
    return arts, emb, lookup, nnw


# ------------------------------------------------- M13: POS skip-gram trainer

def pos_pair_counts(spark: SparkSession, sents, *, window: int = 3):
    """(center_pos, context_pos) skip-gram pair counts over the UPOS
    stream of `sents` (a DataFrame with doc_id/sent_id/tokens), as an
    N_UPOS×N_UPOS numpy matrix.

    The window replicates the reference's build_skip_grams EXACTLY
    (POS_Embedding.py:60-68), including its asymmetric bound: for
    center i the context is range(max(0, i-w), min(i+w, n)) — j reaches
    i-w but only i+w-1. The POS mapping is the generated upos_case_sql
    CASE (JVM-side, whole-stage codegen). The count matrix is the
    sufficient statistic for the full-softmax objective, so the fit
    itself never touches corpus-scale data.

    Plan shape (r6): pair generation is ARRAY-LOCAL per sentence — the
    POS array and its in-window (center, context) pairs are built by
    nested transforms over the token array, so the ONLY Exchange in the
    plan is the ≤N_UPOS² groupBy with map-side partials. The previous
    exploded-token self-join put a full corpus-scale join shuffle in
    front of that tiny aggregation (VERDICT r5 "What's wrong #2").
    """
    import numpy as np
    from pyspark.sql import functions as F

    from .kernel import pos

    ps = sents.selectExpr(
        f"transform(tokens, x -> {pos.upos_case_sql('x')}) AS ps"
    )
    rows = (
        ps.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (cp, i) -> "
                    f"transform(filter(sequence(greatest(i - {window}, 0), "
                    f"least(i + {window} - 1, size(ps) - 1)), j -> j != i), "
                    "j -> struct(cp AS c, ps[j] AS o))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.c").alias("c"), F.col("p.o").alias("o"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = np.zeros((pos.N_UPOS, pos.N_UPOS), dtype=np.float64)
    for r in rows:
        counts[pos.UPOS2ID[r["c"]], pos.UPOS2ID[r["o"]]] = r["n"]
    return counts


def fit_pos_skipgram(counts, *, dim: int = 10, steps: int = 400,
                     lr: float = 0.01, seed: int = 42):
    """Full-batch deterministic fit of the reference's PosEmbedding
    skip-gram (POS_Embedding.py:44-57,105-135: embedding → linear(no
    bias) → log_softmax, NLLLoss, Adam lr 0.01) on the pair-count
    matrix. Full-batch on the sufficient statistic is the epoch-SGD
    objective without sampling noise; the reference's 0.5 dropout is a
    regularizer for its 18-param-per-row model and is omitted here for
    determinism (documented deviation). Returns (emb float32 (V,dim),
    losses) with loss = mean NLL per observed pair, recorded every 50
    steps.
    """
    import numpy as np

    V = counts.shape[0]
    total = counts.sum()
    rng = np.random.default_rng(seed)
    lim_e = np.sqrt(6.0 / (V + dim))
    emb = rng.uniform(-lim_e, lim_e, size=(V, dim))
    lim_f = np.sqrt(6.0 / (dim + V))
    fc = rng.uniform(-lim_f, lim_f, size=(dim, V))
    if total == 0:
        return emb.astype(np.float32), [0.0]
    b1, b2, eps = 0.9, 0.999, 1e-8
    m = {"e": np.zeros_like(emb), "f": np.zeros_like(fc)}
    v = {"e": np.zeros_like(emb), "f": np.zeros_like(fc)}
    row_tot = counts.sum(axis=1, keepdims=True)
    losses: list[float] = []
    for t in range(1, steps + 1):
        logits = emb @ fc
        z = logits - logits.max(axis=1, keepdims=True)
        p = np.exp(z)
        logp = z - np.log(p.sum(axis=1, keepdims=True))
        p /= p.sum(axis=1, keepdims=True)
        if t == 1 or t % 50 == 0 or t == steps:
            losses.append(float(-(counts * logp).sum() / total))
        g = (p * row_tot - counts) / total
        grads = {"e": g @ fc.T, "f": emb.T @ g}
        for k, w in (("e", emb), ("f", fc)):
            m[k] = b1 * m[k] + (1 - b1) * grads[k]
            v[k] = b2 * v[k] + (1 - b2) * grads[k] ** 2
            w -= lr * (m[k] / (1 - b1**t)) / (np.sqrt(v[k] / (1 - b2**t)) + eps)
    return emb.astype(np.float32), losses


def train_pos_embeddings(spark: SparkSession, corpus: str = "dnrti", *,
                         dim: int = 10, window: int = 3, steps: int = 400,
                         lr: float = 0.01, seed: int = 42):
    """M13 end-to-end: POS skip-gram embedding table (N_UPOS, dim) from
    ALL corpus splits — the reference trains on train+valid+test posid
    sequences (POS_Embedding.py:26-36; labels never read). Drop the
    result into build_weights() output as w['pos_emb'] to replace the
    random init (TaggerKernel consumes it in the M2 feature fusion).
    """
    from .operators import conll

    cfg = CORPORA[corpus]
    sents = None
    for split in ("train", "valid", "test"):
        path = os.path.join(cfg["path"], f"{split}.txt")
        if os.path.exists(path):
            df = conll.read_conll(spark, path).select("doc_id", "sent_id", "tokens")
            sents = df if sents is None else sents.unionByName(df)
    counts = pos_pair_counts(spark, sents, window=window)
    emb, _losses = fit_pos_skipgram(counts, dim=dim, steps=steps, lr=lr, seed=seed)
    return emb


def train_corpus(spark: SparkSession, corpus: str, *, epochs: int | None = None
                 ) -> tuple[dict, dict, dict]:
    """Fit on the train split → (trained arrays, lexicon, clusters)."""
    from .operators import conll

    cfg = CORPORA[corpus]
    ls = label_space_for(corpus)
    train = _read_train(spark, corpus)
    # lexicon features come from the TRAIN split only: inducing them from
    # train+valid makes every training sentence's lexicon feature a
    # near-oracle, so the learner over-trusts it and test-time recall
    # drops (measured: MalwareDB span F1 0.300 tv-lexicon vs 0.321
    # train-only). The model still FITS on train+valid.
    lex = conll.induce_lexicon(
        conll.read_conll(spark, os.path.join(cfg["path"], "train.txt"))
    )
    clusters = word_clusters(spark, corpus)
    n_epochs = epochs if epochs is not None else cfg["epochs"]
    ncfg = cfg.get("neural")
    sents = [
        (list(r["tokens"]), list(r["tags"]))
        for r in train.select("tokens", "tags").collect()
    ]
    nn_arts = None
    extras = None
    if ncfg:
        import numpy as np

        from .kernel import neural

        nn_arts, emb, lookup, _nnw = _neural_branch(spark, corpus, sents, ls, ncfg)
        if int(ncfg["mode"]) == neural.MODE_STACK:
            # jackknifed branch predictions as training features (a
            # branch predicting its own training sentences would be
            # near-oracle and the CRF would over-trust it)
            from .kernel.tagger import casing_class

            def prep(ss):
                out = []
                for toks, tags in ss:
                    toks = list(toks)[: perceptron.MAX_LEN]
                    wid = neural.sent_ids(toks, lookup)
                    cas = np.array([casing_class(t) for t in toks],
                                   dtype=np.int64)
                    gold = np.array(
                        [ls.label2id.get(t, ls.o_id)
                         for t in perceptron.repair_bio(list(tags)[: perceptron.MAX_LEN])],
                        dtype=np.int64)
                    out.append((wid, cas, gold))
                return out

            data = prep(sents)
            extras = [None] * len(sents)
            for fold in (0, 1):
                fit = [data[i] for i in range(len(sents)) if i % 2 != fold]
                wf, _ = neural.train_bilstm(
                    fit, emb, n_labels=ls.n, o_id=ls.o_id,
                    hidden=ncfg.get("hidden", 100),
                    epochs=ncfg.get("epochs", 45), lr=ncfg.get("lr", 3e-3),
                    nonO_weight=ncfg.get("nonO_weight", 2.0), seed=5,
                    word_dropout=ncfg.get("word_dropout", 0.1))
                for i in range(fold, len(sents), 2):
                    toks = list(sents[i][0])[: perceptron.MAX_LEN]
                    if not toks:
                        extras[i] = []
                        continue
                    lg = neural.sent_logits(toks, wf, emb, lookup)
                    extras[i] = neural.stack_extra(lg, ls.id2label)
    arts = perceptron.train_crf(
        sents, ls, lex, epochs=n_epochs, use_patterns=cfg["use_patterns"],
        cost=cfg["cost"], miss_cost=cfg["miss_cost"], clusters=clusters,
        extras=extras,
    )
    if cfg.get("two_pass"):
        attr_idx = [i for i, (t, g) in enumerate(sents)
                    if any(x != "O" for x in g)]
        arts2 = perceptron.train_crf(
            [sents[i] for i in attr_idx], ls, lex, epochs=cfg["attr_epochs"],
            use_patterns=cfg["use_patterns"], cost=cfg["cost"],
            miss_cost=cfg["miss_cost"], clusters=clusters,
            extras=[extras[i] for i in attr_idx] if extras is not None else None,
        )
        arts["sp2_w"] = arts2["sp_w"]
        arts["sp2_trans"] = arts2["sp_trans"]
        clf_dense = None
        if cfg.get("clf_dense") and nn_arts is not None:
            clf_dense = [perceptron.sent_mean_emb(list(t), lookup, emb)
                         for t, _ in sents]
        clf_out = perceptron.train_sentence_clf(
            sents, lex, clusters=clusters, pos_w=cfg["clf_pos_w"],
            dense=clf_dense,
        )
        if clf_dense is not None:
            arts["clf_w"], clf_dw = clf_out
            if clf_dw is not None:  # None ⇔ no non-empty sentence to fit
                arts["clf_dw"] = clf_dw
        else:
            arts["clf_w"] = clf_out
    if nn_arts is not None:
        arts.update(nn_arts)
    return arts, lex, clusters


def trained_weights(spark: SparkSession, corpus: str, *, refresh: bool = False
                    ) -> tuple[dict, dict, LabelSpace]:
    """(kernel weight bundle incl. trained "sp_*" arrays, lexicon, label
    space) for a reference corpus — from the cached artifact when
    present, else trained now and cached."""
    ls = label_space_for(corpus)
    path = os.path.join(ARTIFACT_DIR, f"{corpus}_crf.npz")
    arts = None
    if not refresh and os.path.exists(path):
        try:
            arts, lex, etypes = perceptron.load_artifact(path)
        except ValueError:
            # pre-r5 object-dtype artifact: allow_pickle=False refuses
            # it — fall through to retraining exactly like the stale-
            # etypes branch instead of crashing on the old local cache
            arts = None
        else:
            if etypes != ls.etypes:
                # stale cached artifact (label space changed since it
                # was written): silently decoding with a mismatched
                # label space would produce wrong tags — retrain
                # instead of asserting (a bare assert is stripped
                # under python -O)
                arts = None
    if arts is None:
        arts, lex, clusters = train_corpus(spark, corpus)
        arts["_sp_clusters"] = clusters
        os.makedirs(ARTIFACT_DIR, exist_ok=True)
        perceptron.save_artifact(path, arts, lex, ls.etypes)
    weights = build_weights(label_space=ls)
    weights.update(arts)
    return weights, lex, ls
