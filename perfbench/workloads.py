"""The benchmark's operations, one class per workload.

``run`` is the untraced operation: exactly the public call a user makes
(``plans.bill_match.document_match`` or ``cli.main([...])``). ``run_traced``
makes the same layer calls one by one under ``Trace.span``; a layer
boundary has to be materialized to be timed, so the benchmark persists and
counts between layers and releases what it persisted at the end. Frames the
engine itself persists are left alone in both modes.

Every operation reads only its own input set (``inputs``); ``check`` runs
the independent oracle on what the operation wrote.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import oracles
import probes

MATCH_TOP = 10**6           # above any planted pair count: every qualifying pair
TFIDF_K, TFIDF_ITERS, TFIDF_TOP = 8, 2, 100
DELTA_SHINGLE, DELTA_HASHES, DELTA_BANDS, DELTA_THRESHOLD = 3, 32, 8, 70.0


def _noop_scan(spark, fmt: str, path: str) -> None:
    """Read every column of ``path`` into Spark's no-op sink (io.read)."""
    from scabillmatch_spark.io.sources import BILL_SCHEMA

    reader = spark.read.schema(BILL_SCHEMA) if fmt == "json" else spark.read
    reader.format(fmt).load(path).write.format("noop").mode("overwrite").save()


class LshMatch:
    """document_match over a fresh documents table; result to parquet."""

    name = "lsh_match"

    def inputs(self, base, label):
        return [f"{base}/{label}/documents.parquet"]

    def outputs(self, out):
        return [f"{out}/result"]

    def run(self, spark, base, label, out):
        from scabillmatch_spark.plans.bill_match import document_match

        document_match(spark, f"{base}/{label}", top=MATCH_TOP) \
            .write.mode("overwrite").parquet(f"{out}/result")

    def run_traced(self, spark, base, label, out, tr):
        from scabillmatch_spark.functions import similarity as SIM
        from scabillmatch_spark.operators import blocking, corpus, pairs

        t = oracles.MATCH_THRESHOLD
        src = f"{base}/{label}"
        own = []

        def keep(df):
            own.append(df.persist())
            return df

        with tr.span("io.read") as c:
            _noop_scan(spark, "parquet", f"{src}/documents.parquet")
            c["mb"] = probes.dir_mb(f"{src}/documents.parquet")
        with tr.span("text.tokenize") as c:
            toks = corpus.doc_token_sets(spark, src)
            c["tokens"] = toks.agg(F.sum(F.size("tok_ids"))).first()[0]
            docs = toks.filter(F.col("n_chars") >= 40).select(
                F.col("doc").cast("string").alias("primary_key"),
                F.col("toks").alias("tokens"))
        with tr.span("blocking.collapse") as c:
            reps, members = blocking.collapse_token_sets(docs, id_col="primary_key", set_col="tokens")
            reps, members = keep(reps), keep(members)
            c["distinct_sets"] = reps.count()
            members.count()
        with tr.span("blocking.band_join") as c:
            cands = keep(blocking.lsh_candidate_pairs(
                reps, id_col="__set_id", set_col="tokens",
                num_hashes=oracles.MATCH_HASHES, num_bands=oracles.MATCH_BANDS, min_jaccard=t))
            c["candidates"] = cands.count()
        with tr.span("pairs.rescore") as c:
            rep_scored = keep(pairs.score_pairs(
                cands, reps.select("__set_id", "tokens"), SIM.jaccard,
                id_col="__set_id", feature_col="tokens",
            ).select(F.col("pk1").alias("__sid1"), F.col("pk2").alias("__sid2"), "similarity")
                .filter(F.col("similarity") >= t))
            c["passed"] = rep_scored.count()
        with tr.span("pairs.expand"):
            scored = keep(blocking.expand_rep_pairs(rep_scored, members, id_col="primary_key", threshold=t))
            scored.count()
        with tr.span("pairs.top_n"):
            res = keep(pairs.top_n(scored, MATCH_TOP).select(
                "pk1", "pk2", F.round("similarity", 4).alias("similarity")))
            res.count()
        with tr.span("io.write") as c:
            res.write.mode("overwrite").parquet(f"{out}/result")
            c["mb"] = probes.dir_mb(f"{out}/result")
        for df in own:
            df.unpersist()

    def check(self, base, label, out):
        return oracles.check_lsh_match(f"{out}/result", f"{base}/{label}/documents.parquet")


class TfidfPipeline:
    """Reference workflow 1 through the CLI: featurize (TF-IDF + k-means
    labels) -> kmeans candidates -> cosine score -> postprocess."""

    name = "tfidf_pipeline"

    def inputs(self, base, label):
        return [f"{base}/{label}/bills.json"]

    def outputs(self, out):
        return [f"{out}/{p}" for p in ("feats", "pairs", "scored", "post")]

    def _steps(self, base, label, out):
        bills = f"{base}/{label}/bills.json"
        return [
            ["featurize", "--input", bills, "--output", f"{out}/feats",
             "--kmeans-k", str(TFIDF_K), "--kmeans-iters", str(TFIDF_ITERS)],
            ["candidates", "--input", f"{out}/feats", "--output", f"{out}/pairs",
             "--strategy", "kmeans"],
            ["score", "--pairs", f"{out}/pairs", "--features", f"{out}/feats",
             "--measure", "cosine", "--output", f"{out}/scored"],
            ["postprocess", "--scored", f"{out}/scored", "--docs", bills,
             "--output", f"{out}/post", "--top", str(TFIDF_TOP)],
        ]

    def run(self, spark, base, label, out):
        from scabillmatch_spark import cli

        for argv in self._steps(base, label, out):
            cli.main(argv)

    def run_traced(self, spark, base, label, out, tr):
        from scabillmatch_spark import cli
        from scabillmatch_spark.io.sources import read_bills_json
        from scabillmatch_spark.ml.cluster import kmeans_labels
        from scabillmatch_spark.ml.featurize import FeatureConfig, extract_features

        feat_argv, cand_argv, score_argv, post_argv = self._steps(base, label, out)
        bills = f"{base}/{label}/bills.json"
        with tr.span("io.read") as c:
            _noop_scan(spark, "json", bills)
            c["mb"] = probes.dir_mb(bills)
        # the featurize step, layer by layer (cli.cmd_featurize)
        with tr.span("featurize.fit_transform"):
            feats, _ = extract_features(read_bills_json(spark, bills), FeatureConfig())
            feats = feats.persist()
            feats.count()
        with tr.span("cluster.kmeans_fit") as c:
            labelled, _ = kmeans_labels(feats, k=TFIDF_K, max_iter=TFIDF_ITERS)
            labelled = labelled.persist()
            labelled.count()
        with tr.span("io.write") as c:
            labelled.write.mode("overwrite").parquet(f"{out}/feats")
            c["mb"] = probes.dir_mb(f"{out}/feats")
        labelled.unpersist()
        feats.unpersist()
        with tr.span("blocking.kmeans_pairs") as c:
            cli.main(cand_argv)
            c["pairs"] = oracles.read_parquet(f"{out}/pairs").shape[0]
        cpu0 = probes.python_worker_cpu_s()
        with tr.span("kernels.score") as c:
            cli.main(score_argv)
        c["python_cpu_s"] = probes.python_worker_cpu_s() - cpu0
        with tr.span("pairs.postprocess"):
            cli.main(post_argv)

    def check(self, base, label, out):
        return oracles.check_tfidf_pipeline(out, TFIDF_TOP)


class IngestMerge:
    """Per operation: cli dedup-delta of a new batch against the current
    snapshot, then cli merge of the batch into it, which writes the next
    snapshot. The first operation reads the generated snapshot; each later
    one reads the snapshot the operation before it wrote."""

    name = "ingest_merge"

    def __init__(self):
        self.snapshot = None
        self.read_snapshot = {}   # label -> snapshot that operation read

    def inputs(self, base, label):
        return [f"{base}/{label}/batch.parquet", self.snapshot or f"{base}/snapshot.parquet"]

    def outputs(self, out):
        return [f"{out}/delta", f"{out}/snapshot"]

    def _argv(self, base, label, out):
        batch = f"{base}/{label}/batch.parquet"
        snap = self.snapshot or f"{base}/snapshot.parquet"
        self.read_snapshot[label] = snap
        self.snapshot = f"{out}/snapshot"
        return (
            ["dedup-delta", "--corpus", snap, "--delta", batch, "--output", f"{out}/delta",
             "--shingle-n", str(DELTA_SHINGLE), "--num-hashes", str(DELTA_HASHES),
             "--bands", str(DELTA_BANDS), "--threshold", str(DELTA_THRESHOLD)],
            ["merge", "--target", snap, "--source", batch, "--keys", "primary_key",
             "--output", f"{out}/snapshot"],
        )

    def run(self, spark, base, label, out):
        from scabillmatch_spark import cli

        for argv in self._argv(base, label, out):
            cli.main(argv)

    def run_traced(self, spark, base, label, out, tr):
        from scabillmatch_spark import cli
        from scabillmatch_spark.functions import text as TX
        from scabillmatch_spark.operators import blocking
        from scabillmatch_spark.operators.dedup import minhash_dedup_delta

        batch = f"{base}/{label}/batch.parquet"
        delta_argv, merge_argv = self._argv(base, label, out)
        snap = self.read_snapshot[label]
        with tr.span("io.read") as c:
            _noop_scan(spark, "parquet", snap)
            _noop_scan(spark, "parquet", batch)
            c["mb"] = probes.dir_mb(snap, batch)

        def sets_of(path):  # cli.cmd_dedup_delta's shingle sets
            return spark.read.parquet(path).select(
                "primary_key",
                TX.ngram_ids_from_token_ids(TX.ordered_token_ids("content"), DELTA_SHINGLE)
                .alias("shingles"),
            ).persist()

        with tr.span("text.tokenize") as c:
            corpus_sets, delta_sets = sets_of(snap), sets_of(batch)
            c["tokens"] = sum(df.agg(F.sum(F.size("shingles"))).first()[0]
                              for df in (corpus_sets, delta_sets))
        with tr.span("dedup.delta") as c:
            minhash_dedup_delta(
                corpus_sets, delta_sets, id_col="primary_key", set_col="shingles",
                num_hashes=DELTA_HASHES, num_bands=DELTA_BANDS,
                jaccard_threshold=DELTA_THRESHOLD,
            ).write.mode("overwrite").parquet(f"{out}/delta")
            c["reported"] = oracles.read_parquet(f"{out}/delta").shape[0]
        # candidate count for the yield, outside any layer span
        ren = [F.col("primary_key").alias("__id"), F.col("shingles").alias("__set")]
        tr.spans[-1]["counts"]["candidates"] = blocking.lsh_candidate_pairs_two_sided(
            delta_sets.select(*ren), corpus_sets.select(*ren), "__id", "__set",
            num_hashes=DELTA_HASHES, num_bands=DELTA_BANDS, min_jaccard=DELTA_THRESHOLD,
        ).count()
        corpus_sets.unpersist()
        delta_sets.unpersist()
        with tr.span("merge.upsert") as c:
            cli.main(merge_argv)
            c["ratio"] = probes.dir_mb(f"{out}/snapshot") / probes.dir_mb(batch)

    def check(self, base, label, out):
        return oracles.check_ingest_merge(
            out, self.read_snapshot[label], f"{base}/{label}/batch.parquet",
            f"{base}/{label}/planted.json")


WORKLOADS = {w.name: w for w in (LshMatch, TfidfPipeline, IngestMerge)}
