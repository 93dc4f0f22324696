"""Shared tokenized-corpus projection, a :func:`session.shared_relation`.

Several pipelines need the same expensive narrow projection of the
``documents`` table — (doc, lang, source, n_chars, token-id set).
Tokenize + md5 is the dominant cost of every similarity plan (measured
~2x the LSH join itself at sf0.1), and the flagship match, the near-dup
query, and the whole graph family each used to rebuild it. This module
computes it once per (SparkSession application, sf_dir) and persists it —
the cache contract is in ``session.shared_relation``'s docstring — the
DataFrame analog of the reference writing its featurized corpus once
and reusing it across jobs (ExtractCandidates.scala:148-156 saves the
cleaned corpus before pairing).

The raw scan is round-robin repartitioned to the default parallelism
*before* tokenization: a small parquet file arrives as ONE split, and a
persisted projection materializes with its input partitioning — without
the repartition the whole corpus would tokenize on a single core (the
single-partition scan trap). At real scale the input already has enough
splits and the repartition coalesces to a no-op-sized shuffle of raw
text, paid once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scabillmatch_spark.functions import text as TX
from scabillmatch_spark.io.sources import read_table
from scabillmatch_spark.session import shared_relation


@shared_relation
def doc_token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, lang, source, n_chars, tok_ids, toks) over ``documents``.

    ``toks`` is the sorted-distinct 60-bit token-id array
    (functions/text.py token_id_set), the engine's native set
    representation for Jaccard/MinHash scoring.
    """
    return (
        read_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("doc_id").alias("doc"),
            "lang",
            "source",
            "n_chars",
            TX.ordered_token_ids("text").alias("tok_ids"),
        )
        # toks (sorted distinct) derives from tok_ids without re-hashing;
        # tok_ids stays available so shingle ids (MinHash dedup) come from
        # the same single md5 pass
        .withColumn("toks", F.array_sort(F.array_distinct("tok_ids")))
    )
