"""Representative-collapse (blocking.collapse_token_sets/expand_rep_pairs)
must be a lossless rewrite: banding+scoring distinct sets then expanding
yields bit-identical pairs to banding+scoring every document."""

from __future__ import annotations

from pyspark.sql import functions as F

from scabillmatch_spark.functions import similarity as SIM
from scabillmatch_spark.operators import blocking, pairs


def _docs(spark):
    # listed out of id order, so the min-id member is not the first row seen
    rows = [
        (4, [10, 20, 30, 40]),   # exact dup of 1
        (3, [10, 20, 30, 41]),   # near-dup of 1/2/4
        (2, [10, 20, 30, 40]),   # another exact dup
        (1, [10, 20, 30, 40]),
        (6, [99, 98, 97]),       # dup of 5
        (5, [99, 98, 97]),       # unrelated to 1-4
        (7, [50]),               # singleton
    ]
    # tag: a pass-through column that is not set-determined
    return spark.createDataFrame(
        [(i, sorted(s), f"d{i}") for i, s in rows],
        "pk long, toks array<long>, tag string",
    )


def _direct(docs, threshold):
    cands = blocking.lsh_candidate_pairs(
        docs, "pk", "toks", num_hashes=16, num_bands=4, min_jaccard=threshold
    )
    return (
        pairs.score_pairs(cands, docs, SIM.jaccard, id_col="pk", feature_col="toks")
        .filter(F.col("similarity") >= threshold)
    )


def _collapsed(docs, threshold):
    reps, members = blocking.collapse_token_sets(docs, id_col="pk", set_col="toks")
    rc = blocking.lsh_candidate_pairs(
        reps.select("__set_id", "toks"), "__set_id", "toks",
        num_hashes=16, num_bands=4, min_jaccard=threshold,
    )
    rs = (
        pairs.score_pairs(
            rc, reps.select("__set_id", "toks"),
            SIM.jaccard, id_col="__set_id", feature_col="toks",
        )
        .select(F.col("pk1").alias("__sid1"), F.col("pk2").alias("__sid2"), "similarity")
        .filter(F.col("similarity") >= threshold)
    )
    return blocking.expand_rep_pairs(rs, members, id_col="pk")


def test_collapse_expand_is_lossless(spark):
    docs = _docs(spark)
    cols = ["pk1", "pk2", "similarity"]
    for threshold in (50.0, 90.0):
        a = sorted(map(tuple, _direct(docs, threshold).select(*cols).collect()))
        b = sorted(map(tuple, _collapsed(docs, threshold).select(*cols).collect()))
        assert a == b, f"threshold={threshold}: {a} != {b}"
    # the dup groups must appear as intra-group 100s
    got = dict(
        ((r["pk1"], r["pk2"]), r["similarity"])
        for r in _collapsed(docs, 90.0).collect()
    )
    assert got[(1, 2)] == 100.0 and got[(2, 4)] == 100.0 and got[(5, 6)] == 100.0


def test_collapse_excludes_empty_sets(spark):
    """jaccard(∅, X) = 0 everywhere, so empty-set docs can never reach a
    positive threshold — the intra-group expansion must NOT stamp two
    empty-set docs as similarity 100 (the direct plan scores them 0)."""
    docs = spark.createDataFrame(
        [(1, []), (2, []), (3, [7, 8, 9]), (4, [7, 8, 9])],
        "pk long, toks array<long>",
    )
    out = sorted(
        map(tuple, _collapsed(docs, 50.0).select("pk1", "pk2", "similarity").collect())
    )
    assert out == [(3, 4, 100.0)]
    direct = sorted(
        map(tuple, _direct(docs, 50.0).select("pk1", "pk2", "similarity").collect())
    )
    assert out == direct


def test_collapse_shrinks_quadratic_side(spark):
    docs = _docs(spark)
    reps, members = blocking.collapse_token_sets(docs, id_col="pk", set_col="toks")
    assert reps.count() == 4   # 4 distinct sets among 7 docs
    assert members.count() == 7


def test_reps_carry_min_id_members_row(spark):
    docs = _docs(spark)
    reps, _ = blocking.collapse_token_sets(docs, id_col="pk", set_col="toks")
    got = sorted((r["pk"], r["tag"]) for r in reps.collect())
    assert got == [(1, "d1"), (3, "d3"), (5, "d5"), (7, "d7")]


def test_semi_join_reps_equal_the_groupby_form(spark):
    """The (__set_id, id, set) rows and members match the earlier
    groupBy(__set_id).agg(min(id), first(set)) formulation."""
    docs = _docs(spark)
    reps, members = blocking.collapse_token_sets(docs, id_col="pk", set_col="toks")
    tagged = docs.filter(F.size("toks") > 0).withColumn(
        "__set_id", F.md5(F.concat_ws(",", "toks"))
    )
    old_reps = tagged.groupBy("__set_id").agg(
        F.min("pk").alias("pk"), F.first("toks").alias("toks")
    )
    cols = ["__set_id", "pk", "toks"]
    assert sorted(map(tuple, reps.select(*cols).collect())) == sorted(
        map(tuple, old_reps.select(*cols).collect())
    )
    assert sorted(map(tuple, members.collect())) == sorted(
        map(tuple, tagged.select("__set_id", "pk").collect())
    )
