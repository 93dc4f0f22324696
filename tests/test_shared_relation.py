"""The shared-relation contract of ``session.shared_relation``: one build
and one persisted relation per (application, name, sf_dir), handed to every
caller as a wrapper so no caller can unpersist it for the others."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scabillmatch_spark import session
from scabillmatch_spark.operators import corpus


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _reads_cache(df) -> bool:
    return "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def probe():
    """A throwaway relation that records its builds; unregistered and
    released afterwards."""
    builds: list[str] = []

    def _probe_relation(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(50, numPartitions=2).withColumn("sq", F.col("id") * F.col("id"))

    yield session.shared_relation(_probe_relation), builds
    session.SHARED_RELATIONS.pop("probe_relation")
    for key in [k for k in session._persisted if k[0] == "probe_relation"]:
        session._persisted.pop(key).unpersist()


def test_accessor_is_registered_under_its_name(probe):
    accessor, _ = probe
    assert session.SHARED_RELATIONS["probe_relation"] is accessor
    assert accessor.__name__ == "_probe_relation"
    assert session.SHARED_RELATIONS["doc_token_sets"] is corpus.doc_token_sets


def test_second_call_adds_no_persisted_rdd(spark, sf_small):
    first = sorted(corpus.doc_token_sets(spark, sf_small).collect())
    persisted = _persisted_rdds(spark)
    second = corpus.doc_token_sets(spark, sf_small)
    assert sorted(second.collect()) == first
    assert _persisted_rdds(spark) == persisted
    assert _reads_cache(second)


def test_caller_unpersist_keeps_the_shared_relation(spark, sf_small, probe):
    accessor, builds = probe
    handed = accessor(spark, "k")
    rows = sorted(handed.collect())
    persisted = _persisted_rdds(spark)
    handed.unpersist(blocking=True)
    again = accessor(spark, "k")
    assert sorted(again.collect()) == rows
    assert builds == ["k"]
    assert _persisted_rdds(spark) == persisted
    assert _reads_cache(again)

    # the same for a real relation: the token sets stay persisted
    corpus.doc_token_sets(spark, sf_small).count()
    persisted = _persisted_rdds(spark)
    corpus.doc_token_sets(spark, sf_small).unpersist(blocking=True)
    assert _persisted_rdds(spark) == persisted
    assert _reads_cache(corpus.doc_token_sets(spark, sf_small))


def test_each_sf_dir_is_its_own_relation(spark, probe):
    accessor, builds = probe
    accessor(spark, "a").count()
    accessor(spark, "b").count()
    accessor(spark, "a").count()
    assert builds == ["a", "b"]


def test_new_application_drops_the_previous_entries(spark, probe, monkeypatch):
    accessor, builds = probe
    stale = spark.range(1)
    monkeypatch.setattr(session, "_persisted", {("probe_relation", "k"): stale})
    monkeypatch.setattr(session, "_application", "an-earlier-application")
    try:
        assert accessor(spark, "k").count() == 50
        assert builds == ["k"]
        assert ("probe_relation", "k") in session._persisted
        assert session._application == spark.sparkContext.applicationId
    finally:
        session._persisted.pop(("probe_relation", "k")).unpersist()
