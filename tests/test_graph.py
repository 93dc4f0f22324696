from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scabillmatch_spark.operators import graph


@pytest.fixture(scope="module")
def square_graph(spark):
    # square 1-2-3-4 plus diagonal 1-3 => triangles (1,2,3) and (1,3,4)
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], ["src", "dst"]
    )


def test_triangles(square_graph):
    rows = {r.id: r["count"] for r in graph.triangle_count_per_vertex(square_graph).collect()}
    assert rows == {1: 2, 2: 1, 3: 2, 4: 1}
    assert graph.triangle_count(square_graph).first().n_triangles == 2


@pytest.mark.parametrize(
    "max_iter, num_shuffle_partitions",
    [(3, 2), (5, None)],  # localCheckpoint tail; a final round cut
)
def test_pagerank_leaves_only_the_returned_cut_persisted(
    spark, max_iter, num_shuffle_partitions
):
    # a graph of its own per case: a frame equal to one cached earlier
    # would reuse that cache entry and hide what this call leaves behind
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 10 + max_iter)], ["src", "dst"]
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    ranks = graph.pagerank(
        edges, max_iter=max_iter, num_shuffle_partitions=num_shuffle_partitions
    )
    left = set(jsc.getPersistentRDDs().keySet()) - before
    assert len(left) == 1  # the cut the ranks read; verts and e_w released
    assert abs(sum(r.pagerank for r in ranks.collect()) - 1.0) < 1e-6


def test_shortest_paths(square_graph):
    d = {r.id: r.distance for r in graph.shortest_paths(square_graph, 2).collect()}
    assert d == {2: 0, 1: 1, 3: 1, 4: 2}


def test_connected_components(spark):
    # path 1-2-3, isolated pair 6-7, self-contained triangle 10-11-12
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (6, 7), (10, 11), (11, 12), (10, 12)], ["src", "dst"]
    )
    got = {(r.id, r.component) for r in graph.connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (6, 6), (7, 6),
                   (10, 10), (11, 10), (12, 10)}


def test_shortest_paths_multi_landmark(spark):
    # path graph 1-2-3-4-5 plus isolated pair 6-7; landmarks {1, 4}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], ["src", "dst"]
    )
    rows = graph.shortest_paths(edges, [1, 4], max_depth=6).collect()
    got = {(r.id, r.landmark): r.distance for r in rows}
    expect = {
        (1, 1): 0, (2, 1): 1, (3, 1): 2, (4, 1): 3, (5, 1): 4,
        (4, 4): 0, (3, 4): 1, (5, 4): 1, (2, 4): 2, (1, 4): 3,
    }
    assert got == expect  # 6/7 unreachable from both landmarks -> absent


def test_pagerank_sums_to_one(square_graph):
    pr = graph.pagerank(square_graph, max_iter=10).collect()
    total = sum(r.pagerank for r in pr)
    assert abs(total - 1.0) < 1e-6
    by_id = {r.id: r.pagerank for r in pr}
    # degree-3 vertices (1 and 3) must outrank degree-2 (2 and 4)
    assert by_id[1] > by_id[2] and by_id[3] > by_id[4]
    assert abs(by_id[1] - by_id[3]) < 1e-9 and abs(by_id[2] - by_id[4]) < 1e-9

def test_weighted_shortest_paths(spark):
    # 1 -2.0- 2 -2.0- 3 ; direct 1-3 costs 5.0 => best dist(3)=4.0 via 2
    edges = spark.createDataFrame(
        [(1, 2, 2.0), (2, 3, 2.0), (1, 3, 5.0), (3, 4, 1.0)],
        ["src", "dst", "weight"],
    )
    d = {r.id: r.distance for r in graph.weighted_shortest_paths(edges, 1).collect()}
    assert d == {1: 0.0, 2: 2.0, 3: 4.0, 4: 5.0}


def test_connected_components_warns_when_not_converged(spark):
    """A path graph needs diameter rounds; an exhausted budget must warn
    (silent split components was the failure mode)."""
    import warnings

    from scabillmatch_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components(edges, max_iter=2)
        out.collect()
        assert any("did not converge" in str(x.message) for x in w)
    # and with enough rounds: one component, no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        full = connected_components(edges, max_iter=20)
        assert full.select("component").distinct().count() == 1
        assert not any("did not converge" in str(x.message) for x in w)


def test_k_core_peels_tail_and_keeps_clique(spark):
    """K4 clique + a pendant path: 3-core = the clique alone (every clique
    vertex keeps degree 3); the path peels away over successive rounds."""
    from scabillmatch_spark.operators.graph import k_core

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + path, "src long, dst long")
    out = {r["id"]: r["degree"] for r in k_core(edges, 3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}
    # 1-core keeps everything (no vertex has degree 0): 7 vertices total
    assert k_core(edges, 1).count() == 7
    # 4-core of K4 is empty (max degree is 3)
    assert k_core(edges, 4).count() == 0


def test_k_core_warns_when_not_converged(spark):
    """A long path with k=2 peels two endpoints per round — an exhausted
    budget must warn rather than silently return a superset core."""
    import warnings

    from scabillmatch_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        k_core(edges, 2, max_iter=2).collect()
        assert any("did not converge" in str(x.message) for x in w)
    # with budget: the 2-core of a path is empty
    assert k_core(edges, 2, max_iter=20).count() == 0


def test_checkpoint_dir_parquet_cuts_on_cadence_only(spark, tmp_path, monkeypatch):
    """The r12 hybrid (_RoundCuts): with checkpoint_dir set, per-round
    loops persist(DISK_ONLY) each round and hit reliable storage only
    every CHECKPOINT_EVERY rounds (+ the finish cut) — NOT once per round
    (the r11 behavior the advice flagged as a 5x remote-I/O increase).
    Counts actual parquet materializations via _round_materialize, and
    re-asserts result equality with the local path under the spy."""
    from scabillmatch_spark.operators import graph

    calls = []
    orig = graph._round_materialize

    def spy(df, round_idx, run_dir):
        if run_dir is not None:
            calls.append(round_idx)
        return orig(df, round_idx, run_dir)

    monkeypatch.setattr(graph, "_round_materialize", spy)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    local = {
        (r.id, r.label)
        for r in graph.label_propagation(edges, max_iter=7).collect()
    }
    assert calls == []  # run_dir=None path never touches parquet
    reliable = {
        (r.id, r.label)
        for r in graph.label_propagation(
            edges, max_iter=7, checkpoint_dir=str(tmp_path / "lpa")
        ).collect()
    }
    assert reliable == local
    # 7 rounds -> one cadence cut (round 5) + the finish cut; a
    # per-round-parquet regression shows 7+ entries here
    assert len(calls) == 2, calls


def test_connected_components_reliable_checkpoint_equivalence(spark, tmp_path):
    """checkpoint_dir is the cluster-scale materialization path (reliable
    parquet cuts instead of localCheckpoint): labels must be
    IDENTICAL to the default path, older round dirs must be swept as the
    loop advances, and the final round's files must survive for the
    returned frame's consumption."""
    import os

    from scabillmatch_spark.operators.graph import connected_components

    # a path graph (multi-round pointer doubling) plus a separate triangle
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22), (22, 20)],
        "src long, dst long",
    )
    ckpt = str(tmp_path / "cc_ckpt")
    local = {
        (r.id, r.component) for r in connected_components(edges).collect()
    }
    reliable_df = connected_components(edges, checkpoint_dir=ckpt)
    reliable = {(r.id, r.component) for r in reliable_df.collect()}
    assert reliable == local
    runs = sorted(os.listdir(ckpt))
    # one run_<uuid> namespace per call
    assert len(runs) == 1 and runs[0].startswith("run_"), runs
    rounds = sorted(os.listdir(os.path.join(ckpt, runs[0])))
    # only the final round's materialization is retained inside it
    assert len(rounds) == 1, rounds
    # the returned frame stays consumable off the surviving round dir
    assert reliable_df.count() == 13


def test_checkpoint_dir_reuse_keeps_prior_result_consumable(spark, tmp_path):
    """Two calls sharing one checkpoint_dir must not clobber each other:
    the first call's returned (lazy) frame still reads ITS final round
    after the second call has run and swept its own rounds."""
    import os

    from scabillmatch_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22), (22, 20)],
        "src long, dst long",
    )
    ckpt = str(tmp_path / "shared_ckpt")
    first = connected_components(edges, checkpoint_dir=ckpt)
    second = connected_components(edges, checkpoint_dir=ckpt)
    # consume SECOND first, then the first frame — pre-r9 the second call
    # overwrote/swept round_<i> dirs the first frame still referenced
    assert {(r.id, r.component) for r in second.collect()} == {
        (r.id, r.component) for r in first.collect()
    }
    assert len(os.listdir(ckpt)) == 2  # two isolated run_* namespaces


def test_pagerank_kcore_reliable_checkpoint_equivalence(spark, tmp_path):
    """pagerank and k_core accept the same cluster-scale checkpoint_dir
    switch as connected_components: results must be identical to the
    localCheckpoint path."""
    from scabillmatch_spark.operators.graph import k_core, pagerank

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)]
        + [(0, 2), (2, 4), (4, 6), (20, 21), (21, 22), (22, 20)],
        "src long, dst long",
    )
    pr_local = {
        r.id: round(r.pagerank, 9) for r in pagerank(edges, max_iter=10).collect()
    }
    pr_rel = {
        r.id: round(r.pagerank, 9)
        for r in pagerank(
            edges, max_iter=10, checkpoint_dir=str(tmp_path / "pr")
        ).collect()
    }
    assert pr_rel == pr_local
    kc_local = {(r.id, r.degree) for r in k_core(edges, 2).collect()}
    kc_rel = {
        (r.id, r.degree)
        for r in k_core(edges, 2, checkpoint_dir=str(tmp_path / "kc")).collect()
    }
    assert kc_rel == kc_local


def test_open_triangles_square_graph(square_graph):
    # square 1-2-3-4 + diagonal 1-3: closed (1,2,3) and (1,3,4); the only
    # wedge missing its closing edge is 2-?-4 via centers 1 and 3
    rows = {tuple(r) for r in graph.open_triangles(square_graph).collect()}
    assert rows == {(2, 1, 4), (2, 3, 4)}


def test_motif_find_positive_and_negated_terms(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    # directed 2-hop paths
    two_hop = {
        (r.a, r.b, r.c)
        for r in graph.motif_find(edges, "(a)-[]->(b); (b)-[]->(c)").collect()
    }
    assert two_hop == {(1, 2, 3), (2, 3, 4), (1, 3, 4)}
    # negation keeps only paths whose shortcut edge is absent
    open_paths = {
        (r.a, r.b, r.c)
        for r in graph.motif_find(
            edges, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)"
        ).collect()
    }
    assert open_paths == {(2, 3, 4), (1, 3, 4)}


def test_motif_find_rejects_bad_patterns(spark):
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="unsupported motif term"):
        graph.motif_find(edges, "(a)-[e]->(b)")
    with pytest.raises(ValueError, match="cartesian"):
        graph.motif_find(edges, "(a)-[]->(b); (c)-[]->(d)")
    with pytest.raises(ValueError, match="unbound vertex"):
        graph.motif_find(edges, "(a)-[]->(b); !(a)-[]->(z)")
    with pytest.raises(ValueError, match="at least one positive"):
        graph.motif_find(edges, "!(a)-[]->(b)")


def test_stale_run_namespace_sweep(spark, tmp_path):
    """A checkpointed call sweeps sibling run_* namespaces older than the
    staleness horizon (crashed/unconsumed runs must not grow a shared
    checkpoint_dir forever) while leaving fresh ones alone."""
    import os

    from scabillmatch_spark.operators.graph import (
        connected_components,
        sweep_stale_run_namespaces,
    )

    ckpt = tmp_path / "shared"
    stale = ckpt / "run_deadbeefcafe"
    fresh = ckpt / "run_freshfreshaa"
    for d in (stale, fresh):
        d.mkdir(parents=True)
        (d / "round_0").mkdir()
    old = 1  # epoch seconds — far beyond any horizon
    os.utime(stale, (old, old))

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    connected_components(edges, checkpoint_dir=str(ckpt)).collect()
    names = set(os.listdir(ckpt))
    assert "run_deadbeefcafe" not in names  # stale sibling swept
    assert "run_freshfreshaa" in names  # fresh sibling kept
    # direct call with a tiny horizon reclaims the fresh one too
    sweep_stale_run_namespaces(spark, str(ckpt), max_age_hours=0.0)
    assert "run_freshfreshaa" not in set(os.listdir(ckpt))


def test_aggregate_messages_both_directions(spark):
    # directed path 1->2->3 with weights; vertex attr 'val'
    edges = spark.createDataFrame(
        [(1, 2, 10.0), (2, 3, 20.0)], ["src", "dst", "weight"]
    )
    verts = spark.createDataFrame([(1, 5), (2, 7), (3, 9)], ["id", "val"])
    # to dst: src.val * edge.weight; to src: dst.val
    got = {
        r.id: (r.s_in, r.n_in)
        for r in graph.aggregate_messages(
            edges,
            verts,
            F.sum("msg").alias("s_in"),
            send_to_dst=F.col("src.val") * F.col("edge.weight"),
        )
        .join(
            graph.aggregate_messages(
                edges, verts, F.count("msg").alias("n_in"),
                send_to_dst=F.lit(1),
            ),
            "id",
        )
        .collect()
    }
    assert got == {2: (50.0, 1), 3: (140.0, 1)}
    # send_to_src only: each src hears its dst's val
    back = {
        r.id: r.m
        for r in graph.aggregate_messages(
            edges, verts, F.max("msg").alias("m"),
            send_to_src=F.col("dst.val"),
        ).collect()
    }
    assert back == {1: 7, 2: 9}
    with pytest.raises(ValueError):
        graph.aggregate_messages(edges, verts, F.sum("msg").alias("x"))


def test_aggregate_messages_edge_only_expr_joins_no_vertices(spark):
    # expression referencing only edge attrs must not require vertex attrs
    edges = spark.createDataFrame([(1, 2, 3.0), (1, 3, 4.0)], ["src", "dst", "w"])
    verts = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    res = graph.aggregate_messages(
        edges, verts, F.sum("msg").alias("wsum"), send_to_src=F.col("edge.w")
    )
    assert {r.id: r.wsum for r in res.collect()} == {1: 7.0}
    # and the plan contains no join against the vertex frame at all
    assert "__vattrs" not in res._jdf.queryExecution().optimizedPlan().toString()


def test_aggregate_messages_explicit_side_overrides(spark):
    """r10 advice/verdict: join_src/join_dst state the side dependency
    explicitly, removing the str(Column) text-scan from the API contract.
    (a) A string LITERAL containing a bare 'dst' token false-positives the
    heuristic into an extra join — results must be unchanged (join-only
    cost, the documented failure mode); join_dst=False removes even that.
    (b) join flags force/skip sides regardless of the expression text."""
    edges = spark.createDataFrame([(1, 2, 3.0), (1, 3, 4.0)], ["src", "dst", "w"])
    verts = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    # literal contains the token 'dst': heuristic adds a dst join
    lit_msg = F.when(F.lit("send to dst") == "never", F.lit(0.0)).otherwise(
        F.col("edge.w")
    )
    heur = graph.aggregate_messages(
        edges, verts, F.sum("msg").alias("wsum"), send_to_src=lit_msg
    )
    assert {r.id: r.wsum for r in heur.collect()} == {1: 7.0}
    # the false-positive vertex join is present (analyzed plan — the
    # optimizer prunes the struct name away but the Join node remains)
    plan_heur = heur._jdf.queryExecution().analyzed().toString()
    assert "__vattrs" in plan_heur
    # explicit override: same result, no vertex join in the plan
    expl = graph.aggregate_messages(
        edges, verts, F.sum("msg").alias("wsum"), send_to_src=lit_msg,
        join_src=False, join_dst=False,
    )
    assert {r.id: r.wsum for r in expl.collect()} == {1: 7.0}
    assert "__vattrs" not in expl._jdf.queryExecution().optimizedPlan().toString()
    # force-join a side the text scan would skip: vertex attrs resolvable
    verts_v = spark.createDataFrame([(1, 5.0), (2, 7.0), (3, 9.0)], ["id", "val"])
    forced = graph.aggregate_messages(
        edges, verts_v, F.sum("msg").alias("s"),
        send_to_dst=F.col("src.val"), join_src=True, join_dst=True,
    )
    assert {r.id: r.s for r in forced.collect()} == {2: 5.0, 3: 5.0}


def test_run_stale_hours_env_parsed_lazily(spark, tmp_path, monkeypatch):
    """r10 advice: a malformed SCABILLMATCH_RUN_STALE_HOURS must not break
    module import (it used to raise at import time); it fails at the
    point of use with an error naming the variable, and a valid value
    parses."""
    import importlib

    monkeypatch.setenv("SCABILLMATCH_RUN_STALE_HOURS", "24h")
    importlib.reload(graph)  # would have raised before the r11 fix
    try:
        with pytest.raises(ValueError, match="SCABILLMATCH_RUN_STALE_HOURS"):
            graph.sweep_stale_run_namespaces(spark, str(tmp_path))
        monkeypatch.setenv("SCABILLMATCH_RUN_STALE_HOURS", "0.5")
        assert graph._run_namespace_stale_hours() == 0.5
        graph.sweep_stale_run_namespaces(spark, str(tmp_path))  # no raise
        monkeypatch.delenv("SCABILLMATCH_RUN_STALE_HOURS")
        assert graph._run_namespace_stale_hours() == 24.0
    finally:
        monkeypatch.delenv("SCABILLMATCH_RUN_STALE_HOURS", raising=False)
        importlib.reload(graph)


def test_pregel_two_step_walk_counts(spark, square_graph):
    # state0=1; two supersteps of sum-over-in-neighbors = 2-walk counts,
    # i.e. (A^2 @ 1) for the undirected adjacency matrix
    import numpy as np

    canon = graph.canonical_edges(square_graph)
    und = graph.undirect(canon)
    verts = graph.vertices_from_edges(und)
    res = graph.pregel(
        und,
        verts,
        initial_state=F.lit(1).cast("long"),
        agg_msgs=F.sum("msg"),
        update_state=F.coalesce(F.col("msg"), F.lit(0)).cast("long"),
        send_to_dst=F.col("src.state"),
        max_iter=2,
    )
    got = {r.id: r.state for r in res.collect()}
    ids = sorted(got)
    a = np.zeros((len(ids), len(ids)), dtype=np.int64)
    idx = {v: i for i, v in enumerate(ids)}
    for r in canon.collect():
        a[idx[r.src], idx[r.dst]] = 1
        a[idx[r.dst], idx[r.src]] = 1
    expect = (a @ a) @ np.ones(len(ids), dtype=np.int64)
    assert got == {v: int(expect[idx[v]]) for v in ids}


def test_pagerank_pregel_matches_direct(spark, square_graph):
    """r10 equality pin: the generic pregel surface reproduces the
    hand-written pagerank() to fp-roundoff."""
    direct = {r.id: r.pagerank for r in graph.pagerank(square_graph, max_iter=7).collect()}
    via_pregel = {
        r.id: r.pagerank
        for r in graph.pagerank_pregel(square_graph, max_iter=7).collect()
    }
    assert direct.keys() == via_pregel.keys()
    for k in direct:
        assert abs(direct[k] - via_pregel[k]) < 1e-12, (k, direct[k], via_pregel[k])


def test_pregel_checkpointed_equivalence(spark, square_graph, tmp_path):
    # > CHECKPOINT_EVERY rounds so the reliable cut actually fires
    kwargs = dict(
        initial_state=F.lit(1.0),
        agg_msgs=F.sum("msg"),
        update_state=F.coalesce(F.col("msg"), F.lit(0.0)) + F.lit(1.0),
        send_to_dst=F.col("src.state"),
        max_iter=graph.CHECKPOINT_EVERY + 2,
    )
    und = graph.undirect(square_graph)
    verts = graph.vertices_from_edges(und)
    plain = {r.id: r.state for r in graph.pregel(und, verts, **kwargs).collect()}
    ckpt = {
        r.id: r.state
        for r in graph.pregel(
            und, verts, checkpoint_dir=str(tmp_path / "ck"), **kwargs
        ).collect()
    }
    assert plain == ckpt


def test_weighted_pregel_pagerank_uniform_weights_match_unweighted(spark, square_graph):
    """Edge-attribute message path pin: with all weights equal, the
    similarity-weighted pregel PageRank (the graph_weighted_pagerank
    pattern) must reproduce the unweighted pagerank() exactly —
    w/wout == 1/outdeg."""
    und = graph.undirect(square_graph).withColumn("w", F.lit(2.5))
    wout = und.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("wout"))
    verts = graph.vertices_from_edges(und)
    n = verts.count()
    ranked = graph.pregel(
        und,
        verts.join(wout, "id"),
        initial_state=F.lit(1.0 / n),
        send_to_dst=F.col("src.state") * F.col("edge.w") / F.col("src.wout"),
        agg_msgs=F.sum("msg"),
        update_state=F.lit(0.15 / n)
        + F.lit(0.85) * F.coalesce(F.col("msg"), F.lit(0.0)),
        max_iter=5,
    )
    weighted = {r.id: r.state for r in ranked.collect()}
    plain = {r.id: r.pagerank for r in graph.pagerank(square_graph, max_iter=5).collect()}
    assert weighted.keys() == plain.keys()
    for k in plain:
        assert abs(weighted[k] - plain[k]) < 1e-12, (k, weighted[k], plain[k])
    assert abs(sum(weighted.values()) - 1.0) < 1e-6


def test_vertex_program_input_contracts(spark):
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    bad_edges = spark.createDataFrame([(1, 2)], ["a", "b"])
    verts = spark.createDataFrame([(1,), (2,)], ["id"])
    no_id = spark.createDataFrame([(1,)], ["vertex"])
    with_msg = spark.createDataFrame([(1, 0)], ["id", "msg"])
    with pytest.raises(ValueError, match="'id' column"):
        graph.aggregate_messages(edges, no_id, F.sum("msg").alias("x"),
                                 send_to_dst=F.lit(1))
    with pytest.raises(ValueError, match="missing column"):
        graph.aggregate_messages(bad_edges, verts, F.sum("msg").alias("x"),
                                 send_to_dst=F.lit(1))
    kw = dict(initial_state=F.lit(0), agg_msgs=F.sum("msg"),
              update_state=F.coalesce(F.col("msg"), F.lit(0)),
              send_to_dst=F.lit(1), max_iter=1)
    with pytest.raises(ValueError, match="msg"):
        graph.pregel(edges, with_msg, **kw)
    with pytest.raises(ValueError, match="state_col"):
        graph.pregel(edges, verts.withColumn("state", F.lit(0)), **kw)


def test_label_propagation_two_communities(spark):
    # two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10:
    # LPA must keep them as separate communities (CC would merge them)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        ["src", "dst"],
    )
    got = {r.id: r.label for r in graph.label_propagation(edges, max_iter=4).collect()}
    comm1 = {got[v] for v in (1, 2, 3)}
    comm2 = {got[v] for v in (10, 11, 12)}
    assert len(comm1) == 1 and len(comm2) == 1 and comm1 != comm2
    # determinism: identical labeling on a second run
    again = {r.id: r.label for r in graph.label_propagation(edges, max_iter=4).collect()}
    assert got == again
    # and CC, by contrast, merges everything across the bridge
    cc = {r.component for r in graph.connected_components(edges).collect()}
    assert len(cc) == 1


def test_label_propagation_clique_converges_to_min_id(spark):
    # K4: round 1 sends everyone to the min id (ties -> smallest label),
    # min-id vertex itself recovers by round 2 — all-min fixed point
    k4 = [(a, b) for a in (5, 6, 7, 8) for b in (5, 6, 7, 8) if a < b]
    edges = spark.createDataFrame(k4, ["src", "dst"])
    got = {r.id: r.label for r in graph.label_propagation(edges, max_iter=3).collect()}
    assert got == {5: 5, 6: 5, 7: 5, 8: 5}


def test_label_propagation_matches_unrolled_sql_oracle(spark):
    """Registered-query pre-validation (r11 row doc_label_propagation):
    the LPA operator on the >=95 similarity graph matches THE oracle the
    gate runs — entrymod._label_propagation_oracle(4), k synchronous
    rounds unrolled as CTEs (mode = count + argmax by cnt DESC, label
    ASC — the operator's deterministic tie-break). Cell-exact at
    sf0.001; also verified at sf0.01 out-of-band (PLANS.md round 10)."""
    import duckdb

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    iters = 4
    sql = entrymod._label_propagation_oracle(iters)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    want = dict(con.execute(sql).fetchall())
    got = {
        r.id: r.label
        for r in graph.label_propagation(
            entrymod._doc_edges(spark, sf), max_iter=iters
        ).collect()
    }
    assert got == want


def test_bellman_ford_via_pregel_matches_dedicated(spark):
    """Second genericity proof for the r10 vertex-program surface: bounded
    Bellman-Ford is exactly pregel with min-relaxation messages
    (msg = src.state + edge.w, agg = min, update = least(state, msg)) —
    must equal the dedicated frontier implementation for reachable
    vertices after the same number of rounds."""
    edges = spark.createDataFrame(
        [(1, 2, 4.0), (1, 3, 1.0), (3, 2, 1.5), (2, 4, 2.0), (3, 4, 6.0),
         (4, 5, 0.5)],
        ["src", "dst", "weight"],
    )
    inf = float("inf")
    e = edges.select("src", "dst", "weight").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    verts = graph.vertices_from_edges(e)
    res = graph.pregel(
        e,
        verts,
        initial_state=F.when(F.col("id") == 1, F.lit(0.0)).otherwise(F.lit(inf)),
        agg_msgs=F.min("msg"),
        update_state=F.least(
            F.col("state"), F.coalesce(F.col("msg"), F.lit(inf))
        ),
        send_to_dst=F.col("src.state") + F.col("edge.weight"),
        max_iter=6,
    )
    via_pregel = {r.id: r.state for r in res.collect()}
    dedicated = {
        r.id: r.distance
        for r in graph.weighted_shortest_paths(edges, 1, max_iter=6).collect()
    }
    # dedicated returns reachable vertices only; pregel carries inf rows
    assert {k: v for k, v in via_pregel.items() if v != inf} == dedicated


def _bfs_reference(edge_list, sources, targets, max_len, directed=False):
    """Pure-Python golden reference: ALL minimum-length simple paths from
    any source to any target, as a set of id tuples (GraphFrames bfs
    semantics; zero-length when sources and targets intersect)."""
    adj: dict[int, set[int]] = {}
    for s, d in edge_list:
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
    hit0 = {(v,) for v in sources if v in targets}
    if hit0:
        return hit0
    paths = [(v,) for v in sources]
    for _depth in range(1, max_len + 1):
        paths = [
            p + (n,)
            for p in paths
            for n in adj.get(p[-1], ())
            if n not in p
        ]
        hits = {p for p in paths if p[-1] in targets}
        if hits:
            return hits
    return set()


def test_bfs_path_enumeration_square(spark, square_graph):
    """GraphFrames bfs shape: witnessing paths, not just distances.
    2 -> 4 on the square+diagonal has two length-2 shortest paths."""
    res = graph.bfs(
        square_graph, F.col("id") == 2, F.col("id") == 4, max_path_length=5
    ).collect()
    got = {tuple(r.path) for r in res}
    assert got == {(2, 1, 4), (2, 3, 4)}
    assert all(r.length == 2 and r.start == 2 and r.end == 4 for r in res)


def test_bfs_zero_length_and_unreachable(spark):
    edges = spark.createDataFrame([(1, 2), (3, 4)], ["src", "dst"])
    # from/to intersect: zero-length path, GraphFrames-style
    z = graph.bfs(edges, F.col("id") <= 2, F.col("id") == 2).collect()
    assert [(r.start, r.end, r.length, list(r.path)) for r in z] == [(2, 2, 0, [2])]
    # disconnected components: empty result with the contract schema
    none = graph.bfs(edges, F.col("id") == 1, F.col("id") == 4, max_path_length=6)
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == ["start", "end", "length", "path"]


def test_bfs_respects_max_path_length_and_direction(spark):
    # directed chain 1->2->3->4: reachable only along edge direction
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    ok = graph.bfs(
        edges, F.col("id") == 1, F.col("id") == 4,
        max_path_length=3, undirected=False,
    ).collect()
    assert [tuple(r.path) for r in ok] == [(1, 2, 3, 4)]
    # budget one hop short: no path
    short = graph.bfs(
        edges, F.col("id") == 1, F.col("id") == 4,
        max_path_length=2, undirected=False,
    )
    assert short.count() == 0
    # against the direction: empty under undirected=False, found undirected
    assert graph.bfs(
        edges, F.col("id") == 4, F.col("id") == 1,
        max_path_length=3, undirected=False,
    ).count() == 0
    assert graph.bfs(
        edges, F.col("id") == 4, F.col("id") == 1, max_path_length=3
    ).count() == 1


def test_bfs_vertex_attribute_predicates(spark):
    """from/to predicates over a caller vertex frame's attributes (the
    GraphFrames fromExpr/toExpr form: arbitrary Column predicates)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    verts = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b"), (4, "b"), (5, "c")], ["id", "kind"]
    )
    res = graph.bfs(
        edges, F.col("kind") == "a", F.col("kind") == "c",
        max_path_length=6, vertices=verts,
    ).collect()
    assert [tuple(r.path) for r in res] == [(1, 2, 3, 4, 5)]
    assert res[0].length == 4


def test_bfs_matches_pure_python_reference(spark):
    """Golden check on a fixed pseudo-random graph: every (source set,
    target set) probe agrees with a brute-force all-shortest-simple-paths
    enumeration."""
    import random

    rng = random.Random(1107)
    n = 14
    edge_list = sorted(
        {
            (a, b)
            for _ in range(26)
            for a, b in [(rng.randrange(n), rng.randrange(n))]
            if a != b
        }
    )
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    probes = [({0}, {7}), ({1, 2}, {11}), ({3}, {3}), ({5}, {12, 13})]
    for sources, targets in probes:
        want = _bfs_reference(edge_list, sources, targets, 6)
        got = {
            tuple(r.path)
            for r in graph.bfs(
                edges,
                F.col("id").isin(*sources),
                F.col("id").isin(*targets),
                max_path_length=6,
            ).collect()
        }
        assert got == want, (sources, targets)


def test_bfs_paths_query_matches_oracle(spark):
    """r12 query pre-validation (the r10->r11 pattern): the unregistered
    q_graph_bfs_paths matches its DuckDB oracle — recursive-reach
    components + bounded simple-path enumeration — typed-exact at
    sf0.001; also verified at sf0.01 out-of-band (PLANS.md round 11)."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools_compare import compare_typed

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    df = entrymod.q_graph_bfs_paths(spark, sf)
    rows = [tuple(r) for r in df.collect()]
    assert rows, "probe regressed: endpoints are same-component by construction"
    res = compare_typed(df, rows, con, entrymod._graph_bfs_paths_oracle())
    assert all(
        res[k] for k in ("rows_match", "schema_match", "hash_match", "type_match")
    ), res


def test_cluster_audit_query_matches_oracle(spark):
    """r12 query pre-validation #2: the unregistered q_graph_cluster_audit
    (CC components x LPA communities per component) matches its DuckDB
    oracle — recursive reach + the shared unrolled-LPA rounds — typed-
    exact at sf0.001; also verified at sf0.01 out-of-band (PLANS.md
    round 11)."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools_compare import compare_typed

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    df = entrymod.q_graph_cluster_audit(spark, sf)
    rows = [tuple(r) for r in df.collect()]
    assert rows, "similarity graph always has at least one component"
    res = compare_typed(df, rows, con, entrymod._graph_cluster_audit_oracle())
    assert all(
        res[k] for k in ("rows_match", "schema_match", "hash_match", "type_match")
    ), res


def test_bfs_edge_filter(spark):
    """GraphFrames edgeFilter parity: the search may only traverse edges
    passing the predicate — a cheap direct edge excluded by the filter
    forces the longer permitted route."""
    edges = spark.createDataFrame(
        [(1, 4, 0.2), (1, 2, 0.9), (2, 3, 0.9), (3, 4, 0.9)],
        ["src", "dst", "w"],
    )
    # unfiltered: the direct 1-4 edge wins (length 1)
    direct = graph.bfs(edges, F.col("id") == 1, F.col("id") == 4,
                       max_path_length=5).collect()
    assert [tuple(r.path) for r in direct] == [(1, 4)]
    # filter w > 0.5: the only route is 1-2-3-4
    filtered = graph.bfs(edges, F.col("id") == 1, F.col("id") == 4,
                         max_path_length=5,
                         edge_filter=F.col("w") > 0.5).collect()
    assert [tuple(r.path) for r in filtered] == [(1, 2, 3, 4)]


def test_label_propagation_directed_keeps_sourceless_vertex_label(spark):
    """Directed LPA keeps the carry-over join (r11 dropped it for the
    undirected case only, where every vertex has an in-neighbor by
    construction): a source-only vertex receives no message and must keep
    its own label through every round."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    got = {
        r.id: r.label
        for r in graph.label_propagation(
            edges, max_iter=3, undirected=False
        ).collect()
    }
    assert got[1] == 1  # no in-edges: label carried through all rounds
    assert got[2] == 1 and got[3] in (1, 2)  # labels flow along direction
    # and the undirected default on the same edges covers every vertex too
    und = {
        r.id: r.label
        for r in graph.label_propagation(edges, max_iter=4).collect()
    }
    assert set(und) == {1, 2, 3}
