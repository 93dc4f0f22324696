"""Candidate-pair generation (blocking) strategies.

The reference's workhorse is ``pairup`` (feature/Utils.scala:46-105): collect
the whole corpus metadata to the driver, broadcast it, and nested-loop over
every row. That caps at driver memory and is O(N²) work regardless of
blocking. Here every strategy is a **self-join the optimizer can plan**:

- optimizationLevel 0  -> theta-only join (pk1 < pk2, state1 != state2)
- optimizationLevel 1  -> + equi-key on a blocking label (k-means cluster)
  => hash/sort-merge join, shuffle on the label, no driver state
- optimizationLevel 2  -> + length-ratio pruning |l1-l2|/sqrt(l1*l2) < t
  evaluated as a join-condition residual
- LSH banding          -> posexplode band keys, equi-join on the band value
  (CustomizedLSH.scala:227-259's plan, single shuffle on bucket keys)

Scale notes (100 TB): the equi-keyed forms shuffle both sides on the blocking
key — linear, AQE handles skewed buckets. The theta-only form is a cartesian
product and is gated behind an explicit ``allow_cartesian`` flag; at scale it
must only ever run per-block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scabillmatch_spark.functions import text as TX


def length_ratio_ok(l1: Column, l2: Column, threshold: float = 0.26) -> Column:
    """|l1-l2| / sqrt(l1*l2) < threshold (feature/Utils.scala:79,96)."""
    return F.abs(l1 - l2) / F.sqrt(l1 * l2) < threshold


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Self-join probe sides must not be single-partition: a small parquet
    file scans as ONE split, and a broadcast join keeps the probe side's
    partitioning — every pair similarity would then evaluate on one core.
    One cheap round-robin shuffle of the (small) doc side unlocks full
    parallelism; at real scale the input already has enough splits and this
    is a no-op.

    Warning: the ``.rdd`` probe plans ``df`` with AQE, which runs every
    exchange under it in a throwaway query. Pass a frame whose exchanges
    are already materialized (a checkpoint, a cached relation) or have
    none; over an aggregate of token arrays this cost the flagship a stage
    and 1.0 MB of shuffle per call."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def candidate_pairs(
    df: DataFrame,
    id_col: str = "primary_key",
    group_col: str | None = "state",
    block_col: str | None = None,
    length_col: str | None = None,
    length_ratio_threshold: float = 0.26,
    same_group: bool = False,
    allow_cartesian: bool = False,
) -> DataFrame:
    """Self-join candidate generation -> DataFrame(pk1, pk2, ...).

    - ``group_col``: pairs must differ on it (reference: cross-state only)
      unless ``same_group`` (reference onlyInOut=false keeps in-state pairs).
    - ``block_col``: equi-join key (k-means ``prediction``, LSH band, ...).
      When None the join is a pure cartesian filter — refuse unless
      ``allow_cartesian`` (the reference's baseline, never viable at scale).
    - ``length_col``: applies the length-ratio residual predicate.

    Carries every column through with ``1``/``2`` suffixes.
    """
    if block_col is None and not allow_cartesian:
        raise ValueError(
            "no block_col: this is an O(N^2) cartesian join; pass "
            "allow_cartesian=True only for small inputs or per-block use"
        )
    df = ensure_parallelism(df)
    a = df.alias("a")
    b = df.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col is not None:
        cond = (F.col(f"a.{block_col}") == F.col(f"b.{block_col}")) & cond
    if group_col is not None and not same_group:
        cond = cond & (F.col(f"a.{group_col}") != F.col(f"b.{group_col}"))
    if length_col is not None:
        cond = cond & length_ratio_ok(
            F.col(f"a.{length_col}"), F.col(f"b.{length_col}"), length_ratio_threshold
        )
    joined = a.join(b, cond, "inner")
    cols = [F.col(f"a.{c}").alias(f"{c}1") for c in df.columns] + [
        F.col(f"b.{c}").alias(f"{c}2") for c in df.columns
    ]
    out = joined.select(*cols)
    return out.withColumnRenamed(f"{id_col}1", "pk1").withColumnRenamed(f"{id_col}2", "pk2")


def within_group_pairs_pandas(
    df: DataFrame,
    group_col: str,
    id_col: str,
    set_col: str,
    threshold: float = 70.0,
) -> DataFrame:
    """A5/A6 'group-local all-pairs join as an aggregate'
    (AggregatorTest2.scala:20-31 typed Aggregator / AggregatorTest3
    aggregateByKey): per blocking group, enumerate pairs and score in one
    applyInPandas pass.

    This is the applyInPandas escape hatch for semantics the join form can't
    express (imperative per-group logic). For plain similarity the equi-key
    self-join (candidate_pairs) is preferred — same result, codegen'd. Kept
    as the documented custom-operator pattern + used when groups are small
    and the pair predicate is arbitrary Python.
    """
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("pk1", df.schema[id_col].dataType),
            StructField("pk2", df.schema[id_col].dataType),
            StructField("similarity", DoubleType()),
        ]
    )

    def score_group(pdf):
        import pandas as pd

        ids = pdf[id_col].tolist()
        sets = [set(s) for s in pdf[set_col]]
        rows = []
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = sets[i], sets[j]
                union = len(a | b)
                sim = 100.0 * len(a & b) / union if union else 0.0
                if sim >= threshold:
                    lo, hi = sorted((ids[i], ids[j]))
                    rows.append((lo, hi, sim))
        return pd.DataFrame(rows, columns=["pk1", "pk2", "similarity"])

    return df.select(group_col, id_col, set_col).groupBy(group_col).applyInPandas(
        score_group, out_schema
    )


def salted_two_phase_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
    salt_n: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-resistant aggregation: pre-aggregate on (key, salt) then finalize
    on key. Exact for algebraic aggregates (count/sum/min/max).

    AQE's skew-join splitting handles joins; for a groupBy on a hot key the
    two-phase form spreads the hot key over ``salt_n`` reducers first.
    ``aggs``: {column: 'count'|'sum'|'min'|'max'}.
    """
    salt = (
        F.pmod(F.hash(F.col(salt_source)), F.lit(salt_n))
        if salt_source
        else F.floor(F.rand(seed=42) * salt_n)
    )
    partial_aggs, final_aggs = [], []
    for col, fn in aggs.items():
        p = f"__p_{col}_{fn}"
        if fn == "count":
            partial_aggs.append(F.count(F.lit(1)).alias(p))
            final_aggs.append(F.sum(p).alias(f"{col}_{fn}"))
        elif fn == "sum":
            partial_aggs.append(F.sum(col).alias(p))
            final_aggs.append(F.sum(p).alias(f"{col}_{fn}"))
        elif fn == "min":
            partial_aggs.append(F.min(col).alias(p))
            final_aggs.append(F.min(p).alias(f"{col}_{fn}"))
        elif fn == "max":
            partial_aggs.append(F.max(col).alias(p))
            final_aggs.append(F.max(p).alias(f"{col}_{fn}"))
        else:
            raise ValueError(f"non-algebraic aggregate: {fn}")
    partial = df.groupBy(*key_cols, salt.alias("__salt")).agg(*partial_aggs)
    return partial.groupBy(*key_cols).agg(*final_aggs)


def collapse_token_sets(
    df: DataFrame, id_col: str, set_col: str
) -> tuple[DataFrame, DataFrame]:
    """Representative collapse for dup-heavy corpora: group documents by the
    md5 of their (sorted-distinct) element set and return

      reps    — the min-id member's row of ``df`` plus __set_id, one per
                distinct set: the only rows that need banding and scoring;
      members — (__set_id, ``id_col``) for the lossless expansion back to
                document pairs.

    Identical sets band identically and score identically against any third
    set, so banding + scoring representatives and then expanding
    (cross-group pairs via two member joins, intra-group pairs at
    similarity 100) yields EXACTLY the pairs-and-scores of banding every
    document, with the quadratic stage shrunk by the duplication factor
    squared (real pretraining corpora are 20-50% exact-dup).

    Empty sets are EXCLUDED: jaccard(∅, X) = 0 for every X, so an empty-set
    doc never reaches a positive threshold, but the intra-group expansion
    would stamp two of them 100. Valid for thresholded consumers (every
    caller here).

    Set identity is type-aware: numeric arrays digest md5(concat_ws(',')),
    collision-free since numerals hold no comma; string arrays use
    md5(to_json(set)), whose escaping keeps {'a,b'} apart from {'a','b'}
    (to_json costs ~2x on the digest pass, measured on the 50k-doc flagship).

    Representatives come from a semi-join on the min member id: only
    (__set_id, id) rows cross an exchange, and ``reps`` keeps ``df``'s
    partitioning. A ``first(set_col)`` aggregate would shuffle every array,
    once per consumer: on pyspark 4.1.2 AQE reuses no exchange above a
    persisted input, and ``persist()`` adds a cache-build stage. Callers
    reading ``reps`` twice ``localCheckpoint(eager=False)`` it (no stage).
    """
    elem_type = df.schema[set_col].dataType.elementType.typeName()
    digest = (
        F.md5(F.to_json(F.col(set_col)))
        if elem_type == "string"
        else F.md5(F.concat_ws(",", F.col(set_col)))
    )
    tagged = df.filter(F.size(F.col(set_col)) > 0).withColumn(
        "__set_id", digest
    )
    members = tagged.select("__set_id", id_col)
    # non-set columns are the min-id member's: a per-pair predicate on one
    # that is not set-determined must be applied after expansion
    first_ids = members.groupBy("__set_id").agg(F.min(id_col).alias(id_col))
    reps = tagged.join(first_ids, ["__set_id", id_col], "left_semi")
    return reps, members


def expand_rep_pairs(
    rep_scored: DataFrame,
    members: DataFrame,
    id_col: str,
    threshold: float | None = None,
) -> DataFrame:
    """Inverse of collapse_token_sets over a scored representative-pair
    relation carrying __sid1/__sid2/similarity: two member joins expand
    cross-group pairs, and every group with >1 member contributes its
    intra-group pairs at similarity 100 (identical sets). Output
    (pk1 < pk2, similarity) is bit-identical to scoring all document pairs
    directly. The joins are output-bound — no set arithmetic happens here."""
    m1 = members.select(F.col("__set_id").alias("__sid1"), F.col(id_col).alias("__p1"))
    m2 = members.select(F.col("__set_id").alias("__sid2"), F.col(id_col).alias("__p2"))
    cross = (
        rep_scored.join(m1, "__sid1")
        .join(m2, "__sid2")
        .select(
            F.least("__p1", "__p2").alias("pk1"),
            F.greatest("__p1", "__p2").alias("pk2"),
            "similarity",
        )
    )
    intra = (
        members.alias("x")
        .join(
            members.alias("y"),
            (F.col("x.__set_id") == F.col("y.__set_id"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("pk1"),
            F.col(f"y.{id_col}").alias("pk2"),
            F.lit(100.0).alias("similarity"),
        )
    )
    if threshold is not None and threshold > 100.0:
        intra = intra.filter(F.lit(False))
    return cross.unionByName(intra)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    num_hashes: int = 16,
    num_bands: int = 8,
    group_col: str | None = None,
    same_group: bool = True,
    min_jaccard: float | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH banded candidate generation -> DataFrame(pk1, pk2).

    Plan shape (mirrors CustomizedLSH.scala:227-259, one job instead of the
    reference's driver-threaded per-state-pair loop):
      signature (narrow) -> explode bands (narrow) -> equi-join on band
      (single shuffle on band keys) -> distinct pairs.

    Pairs colliding in >=1 band survive; caller re-scores with the exact
    measure. rows_per_band = num_hashes // num_bands controls precision.

    ``min_jaccard`` (0-100): LOSSLESS candidate prune for callers that
    re-score with a Jaccard threshold — J(A,B) <= min|A|,|B| / max|A|,|B|,
    so any pair failing 100*min_size >= t*max_size can never pass the
    threshold. Rides the band join as an integer residual (set sizes travel
    with the banded rows), cutting pair dedup + verify-join work without
    changing any thresholded result.

    ``banded``: a pre-built (id_col [, group_col] [, __sz] , __band)
    projection — the shared band-index-cache fast path (the banding is a
    pure per-doc function of the set, so a superset's projection filtered
    to this frame's ids is row-identical to banding here). Must match
    num_hashes/num_bands and carry __sz when ``min_jaccard`` is used; the
    caller owns its persistence."""
    if banded is not None:
        need = {id_col, "__band"}
        if min_jaccard is not None:
            need.add("__sz")
        if group_col is not None:
            need.add(group_col)
        missing = need - set(banded.columns)
        if missing:
            raise ValueError(
                f"banded missing column(s) {sorted(missing)} — build it "
                "with the same id/group/size columns this call would"
            )
    else:
        rows_per_band = num_hashes // num_bands
        df = ensure_parallelism(df)
        keep = [id_col] + ([group_col] if group_col else [])
        sz = [F.size(F.col(set_col)).alias("__sz")] if min_jaccard is not None else []
        sig = df.select(
            *keep, *sz, TX.minhash_signature(F.col(set_col), num_hashes).alias("__sig")
        )
        banded = sig.select(
            *keep,
            *([F.col("__sz")] if min_jaccard is not None else []),
            F.explode(TX.minhash_bands(F.col("__sig"), num_bands, rows_per_band)).alias("__band"),
        )
        # both self-join sides read this projection: a local checkpoint
        # computes the num_hashes minhash passes ONCE, and unlike persist()
        # adds no cache-build stage and no cache entry (pyspark 4.1.2)
        banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    cond = (F.col("a.__band") == F.col("b.__band")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if min_jaccard is not None:
        cond = (
            cond
            & (100 * F.col("a.__sz") >= min_jaccard * F.col("b.__sz"))
            & (100 * F.col("b.__sz") >= min_jaccard * F.col("a.__sz"))
        )
    if group_col is not None and not same_group:
        cond = cond & (F.col(f"a.{group_col}") != F.col(f"b.{group_col}"))
    return (
        a.join(b, cond, "inner")
        .select(F.col(f"a.{id_col}").alias("pk1"), F.col(f"b.{id_col}").alias("pk2"))
        .dropDuplicates(["pk1", "pk2"])
    )


def lsh_banded_projection(
    df: DataFrame,
    id_col: str,
    set_col: str,
    num_hashes: int = 16,
    num_bands: int = 8,
    with_size: bool = True,
    tag: str = "r",
) -> DataFrame:
    """The reusable band-index projection: (id, [size,] band-key) rows,
    one per (doc, band). This is the frame a 100 TB deployment
    MATERIALIZES ONCE as an append-only band-index table and joins every
    delta against — recomputing the corpus MinHash signatures per ingest
    batch is the cost this factors out (stream_delta_dedup persists it
    once per run for exactly that reason). Pass the result as
    ``right_banded`` to :func:`lsh_candidate_pairs_two_sided` (keep
    ``with_size=True`` whenever the join will use a ``min_jaccard``
    prune)."""
    rows_per_band = num_hashes // num_bands
    df = ensure_parallelism(df)
    sz = [F.size(F.col(set_col)).alias(f"__sz_{tag}")] if with_size else []
    sig = df.select(
        F.col(id_col).alias(f"__id_{tag}"),
        *sz,
        TX.minhash_signature(F.col(set_col), num_hashes).alias("__sig"),
    )
    return sig.select(
        f"__id_{tag}",
        *([f"__sz_{tag}"] if with_size else []),
        F.explode(
            TX.minhash_bands(F.col("__sig"), num_bands, rows_per_band)
        ).alias(f"__band_{tag}"),
    )


def lsh_candidate_pairs_two_sided(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    set_col: str,
    num_hashes: int = 16,
    num_bands: int = 8,
    min_jaccard: float | None = None,
    right_banded: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric banded candidates: (left x right) band collisions only —
    the INCREMENTAL-INGEST shape. When a daily delta lands on a world-scale
    corpus, re-running the self-join dedup would redo corpus x corpus work
    for a sliver of new data; here only the delta is signed and banded
    fresh, and the corpus side's banded projection is the thing a 100 TB
    deployment materializes once as an append-only band index table (this
    function recomputes it from ``right`` for self-containment — swap in a
    pre-banded table at scale). The band equi-join's work is proportional
    to delta collisions, never corpus size squared.

    Returns DataFrame(pk1 = left id, pk2 = right id) candidates; identical
    ids on both sides are excluded (a delta doc already present in the
    corpus is an exact-dedup concern, not a near-dup candidate). Same
    lossless ``min_jaccard`` size-ratio prune as lsh_candidate_pairs.

    ``right_banded``: a pre-built (ideally persisted/materialized)
    :func:`lsh_banded_projection` of ``right`` with tag "r" — the
    band-index-table fast path; MUST have been built with the same
    num_hashes/num_bands and with sizes when ``min_jaccard`` is used.
    """
    with_size = min_jaccard is not None

    def banded(df: DataFrame, tag: str) -> DataFrame:
        return lsh_banded_projection(
            df, id_col, set_col, num_hashes, num_bands,
            with_size=with_size, tag=tag,
        )

    lb = banded(left, "l")
    if right_banded is not None:
        need = {"__id_r", "__band_r"} | ({"__sz_r"} if with_size else set())
        missing = need - set(right_banded.columns)
        if missing:
            raise ValueError(
                f"right_banded missing column(s) {sorted(missing)} — build "
                "it with lsh_banded_projection(..., tag='r'"
                + (", with_size=True)" if with_size else ")")
            )
        rb = right_banded
    else:
        rb = banded(right, "r")
    cond = (F.col("__band_l") == F.col("__band_r")) & (
        F.col("__id_l") != F.col("__id_r")
    )
    if min_jaccard is not None:
        cond = (
            cond
            & (100 * F.col("__sz_l") >= min_jaccard * F.col("__sz_r"))
            & (100 * F.col("__sz_r") >= min_jaccard * F.col("__sz_l"))
        )
    return (
        lb.join(rb, cond, "inner")
        .select(F.col("__id_l").alias("pk1"), F.col("__id_r").alias("pk2"))
        .dropDuplicates(["pk1", "pk2"])
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    salt_n: int = 16,
    how: str = "inner",
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: the large side gets a deterministic salt
    in [0, salt_n) (from ``salt_source``'s hash when given, else from the
    full row hash), the small side replicates once per salt value, and the
    join runs on (key, salt) — a hot key spreads over ``salt_n`` reducers
    instead of landing on one.

    This is the MANUAL lever for the cases AQE's skew-join splitting can't
    reach: stream-static joins (no runtime re-plan inside a micro-batch),
    engines/pipelines with AQE disabled, or when the skew is known ahead
    and the salt_n should be pinned. Replication multiplies the small side
    by salt_n — apply AFTER filtering it down, and keep salt_n near the
    hot key's reducer-spread need, not higher. Results are exactly the
    plain join's (every large row meets every matching small row exactly
    once — it carries exactly one salt value and the small side covers all
    of them).

    ``how``: inner or left (right/outer would need null-salt handling on
    the replicated side — not supported).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt_col = (
        F.pmod(F.hash(F.col(salt_source)), F.lit(salt_n))
        if salt_source
        else F.pmod(F.hash(*[F.col(c) for c in large.columns]), F.lit(salt_n))
    )
    l = large.withColumn("__salt", salt_col)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    )
    out = l.join(s, [key, "__salt"], how)
    return out.drop("__salt")


def blocked_edit_distance_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int,
    block_cols: list[str] | None = None,
    prefix_len: int = 8,
) -> DataFrame:
    """Fuzzy self-join by Levenshtein edit distance, prefix-blocked —
    the record-linkage / title-matching shape (near-identical strings that
    token-set Jaccard misses because a one-character typo changes a whole
    token). Returns (block_cols..., pk1, pk2, distance) with pk1 < pk2 and
    distance <= ``max_distance``.

    Blocking semantics (part of the operator's contract, mirrored exactly
    by the oracle): candidates must agree on ``block_cols`` AND on the
    first ``prefix_len`` characters of ``text_col``. Prefix blocking is
    the standard heuristic from the record-linkage literature — recall is
    bounded by the chance of an edit inside the prefix; callers needing
    full recall chain a second pass blocked on a suffix or a q-gram key.

    Plan shape: ONE equi-join on (block_cols, prefix) — never a cartesian;
    a lossless |len(a)-len(b)| <= max_distance length prune rides the join
    condition as an integer residual (edit distance >= length difference),
    so the O(len^2) Levenshtein DP only runs on length-compatible
    survivors. Spark's 3-arg levenshtein(l, r, threshold) short-circuits
    the DP once the running minimum exceeds the threshold (returns -1),
    which caps per-pair cost at O(len * threshold).
    """
    block_cols = block_cols or []
    proj = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.substring(F.col(text_col), 1, prefix_len).alias("__pfx"),
        F.length(F.col(text_col)).alias("__len"),
    )
    a, b = proj.alias("a"), proj.alias("b")
    cond = (F.col("a.__pfx") == F.col("b.__pfx")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cond = cond & (
        F.abs(F.col("a.__len") - F.col("b.__len")) <= F.lit(max_distance)
    )
    dist = F.levenshtein(F.col("a.__t"), F.col("b.__t"), max_distance)
    return (
        a.join(b, cond, "inner")
        .select(
            *[F.col(f"a.{c}").alias(c) for c in block_cols],
            F.col(f"a.{id_col}").alias("pk1"),
            F.col(f"b.{id_col}").alias("pk2"),
            dist.alias("distance"),
        )
        .filter(F.col("distance") >= 0)
    )
