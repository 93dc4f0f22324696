#!/usr/bin/env python
"""Benchmark harness: runs the registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": headline_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Two tiers (round-5 verdict item #7 — 98 timed queries diluted the signal):
- HEADLINE: ~51 plan-distinct queries (one representative per physical plan
  shape — band joins, iterative graph, windowed streaming, wide TPC-H joins,
  storage maintenance). Their total is the compact line's "value".
- full set: everything registered (minus the model-fit SKIPs). Always timed
  on a default run so per-round records stay complete; its total goes to
  stderr + bench_detail.json as "full_total".
Pass --headline-only to time just the headline tier (fast local iteration).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from scabillmatch_spark.plans.bill_match import document_match
from scabillmatch_spark.session import SHARED_RELATIONS, get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    spark = get_spark("bench")

    # Warmup: JVM + codegen + one scan of each table, so per-query timings
    # reflect steady-state throughput rather than first-action startup cost.
    from scabillmatch_spark.io.sources import TESTDATA_TABLES, read_table

    t0 = time.perf_counter()
    for t in TESTDATA_TABLES:
        read_table(spark, sf_dir, t).count()
    # JIT the md5/array/LSH codegen paths on the tiny sf before timing
    small = "/root/testdata/sf0.001"
    if os.path.isdir(small):
        document_match(spark, small, top=10).collect()
    # pre-spawn the Python worker pool (fork + pyspark/pandas import per
    # worker): the first pandas-UDF query would otherwise be charged ~2s of
    # one-time process startup that says nothing about its plan
    spark.range(256, numPartitions=32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # pre-warm the Structured-Streaming machinery (micro-batch planner,
    # memory sink, checkpoint codepath JIT): the FIRST streaming row in
    # registry order was otherwise charged ~0.5s of one-time spin-up
    # (r12 s3: events_stream_tumbling read 1.4s in-bench vs 0.96s
    # standalone steady — positional, not its plan). Same excluded-from-
    # timing rationale as the worker-pool pre-spawn above.
    try:
        from scabillmatch_spark.streaming import events as _SE

        _SE.run_available_now(
            _SE.tumbling_counts(_SE.read_events_stream(spark, small)),
            shuffle_partitions=4,
        ).count()
    except Exception as e:  # warmup must never fail the bench
        print(f"# stream warmup skipped: {e}", file=sys.stderr)
    warmup_base = round(time.perf_counter() - t0, 1)
    print(f"# warmup: {warmup_base}s", file=sys.stderr)
    # Build every shared relation before timing, so a consumer's row
    # measures its own plan rather than whether it ran first in registry
    # order. Each build is its own stderr line and counts toward warmup_sec;
    # a row that only reads a relation (emb_cosine_near_dup) times the
    # cached readback, and the build's cost is its warmup_cache line.
    cache_warm: dict[str, float] = {}
    t0 = time.perf_counter()
    for name, relation in SHARED_RELATIONS.items():
        t = time.perf_counter()
        relation(spark, sf_dir).count()
        cache_warm[name] = round(time.perf_counter() - t, 3)
        print(f"# warmup_cache {name}: {cache_warm[name]}s", file=sys.stderr)
    warmup_caches = round(time.perf_counter() - t0, 1)
    print(f"# warmup_shared_relations: {warmup_caches}s", file=sys.stderr)
    warmup_sec = round(warmup_base + warmup_caches, 2)

    # Host-phase calibration probe (r7 verdict #5): a FIXED pure-codegen
    # plan — no IO, no shuffle, size independent of sf — timed immediately
    # after warmup and again after the last query. Identical work at both
    # ends, so the pair tags the RUN's host phase: last/first ≈ 1 means
    # sub-second per-query deltas vs another run are real; a 2-3x drift
    # means the host moved underneath the run (the documented 2-13x
    # steal/GC variance) and uniform sub-second movements are noise-class.
    def _calibration_probe(samples: int = 3) -> float:
        # median of several samples (r9 advice): one scheduler hiccup in a
        # 2-sample mean skewed the adjusted headline by its full weight
        ts = []
        for _ in range(samples):
            t0 = time.perf_counter()
            spark.range(20_000_000, numPartitions=32).selectExpr(
                "sum((id * 2654435761) % 1000003) AS s"
            ).collect()
            ts.append(time.perf_counter() - t0)
        return round(sorted(ts)[len(ts) // 2], 3)

    _calibration_probe(samples=1)  # untimed: compile the probe's codegen
    calib_first = _calibration_probe()
    print(f"# calibration_probe_first: {calib_first}s", file=sys.stderr)

    timings: dict[str, float] = {}

    def run(name, fn):
        t0 = time.perf_counter()
        df = fn()
        n = df.count()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {timings[name]}s rows={n}", file=sys.stderr)

    # ml model-fitting queries are in the correctness gate but not the bench
    # headline set: model fits + pandas-UDF kernels dominate wall time
    # without exercising new engine plan shapes (the flagship LSH pipeline is
    # the workflow-1 bench representative).
    SKIP = {
        "ml_kmeans_blocked_pairs",
        # BisectingKMeans + stem-UDF corpus pass: model-fit wall time, no new
        # plan shape beyond the benched featurize/LSH representatives
        "ml_stemmer_bisecting",
        # MinHashLSH fit dominates; the ANN search shape is benched via
        # emb_lsh_ann
        "ml_knn_probe",
        "ml_lda_topics",
        "ml_lsa_projection",
        "ml_minhash_reference_join",
        "ml_dimsum_lsa_invariants",
        # per-query KMeans coarse-quantizer fit dominates wall time (same
        # model-fit class as the ml_* set); the ANN *search* plan shape is
        # benched via emb_lsh_ann / emb_cosine_topk
        "emb_ivf_ann",
        # same class: per-query KMeans codebook fits (m sub-quantizers)
        # dominate wall time; still runs in the correctness gate
        "emb_pq_ann",
    }
    # events_stream_stateful is back in the headline (round-3 verdict item):
    # with the worker pool pre-spawned and 16 state-store partitions it runs
    # ~2s — comparable to events_stream_dedup. The per-KEY pandas overhead
    # of applyInPandasWithState remains its scale caveat (documented; the
    # transformWithState successor is implemented but env-blocked on
    # protobuf).
    # Guard against silent drift as the registry reorders/renames: a SKIP
    # name that no longer exists means the headline set changed semantics.
    unknown = SKIP - set(entrymod.queries())
    assert not unknown, f"bench SKIP names not in queries(): {sorted(unknown)}"

    # HEADLINE tier: one representative per distinct physical plan shape.
    # Excluded-by-design from the headline (still timed on a full run):
    # near-duplicate plan shapes (the other 16 TPC-H variants, the
    # doc_quality/token/fingerprint Column-expr scans), fixed-overhead
    # composites (stream_ingest_dedup = Structured-Streaming micro-batch
    # setup, io_json_roundtrip = text-codec CPU), and sub-0.3s scans whose
    # timing is dominated by job-submission latency.
    HEADLINE = {
        "flagship_doc_match", "flagship_doc_match_2x",
        # dedup / similarity family
        "minhash_lsh_dedup", "minhash_delta_dedup", "doc_near_dup_jaccard",
        "doc_exact_dedup", "doc_simhash", "doc_paragraph_dedup",
        "doc_dup_clusters", "emb_cosine_near_dup", "emb_lsh_ann",
        "emb_brp_euclidean_join", "emb_cosine_topk", "tfidf_cosine_pairs",
        # iterative graph
        "graph_pagerank", "graph_triangle_count", "graph_shortest_paths",
        "graph_weighted_paths", "graph_kcore",
        # TPC-H plan-shape representatives (scan-agg, join+topN, wide
        # multi-join, having-in, multi-exists anti, outer-join distribution)
        "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
        "tpch_q9_product_profit", "tpch_q18_having_in",
        "tpch_q21_sole_returner", "tpch_q13_order_distribution",
        # window / session / rollup
        "window_topn_orders_per_customer", "events_sessionization",
        "orders_rollup", "latest_version_family",
        # curation tier
        "doc_decontaminate", "doc_mixture_sample", "doc_gopher_quality",
        "doc_keywords", "emb_outlier_audit", "doc_pack_sequences",
        # streaming / temporal
        "events_stream_tumbling", "events_stream_stateful",
        "events_asof_join", "events_range_join", "events_funnel",
        # storage maintenance
        "io_sorted_compact", "io_zorder_roundtrip", "io_bucketed_join",
        "io_avro_roundtrip",
        # round-6 plan shapes: full-outer MERGE arbitration; zero-shuffle
        # sliding-window chunking (narrow posexplode/slice)
        "storage_merge_upsert", "doc_chunk_overlap",
        # round-7 plan shapes: prefix-blocked Levenshtein fuzzy join
        # (equi-join + bounded DP residual); exact grouped percentile
        # (sort-based agg). doc_weighted_sample shares doc_mixture_sample's
        # window-rank shape and stays in the full tier.
        "doc_fuzzy_title_join", "lineitem_exact_quantiles",
        # CSV boundary codec (multiLine scan is its own shape: per-file
        # tasks); ORC stays in the full tier (native columnar, parquet-like
        # plan shape)
        "io_csv_roundtrip",
        # end-to-end curation composite (gate -> dedup window -> broadcast
        # decontamination -> sample window as ONE plan)
        "doc_curation_pipeline",
        # runtime partition pruning on a partitioned fact scan (in-query
        # asserted). stream_merge_upsert stays in the full tier (streaming
        # fixed overhead, same class as stream_ingest_dedup)
        "io_dpp_prune",
    }
    unknown_h = HEADLINE - set(entrymod.queries()) - {
        "flagship_doc_match", "flagship_doc_match_2x",
    }
    assert not unknown_h, f"HEADLINE names not in queries(): {sorted(unknown_h)}"
    headline_only = "--headline-only" in sys.argv

    # Flagship: full near-dup pipeline (tokenize -> MinHash LSH -> rescore).
    # One untimed warm pass first (same steady-state discipline as the
    # table/worker warmup above): the first execution uniquely carries the
    # sf0.1 corpus-cache population, the collapse-reps persist, and the
    # plan's codegen compiles — one-time costs that vary 12-24 s run-to-run
    # on this host and say nothing about the match plan the other ~85
    # queries are compared by. The cold time still goes to stderr.
    t0 = time.perf_counter()
    document_match(spark, sf_dir, top=1000).count()
    print(
        f"# flagship_doc_match_cold: {round(time.perf_counter() - t0, 3)}s",
        file=sys.stderr,
    )
    # Second flagship scale point (2x disjoint-vocab corpus via scale_check's
    # builder), recorded per round so plan regressions show up as SLOPE
    # changes between the 1x and 2x points, not just absolute deltas. Since
    # r7 BOTH points time the identical match_token_sets plan (the 2x point
    # used to go through a collapse-free variant — not slope-comparable),
    # and the trials are INTERLEAVED 1x,2x,1x,2x,... with min-of-3: the r5
    # (21.88 vs 6.77 s) and r6 (7.98 vs 2.80 s) driver records both showed a
    # physically impossible 1x>2x inversion because the 1x trials all sat in
    # the worst JVM position — right after the cold pass's cache build, in
    # the same GC/JIT settling window — while the 2x trials ran later in a
    # settled JVM. min-of-2 can't reject a pause that covers both early
    # trials; interleaving distributes position effects evenly and min-of-3
    # tolerates one bad window per point.
    import scale_check as _sck

    sets2 = _sck.corpus_token_sets(_sck.corpus(spark, sf_dir, 2))
    _sck.match_time(spark, sets2)  # warm the 2x plan's codegen
    spark.sparkContext._jvm.System.gc()  # drain warmup garbage before timing
    trials, trials2 = [], []
    for _ in range(4):
        t0 = time.perf_counter()
        document_match(spark, sf_dir, top=1000).count()
        trials.append(round(time.perf_counter() - t0, 3))
        trials2.append(_sck.match_time(spark, sets2))
    sets2.unpersist()
    # round 1 is warmup in disguise — the 2x corpus tokenization right above
    # evicts/settles caches and both round-1 trials consistently read 2-3x
    # the steady state (measured [4.7,3.1,2.6] / [6.9,1.9,1.9]); min over
    # rounds 2-4
    timings["flagship_doc_match"] = min(trials[1:])
    timings["flagship_doc_match_2x"] = min(trials2[1:])
    print(f"# flagship_doc_match trials={trials}", file=sys.stderr)
    print(f"# flagship_doc_match_2x trials={trials2}", file=sys.stderr)
    for name, q in entrymod.queries().items():
        if name in SKIP or (headline_only and name not in HEADLINE):
            continue
        run(name, lambda q=q: q(spark, sf_dir))

    # Second-trial pass for slow readings: a single timed pass cannot tell
    # an isolated GC/steal pause from a real regression (the r5 "graph trio
    # regressed" verdict item was exactly this — 3 queries read 2-4x their
    # r4 times from one-pass noise). Any query whose first pass exceeded
    # 2 s gets ONE more trial and the min is recorded; both readings stay
    # on stderr. Bounded cost: the >2 s set is ~5 entries in a clean phase.
    retry = [
        k for k, v in timings.items()
        if v > 2.0 and not k.startswith("flagship_")
    ]
    qmap = entrymod.queries()
    for name in retry:
        t0 = time.perf_counter()
        qmap[name](spark, sf_dir).count()
        dt = round(time.perf_counter() - t0, 3)
        print(
            f"# retry {name}: first={timings[name]}s second={dt}s",
            file=sys.stderr,
        )
        timings[name] = min(timings[name], dt)

    # Secondary noop-sink metric (r16; VERDICT r15 #6 — the count()-action
    # pruning class): under the bench's historical `.count()` action,
    # Catalyst prunes computed columns no aggregate/filter consumes, so
    # rows ending in a bare select of computed columns under-measure their
    # compute (graph_pagerank lost its whole iteration to this and was
    # fixed structurally in r15; these residual rows lose only per-row
    # expression work). `noop_queries` times the SAME DataFrames under the
    # guide-§1.4 noop sink, which computes every column of every row. The
    # historical `queries`/`value` fields keep the count-action methodology
    # byte-identical in meaning — this is an additive column, and its cost
    # (three sub-second scans) stays outside the headline total.
    NOOP_SECONDARY = ("window_running_sum", "doc_token_stats", "doc_fingerprint")
    unknown_n = set(NOOP_SECONDARY) - set(entrymod.queries())
    assert not unknown_n, f"NOOP_SECONDARY names not in queries(): {sorted(unknown_n)}"
    noop_timings: dict[str, float] = {}
    for name in NOOP_SECONDARY if not headline_only else ():
        t0 = time.perf_counter()
        entrymod.queries()[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        noop_timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# noop {name}: {noop_timings[name]}s", file=sys.stderr)

    calib_last = _calibration_probe()
    calib_drift = round(calib_last / calib_first, 2) if calib_first else None
    print(
        f"# calibration_probe_last: {calib_last}s"
        f" (drift last/first = {calib_drift})",
        file=sys.stderr,
    )

    total = round(sum(v for k, v in timings.items() if k in HEADLINE), 2)
    full_total = round(sum(timings.values()), 2)
    # Drift-adjusted headline (r8 verdict #4): the probe is FIXED work —
    # no IO, no shuffle, sf-independent — so its absolute seconds are a
    # host-speed unit. Scaling the raw total by CAL_REF / mean(first,last)
    # converts it to "reference-phase seconds": cross-round comparisons
    # stop depending on which host phase the driver happened to bench in
    # (the r8 record alone spanned probe 0.086-0.228 s, drift 2.65, on
    # identical code). CAL_REF is the pinned clean-phase probe floor
    # observed on this host (r8/r9 records); it is a HOST constant —
    # override via SPARK_GRAFT_CAL_REF on any other host (the default is
    # meaningless elsewhere). The factor is CLAMPED to [0.25, 2.0]: the
    # adjustment is only valid under roughly-uniform slowdown (PLANS.md
    # pins the CPU-only-contention overcorrection), so a probe implying
    # >4x correction is a low-confidence tag, not a measurement.
    CAL_REF = float(os.environ.get("SPARK_GRAFT_CAL_REF", "0.089"))
    mean_probe = (calib_first + calib_last) / 2 if calib_first and calib_last else 0
    factor_raw = CAL_REF / mean_probe if mean_probe else None
    factor = min(2.0, max(0.25, factor_raw)) if factor_raw else None
    total_adj = round(total * factor, 2) if factor else None
    print(
        f"# headline_total_drift_adjusted: {total_adj}s"
        f" (raw {total}s x clamp({round(factor_raw, 3) if factor_raw else None})"
        f"={round(factor, 3) if factor else None},"
        f" CAL_REF {CAL_REF}/mean_probe {round(mean_probe, 3)})",
        file=sys.stderr,
    )
    print(
        f"# headline_total: {total}s over"
        f" {sum(1 for k in timings if k in HEADLINE)} plan-distinct queries;"
        f" full_total: {full_total}s over {len(timings)} timed"
        + (" (PARTIAL: --headline-only run)" if headline_only else ""),
        file=sys.stderr,
    )
    # Per-query timings go to STDERR only: at ~85 headline queries the full
    # dict is a multi-KB JSON line that outgrew the driver's stdout
    # tail-capture window in round 4 (BENCH_r04 recorded parsed:null because
    # the front of the line — total wall, flagship — was truncated off).
    # The final stdout line is kept compact (<200 bytes) and carries the
    # headline scalars; "queries" stays in the schema as the flagship's
    # per-query entry so downstream consumers keep a non-empty dict.
    print("# per-query: " + json.dumps(timings), file=sys.stderr)
    detail = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_detail.json")
    try:
        with open(detail, "w") as f:
            json.dump(
                {
                    "total": total,
                    "full_total": full_total,
                    # a --headline-only record is PARTIAL: full_total covers
                    # only the headline tier and ~60 per-query entries are
                    # absent — never compare it against a full-run snapshot
                    "partial": headline_only,
                    "headline": sorted(HEADLINE & set(timings)),
                    "sf": sf,
                    "calibration": {
                        "first": calib_first,
                        "last": calib_last,
                        "drift": calib_drift,
                        "ref": CAL_REF,
                        "adjust_factor_raw": round(factor_raw, 4)
                        if factor_raw
                        else None,
                        "adjust_factor_clamped": factor != factor_raw,
                    },
                    "total_drift_adjusted": total_adj,
                    "warmup_sec": warmup_sec,
                    "warmup_detail": {
                        "base": warmup_base,
                        "shared_caches": cache_warm,
                    },
                    "noop_queries": noop_timings,
                    "queries": timings,
                },
                f,
                indent=1,
            )
    except OSError as e:  # read-only checkout: stderr copy above suffices
        print(f"# bench_detail.json not written: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                # raw total scaled to the pinned clean-phase probe
                # reference (CAL_REF / mean probe): the cross-round
                # comparable number — raw "value" still depends on the
                # host phase the run landed in
                "value_drift_adjusted": total_adj,
                "unit": "sec",
                # one-time untimed warmup cost (r16, VERDICT r15 #2):
                # table/JIT/worker-pool warmup + the shared-relation
                # builds the pre-warm absorbs — the line item that keeps
                # cross-round headline totals comparable when a build
                # moves between timed and untimed regions
                "warmup_sec": warmup_sec,
                # secondary noop-sink readings for the count()-pruned
                # bare-select rows (additive; see NOOP_SECONDARY note)
                "noop_queries": noop_timings,
                "queries": {
                    "flagship_doc_match": timings["flagship_doc_match"],
                    "flagship_doc_match_2x": timings["flagship_doc_match_2x"],
                },
                # n_queries counts the entries summed into "value" (the
                # headline tier); the full-set count/total live on stderr
                # and in bench_detail.json
                "n_queries": sum(1 for k in timings if k in HEADLINE),
                # fixed-work host-phase probe timed first/last (see
                # _calibration_probe): drift near 1 = trustworthy run;
                # >>1 = host moved mid-run, sub-second deltas are noise
                "calibration": {
                    "first": calib_first,
                    "last": calib_last,
                    "drift": calib_drift,
                },
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
