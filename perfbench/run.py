"""Bill-matching benchmark.

    python3 perfbench/run.py --workload lsh_match --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One client process
starts a local Spark session through the engine's own ``get_spark``, runs
one untimed warm-up operation, then runs operations of the workload in a
closed loop, one at a time, each on a freshly generated input set, until
``--seconds`` of operation time have passed. Every output is then checked
against an oracle computed apart from the engine. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``; per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

ENGINE_ENV = {
    "SPARK_DRIVER_MEMORY": "2g",  # the engine's 48g default exceeds small hosts
    "PYSPARK_PYTHON": sys.executable,
}
# -Xms equal to the heap limit: G1 otherwise grows the heap by its own
# pacing, and the JVM's peak resident size moved by ~20 % between runs
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": "-Xms2g",
}


# untimed operations before timing starts: the first pays class loading and
# code generation, the next ones let the JIT compile the hot generated code
# (operation time and CPU fall by about half over the first few operations)
WARMUP_OPS = 3


def pin_env(root: str, work: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = root
    os.environ.update(ENGINE_ENV)
    sys.path.insert(0, root)


def stop_jvm(gateway) -> None:
    """Close the py4j gateway and wait for the JVM to exit; its Python
    workers end with it."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def worker_import_guard(spark) -> None:
    """Python workers must import the engine's package: without it a pandas
    UDF has been seen to kill the JVM instead of failing the job."""
    def probe(_):
        import scabillmatch_spark
        return [scabillmatch_spark.__file__]

    found = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    if not found:
        raise RuntimeError("Python workers cannot import scabillmatch_spark")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its outputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "scabillmatch_spark", "__init__.py")):
        log("run from the root of a checkout: scabillmatch_spark/ is missing")
        return 2
    import workloads  # imports pyspark
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    work = os.path.join(HERE, ".work")
    pin_env(root, work)

    # inputs: one set per possible operation, generated before any timing
    n_sets = max(4, int(args.seconds) + 2)
    base = gen.ensure_inputs(os.path.join(work, "inputs"), args.workload, args.seed,
                             WARMUP_OPS, n_sets)
    out_root = os.path.join(work, "out", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(out_root, ignore_errors=True)
    try:
        result = measure(args, workloads.WORKLOADS[args.workload](), base, n_sets, out_root)
    finally:
        shutil.rmtree(out_root, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(args, wl, base, n_sets, out_root) -> dict:
    import oracles
    import probes
    from scabillmatch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", extra_conf=SPARK_CONF)
    start_s = time.perf_counter() - t0
    counters = probes.StageCounters(spark)
    worker_import_guard(spark)
    tr = probes.Trace(counters) if args.trace else None
    read_before: set[str] = set()

    def operation(label: str, traced: bool) -> float:
        paths = wl.inputs(base, label)
        reread = read_before.intersection(paths)
        if reread:
            raise RuntimeError(f"operation {label} would re-read {sorted(reread)}")
        read_before.update(paths)
        out = os.path.join(out_root, label)
        t = time.perf_counter()
        if traced:
            tr.op = label
            with tr.span("op"):
                wl.run_traced(spark, base, label, out, tr)
        else:
            wl.run(spark, base, label, out)
        return time.perf_counter() - t

    try:
        t1 = time.perf_counter()
        with counters.group("warmup"):
            warm = [operation(f"w{k}", traced=False) for k in range(WARMUP_OPS)]
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        warm_counts = counters.read("warmup")
        log(f"{wl.name}: session {start_s:.2f}s, warm-up operations "
            + ", ".join(f"{w:.2f}s" for w in warm))

        # closed loop: whole operations until --seconds of operation time
        ops = []
        failed = 0
        frames0 = probes.frames_left(spark)
        busy = 0.0
        i = 0
        # in a traced run, operations alternate untraced/traced: whole pairs
        while i < n_sets and (busy < args.seconds or (args.trace and i % 2 == 1)):
            label = str(i)
            traced = bool(args.trace) and i % 2 == 1
            group = f"op-{label}"
            cpu0 = probes.tree_cpu_s()
            try:
                with counters.group(group):
                    wall = operation(label, traced)
            except Exception:  # noqa: BLE001 — an operation failure is counted, not fatal
                traceback.print_exc()
                failed += 1
                wall = None
            cpu = probes.tree_cpu_s() - cpu0
            frames = probes.frames_left(spark)
            if wall is not None:
                ops.append({"label": label, "traced": traced, "wall": wall, "cpu": cpu,
                            "work": counters.read(group), "frames": frames - frames0,
                            "write_mb": probes.dir_mb(*wl.outputs(os.path.join(out_root, label)))})
                busy += wall
                log(f"  op {label}{' traced' if traced else ''}: {wall:.3f}s, cpu {cpu:.2f}s, "
                    f"{frames - frames0} frames left")
            frames0 = frames
            i += 1

        t2 = time.perf_counter()
        correct = True
        checked = 0
        for op in ops:
            try:
                checked += wl.check(base, op["label"], os.path.join(out_root, op["label"]))
            except oracles.Mismatch as e:
                log(f"{wl.name}: operation {op['label']} output is wrong: {e}")
                correct = False
        log(f"{wl.name}: {len(ops)} operations checked ({checked} output rows) "
            f"in {time.perf_counter() - t2:.1f}s")

        live_mb = probes.jvm_live_mb(spark)
        rss_mb = probes.engine_peak_rss_mb()
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        stop_jvm(gateway)

    attempted = len(ops) + failed
    if args.trace:
        metrics = per_layer(tr, ops, start_s, warmup_s, warm_counts)
    else:
        def per_op(get):  # median over the operations of the run
            return statistics.median(get(o) for o in ops)

        metrics = {
            "setup_s": (setup_s, "s"),
            "stages_per_op": (per_op(lambda o: o["work"]["stages"]), "count"),
            "shuffle_mb_per_op": (per_op(lambda o: o["work"]["shuffle_mb"]), "MB"),
            "write_mb_per_op": (per_op(lambda o: o["write_mb"]), "MB"),
            "jvm_live_mb": (live_mb, "MB"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
        log(f"{wl.name}: per-operation metrics are medians over {len(ops)} operations")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


LAYERS = ("session", "io", "text", "blocking", "pairs", "featurize", "cluster",
          "kernels", "dedup", "merge")
# named per-layer metrics: (name, unit); the span each comes from is in per_layer
NAMED = (
    # wall and CPU time per operation, from the untraced operations of the
    # traced run: host load moves them by more than the largest bound an
    # end-to-end metric may have (see README.md)
    ("op_p50_s", "s"), ("cpu_s_per_op", "s"),
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("io.read_s", "s"), ("io.read_mb", "MB"), ("io.write_s", "s"), ("io.write_mb", "MB"),
    ("text.tokenize_s", "s"), ("text.tokens", "count"),
    ("blocking.collapse_s", "s"), ("blocking.distinct_sets", "count"),
    ("blocking.band_join_s", "s"), ("blocking.candidates", "count"),
    ("blocking.candidate_yield", "ratio"),
    ("blocking.kmeans_pairs_s", "s"), ("blocking.kmeans_pairs", "count"),
    ("pairs.rescore_s", "s"), ("pairs.expand_s", "s"), ("pairs.top_n_s", "s"),
    ("pairs.postprocess_s", "s"),
    ("featurize.fit_transform_s", "s"), ("cluster.kmeans_fit_s", "s"),
    ("cluster.kmeans_jobs", "count"),
    ("kernels.score_s", "s"), ("kernels.pairs_per_s", "1/s"), ("kernels.python_cpu_s", "s"),
    ("dedup.delta_s", "s"), ("dedup.delta_candidates", "count"), ("dedup.delta_yield", "ratio"),
    ("merge.upsert_s", "s"), ("merge.rewrite_ratio", "ratio"),
    ("cache.frames_left", "count"),
    ("trace.overhead_s", "s"),
)
COUNTER_UNITS = {"stages": "count", "tasks": "count", "executor_cpu_s": "s",
                 "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}


def layer_metric_units() -> dict[str, str]:
    units = dict(NAMED)
    for layer in LAYERS:
        for c, u in COUNTER_UNITS.items():
            units[f"{layer}.{c}"] = u
    return units


def _op_layer_values(spans, self_s) -> dict[str, float]:
    """Per-layer values of one traced operation from its spans."""
    v: dict[str, float] = {}
    c = {}
    for s, dt in zip(spans, self_s):
        name = s["name"]
        if name == "op":
            continue
        c[name] = s["counts"]
        v[f"{name}_s"] = v.get(f"{name}_s", 0.0) + dt
        layer = name.split(".")[0]
        for k in COUNTER_UNITS:
            v[f"{layer}.{k}"] = v.get(f"{layer}.{k}", 0.0) + s["counts"][k]
    for io in ("read", "write"):
        if f"io.{io}" in c:
            v[f"io.{io}_mb"] = c[f"io.{io}"]["mb"]
    if "text.tokenize" in c:
        v["text.tokens"] = c["text.tokenize"]["tokens"]
    if "blocking.collapse" in c:
        v["blocking.distinct_sets"] = c["blocking.collapse"]["distinct_sets"]
    if "blocking.band_join" in c:
        n = c["blocking.band_join"]["candidates"]
        v["blocking.candidates"] = n
        v["blocking.candidate_yield"] = c["pairs.rescore"]["passed"] / n if n else 0.0
    if "blocking.kmeans_pairs" in c:
        v["blocking.kmeans_pairs"] = c["blocking.kmeans_pairs"]["pairs"]
        v["kernels.pairs_per_s"] = v["blocking.kmeans_pairs"] / v["kernels.score_s"]
        v["kernels.python_cpu_s"] = c["kernels.score"]["python_cpu_s"]
    if "cluster.kmeans_fit" in c:
        v["cluster.kmeans_jobs"] = c["cluster.kmeans_fit"]["jobs"]
    if "dedup.delta" in c:
        d = c["dedup.delta"]
        v["dedup.delta_candidates"] = d["candidates"]
        v["dedup.delta_yield"] = d["reported"] / d["candidates"] if d["candidates"] else 0.0
    if "merge.upsert" in c:
        v["merge.rewrite_ratio"] = c["merge.upsert"]["ratio"]
    return v


def per_layer(tr, ops, start_s, warmup_s, warm_counts) -> dict:
    """Medians over the traced operations of every per-layer metric; 0 for
    a layer the workload does not call."""
    self_s = tr.self_times()
    per_op = []
    for op in ops:
        if op["traced"]:
            idx = [k for k, s in enumerate(tr.spans) if s["op"] == op["label"]]
            per_op.append(_op_layer_values([tr.spans[k] for k in idx], [self_s[k] for k in idx]))
    traced = [o["wall"] for o in ops if o["traced"]]
    plain = [o["wall"] for o in ops if not o["traced"]]
    values = {
        "op_p50_s": statistics.median(plain),
        "cpu_s_per_op": statistics.median(o["cpu"] for o in ops if not o["traced"]),
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "cache.frames_left": statistics.median(o["frames"] for o in ops),
        "trace.overhead_s": statistics.median(traced) - statistics.median(plain),
    }
    for k in COUNTER_UNITS:
        values[f"session.{k}"] = warm_counts[k]
    units = layer_metric_units()
    for name in units:
        if name not in values:
            values[name] = statistics.median(v.get(name, 0.0) for v in per_op)
    return {name: (values[name], units[name]) for name in units}


if __name__ == "__main__":
    sys.exit(main())
