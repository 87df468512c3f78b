"""Closed-loop workload: one client runs registry ops back to back.

An op is one registry call ``fn(spark, dir)`` (the plan build, which
may already run eager jobs) followed by one materializing action,
``toPandas()`` with Arrow, which computes every output column -- a
``count()`` would let Catalyst prune the columns it claims to time.
The two are timed as separate spans; their sum is the op latency.
The op's CPU time is what the engine's processes and this client's
thread spend over the same span (see ``tracing.engine_cpu``); its cost
is that over the run's mean reference-task time, sampled before each
op. The collected rows are then verified against the query's cached
DuckDB oracle, outside the timed span.

A run is whole passes over the workload's op list, each pass in an
order drawn from the seed. The number of passes follows from
``--seconds`` alone (one per ``NOMINAL_PASS_S``), never from measured
speed, so every run of a given length takes the same samples and
reports the same tail percentile, on a parent and a change alike.
"""

from __future__ import annotations

import random
import time
import traceback

from perfbench import stats
from perfbench.tracing import ReferenceWork, RssSampler, engine_cpu, \
    job_counts, parse_event_log, wrap_calls

# One closed loop over two op families, so a change that helps one and
# costs the other moves the same run. The families are reported apart
# in the traced run (queries.* covers every op, pipeline.* the second).
#
# The data-bound JVM path: scan, hash and broadcast join, aggregate,
# shuffle, window sort, iteration (TPC-H, relational join and rollup,
# OVER/TopN, batch-window, interval-join and graph queries).
OLAP_OPS = (
    "tpch_q3", "tpch_q6", "join_broadcast", "agg_rollup",
    "over_rows_unbounded_preceding", "rank_topn_per_group",
    "window_hop_agg", "interval_join_batch", "graph_connected_components",
)
# The LLM-data faces: vector top-k, text hashing and the guarded widen
# on single-split scans (boilerplate_ngrams; pipeline/, _sizing).
LLM_OPS = ("text_fingerprint", "ann_bruteforce_topk", "boilerplate_ngrams")
OPS = OLAP_OPS + LLM_OPS
# One warm pass over OPS takes about 9 s on a quiet 4-core host, so a
# 20 s run is two passes: 24 samples, each op sampled twice.
NOMINAL_PASS_S = 10.0

# Set-up ends with one untimed pass over OPS: the first run of each
# query pays its code generation and class loading, and took up to
# twice its later latency. That cost is counted in setup_s instead.

PIPELINE_MODULE = "flink_1_11_2_with_comments_spark.queries.pipeline_ops"


def release_persisted(spark) -> None:
    """Same state before every op: drop catalog-cached relations and
    every persisted or localCheckpointed RDD a previous op left pinned
    (``clearCache`` alone keeps checkpoint storage, and a persist inside
    the next op could be served from the previous op's cache)."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        # blocking: the block removal must not run into the next op
        it.next()._2().unpersist(True)


class _LayerProbe:
    """Traced-run counters around the catalog and sizing layers."""

    def __init__(self):
        self.load_s = 0.0
        self.widens = 0

    def install(self) -> None:
        from flink_1_11_2_with_comments_spark import _sizing, catalog
        from flink_1_11_2_with_comments_spark.pipeline import pca

        def on_load(_args, _out, sec):
            self.load_s += sec

        def on_widen(args, out, _sec):
            self.widens += out is not args[0]

        wrap_calls(catalog, "load_table", on_load)
        wrap_calls(_sizing, "widen_if_underparallel", on_widen)
        # pca binds the function at import time under a private alias
        wrap_calls(pca, "_widen_if_underparallel", on_widen)

    def take(self) -> tuple[float, int]:
        out = (self.load_s, self.widens)
        self.load_s, self.widens = 0.0, 0
        return out


def run(ctx) -> dict:
    from flink_1_11_2_with_comments_spark import catalog
    from flink_1_11_2_with_comments_spark import queries as registry
    from flink_1_11_2_with_comments_spark.session import get_spark

    specs = registry.all_specs()
    tracer = ctx.tracer
    probe = _LayerProbe()
    if ctx.trace:
        probe.install()

    # --- set-up: session, catalog, one untimed warm-up pass ----------
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{ctx.workload}")
    session_s = time.perf_counter() - t0
    tracer.add("session.get_spark", time.time() - session_s, time.time())
    with tracer.span("catalog.setup"):
        for table in catalog.TPCH_TABLES:
            catalog.load_table(spark, ctx.tables_dir, table).schema
    with tracer.span("warmup"):
        for name in OPS:
            specs[name].fn(spark, ctx.tables_dir).toPandas()
            release_persisted(spark)
    probe.take()
    t0 = time.perf_counter()
    expected = {n: ctx.oracles.answer(n, specs[n].oracle) for n in OPS}
    ref = ReferenceWork(spark)
    ctx.exclude_from_setup(time.perf_counter() - t0)
    # the timed phase starts from a collected heap, not the warm-up's
    spark.sparkContext._jvm.System.gc()
    setup_s = ctx.setup_elapsed()

    # --- timed phase -------------------------------------------------
    sc = spark.sparkContext
    rng = random.Random(ctx.seed)
    passes = max(1, round(ctx.seconds / NOMINAL_PASS_S))
    ops: list[dict] = []
    ref_wall_s = 0.0
    (cpu0, jit0), main0 = engine_cpu(), time.thread_time()
    start = time.perf_counter()
    with RssSampler() as rss:
        for _ in range(passes):
            order = list(OPS)
            rng.shuffle(order)
            for name in order:
                t0 = time.perf_counter()
                ref.measure()
                ref_wall_s += time.perf_counter() - t0
                ops.append(_one_op(ctx, spark, sc, specs[name], len(ops),
                                   expected[name], probe))
    wall_s = time.perf_counter() - start
    main_s = time.thread_time() - main0
    cpu1, jit1 = engine_cpu()
    cpu_s = cpu1 - cpu0
    # the harness's own work, result checks and the reference, is not
    # the program's time
    timed_s = wall_s - ref_wall_s - sum(op["verify_s"] for op in ops)
    cpu_s += (main_s - sum(op["verify_cpu_s"] for op in ops)
              - sum(ref.samples))
    ref_s = ref.mean()

    spark.stop()  # also closes the event log the traced run reads
    layer = {}
    if ctx.trace:
        for op in ops:
            op["module"] = specs[op["name"]].fn.__module__
        layer = _layer_metrics(ctx, ops, session_s)
    ok = [op for op in ops if op["ok"]]
    lat = stats.summary([op["latency_s"] for op in ok]) if ok else None
    cpu = stats.summary([op["cpu_s"] for op in ok]) if ok else None
    costs = [op["cpu_s"] / ref_s for op in ok]
    return {
        "attempted": len(ops), "failed": len(ops) - len(ok),
        "errors": [(op["name"], op["error"]) for op in ops if not op["ok"]],
        "setup_s": setup_s, "peak_rss_mb": rss.peak_bytes / 2**20,
        "wall_s": wall_s, "timed_s": timed_s, "passes": passes,
        "latency": lat, "cpu": cpu, "cpu_s": cpu_s, "jit_cpu_s": jit1 - jit0,
        "ops_per_min": 60.0 * len(ok) / timed_s,
        "cpu_s_per_op": cpu_s / len(ok) if ok else 0.0,
        "ref_cpu_s": ref_s, "ref_samples": ref.samples,
        "cost": stats.summary(costs) if ok else None,
        "cost_geomean": stats.geomean(costs) if ok else 0.0,
        "cost_per_op": cpu_s / len(ok) / ref_s if ok else 0.0,
        "per_op": [{k: op[k] for k in ("name", "latency_s", "build_s",
                                       "run_s", "cpu_s", "verify_s", "ok")}
                   for op in ops],
        "layer": layer,
    }


def _one_op(ctx, spark, sc, spec, idx, expected, probe) -> dict:
    from perfbench.oracles import verify

    release_persisted(spark)
    rec = {"name": spec.name, "op": idx, "ok": False, "error": None,
           "build_s": 0.0, "run_s": 0.0, "latency_s": 0.0, "cpu_s": 0.0,
           "verify_s": 0.0, "verify_cpu_s": 0.0}
    group = f"op{idx}"
    try:
        with ctx.tracer.span("op", op=idx):
            if ctx.trace:
                sc.setJobGroup(group + ":build", spec.name)
            cpu0 = engine_cpu()[0]
            main0 = time.thread_time()
            with ctx.tracer.span("queries.build", op=idx):
                t0 = time.perf_counter()
                df = spec.fn(spark, ctx.tables_dir)
                t1 = time.perf_counter()
            if ctx.trace:
                sc.setJobGroup(group + ":run", spec.name)
            with ctx.tracer.span("queries.run", op=idx):
                got = df.toPandas()
                t2 = time.perf_counter()
            main1 = time.thread_time()
            cpu1 = engine_cpu()[0]
        rec.update(build_s=t1 - t0, run_s=t2 - t1, latency_s=t2 - t0,
                   cpu_s=cpu1 - cpu0 + main1 - main0)
        rec["error"] = verify(spec.name, got, expected)
        rec["verify_s"] = time.perf_counter() - t2
        rec["verify_cpu_s"] = time.thread_time() - main1
        rec["ok"] = rec["error"] is None
    except Exception:  # an op that raises counts as failed, run goes on
        rec["error"] = traceback.format_exc(limit=3)
    if ctx.trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["build_counts"] = job_counts(sc, group + ":build")
        rec["run_counts"] = job_counts(sc, group + ":run")
        rec["load_s"], rec["widens"] = probe.take()
    return rec


def _layer_metrics(ctx, ops, session_s) -> dict:
    """Per-op means of every traced counter; see BENCHMARK.json."""
    ev = parse_event_log(ctx.event_log_dir)
    cpus = ctx.cpus

    def merged(op) -> dict:
        out: dict = {}
        for phase in ("build", "run"):
            for k, v in ev.get(f"op{op['op']}:{phase}", {}).items():
                out[k] = out.get(k, 0) + v if k != "stage_skew" \
                    else out.get(k, []) + v
        return out

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def family(sel) -> dict:
        if not sel:
            return {}
        evs = [merged(op) for op in sel]
        task_s = [e.get("task_ms", 0) / 1e3 for e in evs]
        wall = sum(op["latency_s"] for op in sel)
        skew = [s for e in evs for s in e.get("stage_skew", [])]
        return {
            "build_s": mean(op["build_s"] for op in sel),
            "build_jobs": mean(op["build_counts"]["jobs"] for op in sel),
            "run_s": mean(op["run_s"] for op in sel),
            "jobs": mean(op["build_counts"]["jobs"]
                         + op["run_counts"]["jobs"] for op in sel),
            "stages": mean(op["build_counts"]["stages"]
                           + op["run_counts"]["stages"] for op in sel),
            "tasks": mean(op["build_counts"]["tasks"]
                          + op["run_counts"]["tasks"] for op in sel),
            "exchanges": mean(e.get("exchanges", 0) for e in evs),
            "broadcast_joins": mean(e.get("broadcast_joins", 0)
                                    for e in evs),
            "shuffle_joins": mean(e.get("shuffle_joins", 0) for e in evs),
            "task_s": mean(task_s),
            "core_busy": sum(task_s) / (wall * cpus) if wall else 0.0,
            "shuffle_write_mb": mean(e.get("shuffle_write_b", 0) / 2**20
                                     for e in evs),
            "shuffle_read_mb": mean(e.get("shuffle_read_b", 0) / 2**20
                                    for e in evs),
            "spill_mb": mean(e.get("spill_b", 0) / 2**20 for e in evs),
            "gc_s": mean(e.get("gc_ms", 0) / 1e3 for e in evs),
            "task_skew": stats.median(skew) if skew else 0.0,
            "python_evals": mean(e.get("python_evals", 0) for e in evs),
            "python_mb_sent": mean(e.get("py_sent_b", 0) / 2**20
                                   for e in evs),
            "python_mb_received": mean(e.get("py_recv_b", 0) / 2**20
                                       for e in evs),
            "widen_repartitions": mean(op["widens"] for op in sel),
            "scan_mb": mean(e.get("scan_b", 0) / 2**20 for e in evs),
            "scan_rows": mean(e.get("scan_rows", 0) for e in evs),
            "load_s": mean(op["load_s"] for op in sel),
        }

    q = family(ops)
    p = family([op for op in ops if op["module"] == PIPELINE_MODULE])
    out = {"session.start_s": session_s}
    for k in ("load_s", "scan_mb", "scan_rows"):
        out[f"catalog.{k}"] = q.get(k, 0.0)
    for k in ("build_s", "build_jobs", "run_s", "jobs", "stages", "tasks",
              "exchanges", "broadcast_joins", "shuffle_joins", "task_s",
              "core_busy", "shuffle_write_mb", "shuffle_read_mb",
              "spill_mb", "gc_s", "task_skew"):
        out[f"queries.{k}"] = q.get(k, 0.0)
    for k in ("build_s", "build_jobs", "run_s", "tasks", "python_evals",
              "python_mb_sent", "python_mb_received", "task_s",
              "core_busy", "widen_repartitions"):
        out[f"pipeline.{k}"] = p.get(k, 0.0)
    return out
