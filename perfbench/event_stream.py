"""Streaming workload: a paced file feed through one streaming job.

Slices of the ``events`` table are written as parquet files with
pyarrow, never Spark, before the timed phase. One job of three
Structured Streaming queries reads them through a file stream source:

- ``tumble``: a watermarked one-hour ``streaming.tumble`` aggregate,
  append mode;
- ``dedup``: ``streaming.deduplicate(within_watermark=True)`` on
  ``event_id``;
- ``topn``: ``streaming.topn.streaming_topn`` (a ``keyed_process``
  operator) keeping the top three values per event type.

The feed publishes one group of files at a time and waits until every
query has processed it before it publishes the next: first a steady
phase of single files, then one burst of ``n_burst`` files at once. A
group appears by renaming its directory into the watched one, so the
source sees all of it or none of it, and every run cuts the same
micro-batches: one per steady file and query, and batches of
``MAX_FILES_PER_TRIGGER`` through the burst. The per-batch costs this
workload exists for (planning, the offset and commit logs, state-store
commits) are then the same work in every run, and how fast the host
happens to be cannot change how many batches there are.

An op is one steady file. Its CPU time is what the engine's processes
spend from its publication until every query has processed it, and
its cost that over the run's mean reference-task time; its
latency runs from its publication to the end of the last micro-batch,
across the three queries, that consumed it. The burst is measured by
its catch-up rate: its events over the time from its publication to
the end of the micro-batch that finished draining it.

The stream's disorder is built so that every expected output is fixed
by the files alone, whatever the batching: displaced and duplicated
rows stay within half the watermark delay of the newest event in any
earlier file, so they are never late, and late rows lag by more than two
batches of at most ``MAX_FILES_PER_TRIGGER`` files, so they are always
behind the watermark that filters late events (the previous batch's).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import stats
from perfbench.oracles import verify
from perfbench.tracing import ReferenceWork, RssSampler, engine_cpu

EVENTS_PER_FILE = 125
STEADY_PER_10S = 2        # steady files per 10 s of --seconds
BURST_PER_STEADY = 4      # burst files per steady-phase file
WARMUP_SECONDS = 10       # the warm-up job's plan: 2 steady, a burst of 8
# Each publication is a directory the source's glob lists on every poll;
# past 32 paths Spark lists them with a distributed job per poll, which
# would change the per-batch cost the workload measures.
MAX_GROUPS = 32
# An idle query lists the source on every trigger; with the default
# trigger that is every 10 ms per query, half a core for the idle job,
# and its cost would grow with the wall time a file takes to go through.
TRIGGER = "100 milliseconds"
AWAIT_TIMEOUT_S = 120.0
REF_PER_GROUP = 8         # reference-work samples before each group
MAX_FILES_PER_TRIGGER = 8
WATERMARK_DELAY_S = 600   # catalog.WATERMARKS["events"]: 10 minutes
DISPLACE_WINDOW_S = WATERMARK_DELAY_S // 2
# late-row filtering uses the previous batch's watermark, so a batch's
# threshold can trail its own files by two batches of input
LATE_GAP = 2 * MAX_FILES_PER_TRIGGER + 2
LATE_SHARE = 0.01
TOPN_K = 3
QUERIES = ("tumble", "dedup", "topn")

SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


class StreamPlan:
    """The files, how they are grouped for publication and what each
    query must emit."""

    def __init__(self, events: pa.Table, seed: int, seconds: int):
        rng = np.random.default_rng(seed)
        self.n_steady = min(max(2, seconds * STEADY_PER_10S // 10),
                            MAX_GROUPS - 1)
        self.n_burst = self.n_steady * BURST_PER_STEADY
        n = self.n_steady + self.n_burst
        start = int(rng.integers(0, events.num_rows
                                 - (n + 1) * EVENTS_PER_FILE))
        ev = events.slice(start, n * EVENTS_PER_FILE).cast(SCHEMA)
        ts = ev.column("ts").to_numpy().astype("datetime64[us]") \
            .astype(np.int64)
        chunk = np.arange(ev.num_rows) // EVENTS_PER_FILE
        dest = chunk.copy()
        copies: list[tuple[int, int]] = []   # (row, extra file)
        copied = np.zeros(len(chunk), bool)
        late: list[int] = []
        for k in range(n):
            rows = np.flatnonzero(chunk == k)
            if k + 1 < n:
                # out-of-order and duplicated rows: the newest of chunk k
                recent = rows[ts[rows] >= ts[rows].max()
                              - DISPLACE_WINDOW_S * 1_000_000]
                move = rng.random(len(recent)) < 0.5
                dest[recent[move]] = k + 1
                dup = recent[~move][rng.random((~move).sum()) < 0.3]
                copies.extend((int(r), k + 1) for r in dup)
                copied[dup] = True
            if k + LATE_GAP < n:
                cand = rows[(dest[rows] == k) & ~copied[rows]]
                pick = rng.choice(cand, max(1, int(len(cand) * LATE_SHARE)),
                                  replace=False)
                dest[pick] = k + LATE_GAP
                late.extend(int(r) for r in pick)
        self.files: list[pa.Table] = []
        for k in range(n):
            idx = np.concatenate([np.flatnonzero(dest == k),
                                  [r for r, f in copies if f == k]])
            idx = rng.permutation(idx.astype(np.int64))
            self.files.append(ev.take(pa.array(idx)))
        self.late_ids = set(ev.column("event_id").take(
            pa.array(late, pa.int64())).to_pylist())
        self.burst_events = sum(t.num_rows for t in self.files[-self.n_burst:])

    def groups(self) -> list[list[int]]:
        """File indices per publication: one per steady file, then the
        burst."""
        return ([[k] for k in range(self.n_steady)]
                + [list(range(self.n_steady, len(self.files)))])

    def delivered(self) -> pd.DataFrame:
        df = pa.concat_tables(self.files).to_pandas()
        df["ts"] = df["ts"].dt.tz_localize(None)
        return df

    def expected(self, watermark: pd.Timestamp | None) -> dict:
        rows = self.delivered()
        on_time = rows[~rows["event_id"].isin(self.late_ids)]
        win = on_time.assign(window_start=on_time["ts"].dt.floor("h"))
        tumble = (win.groupby(["window_start", "event_type"])
                  .agg(n=("value", "size"), total=("value", "sum"))
                  .reset_index())
        tumble["window_end"] = tumble["window_start"] + pd.Timedelta("1h")
        tumble = tumble[tumble["window_end"] <= watermark] \
            if watermark is not None else tumble.iloc[:0]
        dedup = on_time.drop_duplicates("event_id")
        top = (rows.sort_values("value", ascending=False)
               .groupby("event_type").head(TOPN_K))
        top = top.assign(rank=top.groupby("event_type").cumcount() + 1)
        return {"tumble": tumble.reset_index(drop=True),
                "dedup": dedup.reset_index(drop=True),
                "topn": top[["event_type", "value", "rank"]]
                .reset_index(drop=True),
                "topn_ids": set(zip(top["event_type"], top["event_id"]))}


def _start_job(spark, watch_dir: str, ckpt_root: str, tag: str) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from flink_1_11_2_with_comments_spark import catalog, streaming
    from flink_1_11_2_with_comments_spark.streaming.topn import \
        streaming_topn

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType())])
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
           .parquet(os.path.join(watch_dir, "*")))
    wm = catalog.watermarked(src, "events")
    tumble = (wm.groupBy(streaming.tumble("ts", "1 hour").alias("w"),
                         "event_type")
              .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      "event_type", "n", "total"))
    frames = {
        "tumble": (tumble, "append"),
        "dedup": (streaming.deduplicate(wm, ["event_id"],
                                        within_watermark=True), "append"),
        "topn": (streaming_topn(src, ["event_type"], "value", TOPN_K,
                                ["event_id"]), "update"),
    }
    return {name: (df.writeStream.format("memory")
                   .queryName(f"{tag}_{name}").outputMode(mode)
                   .trigger(processingTime=TRIGGER)
                   .option("checkpointLocation",
                           os.path.join(ckpt_root, f"{tag}-{name}"))
                   .start())
            for name, (df, mode) in frames.items()}


def _file_name(k: int) -> str:
    return f"part-{k:05d}.parquet"


def _group_dir(g: int) -> str:
    return f"pub-{g:05d}"


def _stage(plan: StreamPlan, staging: str) -> None:
    """Write every file, one directory per publication, where the
    source cannot see it."""
    for g, ks in enumerate(plan.groups()):
        os.makedirs(os.path.join(staging, _group_dir(g)))
        for k in ks:
            pq.write_table(plan.files[k], os.path.join(
                staging, _group_dir(g), _file_name(k)))


def _publish(staging: str, watch_dir: str, g: int) -> None:
    """Move a staged group in with one rename, which is atomic, so the
    source lists all of it or none of it. Modification times keep the
    source's oldest-first order within and across groups."""
    src = os.path.join(staging, _group_dir(g))
    now = time.time()
    for i, name in enumerate(sorted(os.listdir(src))):
        os.utime(os.path.join(src, name), (now + i * 1e-3,) * 2)
    os.rename(src, os.path.join(watch_dir, _group_dir(g)))


def _log_entries(log_dir: str, b: int) -> list[dict] | None:
    """Entries of the file source's log batch ``b``, or None while it is
    not written (every tenth batch is a compaction holding all earlier
    entries too)."""
    for name in (str(b), f"{b}.compact"):
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:
            continue
        entries = [json.loads(line) for line in lines]
        return [e for e in entries if e["batchId"] == b]
    return None


class Feed:
    """Publishes one group at a time and waits until every query has
    processed it."""

    def __init__(self, queries: dict, ckpts: dict, staging: str,
                 watch_dir: str):
        self.queries, self.staging, self.watch_dir = (queries, staging,
                                                      watch_dir)
        self.logs = {q: os.path.join(ckpts[q], "sources", "0")
                     for q in queries}
        self.next_log = {q: 0 for q in queries}

    def publish_and_wait(self, g: int, names: list[str]) -> dict:
        cpu0 = engine_cpu()[0]
        t0 = time.time()
        _publish(self.staging, self.watch_dir, g)
        self._await(set(names))
        done = time.time()
        return {"written": t0, "done": done, "cpu_s": engine_cpu()[0] - cpu0}

    def _await(self, names: set[str]) -> None:
        """Wait until each query's source has logged every file of the
        group, then until the query has processed all it has. Calling
        ``processAllAvailable`` only once the files are logged keeps a
        poll that listed the directory before the rename from ending
        the wait early."""
        deadline = time.perf_counter() + AWAIT_TIMEOUT_S
        for q, query in self.queries.items():
            pending = set(names)
            while pending:
                entries = _log_entries(self.logs[q], self.next_log[q])
                if entries is None:
                    if time.perf_counter() > deadline:
                        raise TimeoutError(f"{q}: files never consumed: "
                                           f"{sorted(pending)}")
                    time.sleep(0.002)
                    continue
                pending -= {os.path.basename(e["path"]) for e in entries}
                self.next_log[q] += 1
            query.processAllAvailable()


def _source_batches(ckpt: str) -> dict[str, int]:
    """File name -> file-source log batch, from the query's checkpoint."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if path.endswith(".crc") or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _end_time(p: dict) -> float:
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1e3


def _consumed_at(progress: list[dict], ckpt: str,
                 names: list[str]) -> list[tuple[float, float] | None]:
    """(start, end) of the micro-batch that consumed each file."""
    log_batch = _source_batches(ckpt)
    span_of = {}
    for p in progress:
        end = p["sources"][0].get("endOffset")
        if p["numInputRows"] > 0 and end:
            stop = _end_time(p)
            span_of[json.loads(end)["logOffset"]
                    if isinstance(end, str) else end["logOffset"]] = (
                stop - p["durationMs"].get("triggerExecution", 0) / 1e3,
                stop)
    return [span_of.get(log_batch.get(n)) for n in names]


def _feed_plan(spark, plan: StreamPlan, dirs: dict, tag: str, tracer,
               ref: ReferenceWork | None = None) -> tuple:
    """Start the job on an empty watched directory, feed it every group
    of ``plan``, stop it; (queries, per-group records). With ``ref``,
    the reference work is measured before each group, outside its
    timing."""
    watch = os.path.join(dirs["watch"], tag)
    os.makedirs(watch)
    with tracer.span("streaming.start"):
        queries = _start_job(spark, watch, dirs["ckpt"], tag)
    ckpts = {q: os.path.join(dirs["ckpt"], f"{tag}-{q}") for q in QUERIES}
    feed = Feed(queries, ckpts, os.path.join(dirs["staging"], tag), watch)
    recs = []
    try:
        for g, ks in enumerate(plan.groups()):
            if ref is not None:
                ref.measure(REF_PER_GROUP)
            recs.append(feed.publish_and_wait(
                g, [_file_name(k) for k in ks]))
    finally:
        with tracer.span("streaming.stop"):
            for q in queries.values():
                q.stop()
    return queries, recs


def run(ctx) -> dict:
    from flink_1_11_2_with_comments_spark.session import get_spark

    dirs = {d: os.path.join(ctx.work_dir, d)
            for d in ("staging", "watch", "ckpt")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    t0 = time.perf_counter()
    events = pq.read_table(os.path.join(ctx.tables_dir, "events.parquet"))
    plan = StreamPlan(events, ctx.seed, ctx.seconds)
    warm = StreamPlan(events, ctx.seed + 1, WARMUP_SECONDS)
    _stage(warm, os.path.join(dirs["staging"], "warm"))
    _stage(plan, os.path.join(dirs["staging"], "run"))
    ctx.exclude_from_setup(time.perf_counter() - t0)
    tracer = ctx.tracer

    # --- set-up: session and one untimed warm-up run of the job -----
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{ctx.workload}")
    session_s = time.perf_counter() - t0
    tracer.add("session.get_spark", time.time() - session_s, time.time())
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    with tracer.span("warmup"):
        _feed_plan(spark, warm, dirs, "warm", tracer)
    t0 = time.perf_counter()
    ref = ReferenceWork(spark)
    ctx.exclude_from_setup(time.perf_counter() - t0)
    spark.sparkContext._jvm.System.gc()
    setup_s = ctx.setup_elapsed()

    # --- timed phase -------------------------------------------------
    failed: list[tuple[str, str]] = []
    queries, recs = {}, []
    jit0 = engine_cpu()[1]
    with RssSampler() as rss, tracer.span("streaming.feed"):
        try:
            queries, recs = _feed_plan(spark, plan, dirs, "run", tracer,
                                       ref)
        except Exception:
            failed.append(("job", traceback.format_exc(limit=3)))
    jit_s = engine_cpu()[1] - jit0
    if len(recs) < len(plan.groups()):
        failed.append(("job", "some files were never consumed"))
        spark.stop()
        return _failed_result(failed, setup_s, rss)

    names = [_file_name(k) for k in range(len(plan.files))]
    progress = {q: _progress(queries[q]) for q in QUERIES}
    for q, plist in progress.items():
        for p in plist:
            tracer.add("streaming.batch", _end_time(p)
                       - p["durationMs"].get("triggerExecution", 0) / 1e3,
                       _end_time(p), query=q, batch=p["batchId"],
                       rows=p["numInputRows"])
    per_query = {q: _consumed_at(progress[q],
                                 os.path.join(dirs["ckpt"], f"run-{q}"),
                                 names) for q in QUERIES}
    done = [max(t[k][1] for t in per_query.values())
            if all(t[k] is not None for t in per_query.values()) else None
            for k in range(len(names))]
    if any(d is None for d in done):
        failed.append(("job", "a consumed file has no micro-batch"))
    steady = recs[:plan.n_steady]
    lat = [done[k] - steady[k]["written"] for k in range(plan.n_steady)
           if done[k] is not None]
    burst = recs[-1]
    burst_done = [d for d in done[-plan.n_burst:] if d is not None]
    drain_s = max(burst_done) - burst["written"] if burst_done else 0.0
    cpu_s = sum(r["cpu_s"] for r in recs)
    ref_s = ref.mean()

    failed += _verify(spark, plan, progress)
    layer = _layer_metrics(plan, recs, progress, per_query, session_s) \
        if ctx.trace else {}
    spark.stop()
    bad = {q for q, _ in failed}
    return {
        "attempted": len(QUERIES),
        # a failed job fails every query of the job
        "failed": len(QUERIES) if bad - set(QUERIES) else len(bad),
        "errors": failed,
        "setup_s": setup_s, "peak_rss_mb": rss.peak_bytes / 2**20,
        "latency": stats.summary(lat) if lat else None,
        "cpu": stats.summary([r["cpu_s"] for r in steady]),
        "ref_cpu_s": ref_s, "ref_samples": ref.samples,
        "cost": stats.summary([r["cpu_s"] / ref_s for r in steady]),
        "cost_geomean": stats.geomean([r["cpu_s"] / ref_s
                                       for r in steady]),
        "cost_per_op": cpu_s / len(names) / ref_s,
        "cpu_s": cpu_s, "jit_cpu_s": jit_s,
        "cpu_s_per_op": cpu_s / len(names),
        "burst_cpu_s_per_file": burst["cpu_s"] / plan.n_burst,
        "steady_latency_s": lat,
        "per_group": [{"wall_s": r["done"] - r["written"],
                       "cpu_s": r["cpu_s"]} for r in recs],
        "files": len(names), "burst_files": plan.n_burst,
        "catchup_events_per_s": plan.burst_events / drain_s
        if drain_s > 0 else 0.0,
        "ops_per_min": 60.0 * plan.n_burst / drain_s if drain_s > 0
        else 0.0,
        "layer": layer,
    }


def _failed_result(failed: list, setup_s: float, rss) -> dict:
    return {"attempted": len(QUERIES), "failed": len(QUERIES),
            "errors": failed, "setup_s": setup_s,
            "peak_rss_mb": rss.peak_bytes / 2**20, "latency": None,
            "cpu": None, "cpu_s": 0.0, "cpu_s_per_op": 0.0, "jit_cpu_s": 0.0,
            "ref_cpu_s": 0.0, "cost": None, "cost_geomean": 0.0,
            "cost_per_op": 0.0,
            "catchup_events_per_s": 0.0, "ops_per_min": 0.0, "layer": {}}


def _verify(spark, plan: StreamPlan, progress: dict) -> list:
    """Each query's emitted rows against the batch answer over the
    delivered files; late rows must be counted, never lost."""
    failed = []
    last = progress["tumble"][-1] if progress["tumble"] else {}
    wm = (last.get("eventTime") or {}).get("watermark")
    wm = pd.Timestamp(wm).tz_localize(None) if wm else None
    exp = plan.expected(wm)
    got = {q: spark.table(f"run_{q}").toPandas() for q in QUERIES}
    for q in ("tumble", "dedup"):
        err = verify(f"stream_{q}", got[q], exp[q])
        if err:
            failed.append((q, err))
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in progress["dedup"]
                  for op in p.get("stateOperators", ()))
    if dropped != len(plan.late_ids):
        failed.append(("dedup", f"late rows dropped {dropped}, "
                                f"expected {len(plan.late_ids)}"))
    # the latest emission per key is the key's current top-k
    latest = got["topn"].groupby("event_type", sort=False).tail(TOPN_K)
    err = verify("stream_topn", latest[["event_type", "value", "rank"]]
                 .reset_index(drop=True), exp["topn"])
    ids = set(zip(latest["event_type"], latest["event_id"].astype(int)))
    if err or not ids <= exp["topn_ids"]:
        failed.append(("topn", err or f"unexpected top-k ids {ids}"))
    return failed


def _layer_metrics(plan, recs, progress, per_query, session_s) -> dict:
    written = [recs[g]["written"] for g, ks in enumerate(plan.groups())
               for _ in ks]
    batches = [p for plist in progress.values() for p in plist
               if p["numInputRows"] > 0]

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) / 1e3 for p in batches]

    def med(xs) -> float:
        return stats.median(xs) if xs else 0.0

    def last_state(field: str) -> float:
        return sum(op.get(field, 0) for plist in progress.values()
                   if plist for op in plist[-1].get("stateOperators", ()))

    backlog = []
    for q, plist in progress.items():
        ends = sorted(t[1] for t in per_query[q] if t is not None)
        for p in plist:
            if p["numInputRows"] == 0:
                continue
            begin = _end_time(p) - p["durationMs"]["triggerExecution"] / 1e3
            backlog.append(sum(1 for w in written if w <= begin)
                           - sum(1 for e in ends if e <= begin))
    # from a file's publication to the start of the first micro-batch,
    # across the queries, that read it
    found = [min(t[k][0] for t in per_query.values()) - written[k]
             for k in range(plan.n_steady)
             if all(t[k] is not None for t in per_query.values())]
    return {
        "session.start_s": session_s,
        "streaming.batch_s": med(dur("triggerExecution")),
        "streaming.add_batch_s": med(dur("addBatch")),
        "streaming.planning_s": med(dur("queryPlanning")),
        "streaming.commit_s": med([a + b for a, b in
                                   zip(dur("walCommit"),
                                       dur("commitOffsets"))]),
        "streaming.state_rows": last_state("numRowsTotal"),
        "streaming.state_mb": last_state("memoryUsedBytes") / 2**20,
        "streaming.state_commit_s": med([
            sum(op.get("commitTimeMs", 0) for op in p.get(
                "stateOperators", ())) / 1e3 for p in batches]),
        "streaming.late_rows_dropped": sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress["dedup"] for op in p.get("stateOperators", ())),
        "streaming.batches": len(batches),
        "streaming.rows_per_batch": (sum(p["numInputRows"] for p in batches)
                                     / len(batches) if batches else 0.0),
        "sources.get_batch_s": med(dur("getBatch")),
        "sources.backlog_files": (sum(backlog) / len(backlog)
                                  if backlog else 0.0),
        "sources.gen_lag_s": med(found),
    }

