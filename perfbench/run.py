"""Repository benchmark: two workloads against the package's public
entry points, every result verified.

    python3 perfbench/run.py --workload batch_ops --seed 1 --seconds 20 \
        --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``batch_ops``    closed loop over the TPC-H / relational / window /
                   join / graph registry queries and the LLM-pipeline
                   faces;
- ``event_stream`` a paced file feed through one streaming job of
                   three queries;
- ``all``          each of the above in its own process, untraced
                   and, with ``--trace 1``, traced as well.

``--trace 0`` measures the end-to-end metrics. The gated ones are
``setup_s`` and two op costs: an op's CPU time over the CPU time of a
fixed reference task measured through the same run
(``tracing.ReferenceWork``), as a geometric mean over ops
(``op_cost.geomean``) and as the timed phase's total over its ops
(``cost_per_op``). Wall-clock latency and throughput are printed, with
CPU seconds, on the line before the result; on a shared host they move
with the neighbours' load by more than any bound a change could be
held to. ``--trace 1`` records spans, per-op job counts and the Spark
event log and reports the per-layer metrics instead, plus the tracing
overhead against the untraced run of the same workload and seed when
one exists. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Inputs are generated by ``perfbench/inputs.py`` and cached, with the
oracle answers, under ``.perfbench/cache`` in the working directory;
each run's staging, checkpoint, spill and event-log files live under
``.perfbench/work/<run>`` and are deleted when the run ends. Results
and spans are kept under ``.perfbench/out``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "flink_1_11_2_with_comments_spark"
WORKLOADS = ("batch_ops", "event_stream")
DRIVER_HEAP = "4g"

END_TO_END = {"setup_s": "s", "op_cost.geomean": "ref",
              "cost_per_op": "ref"}


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, tables_dir: str, work_dir: str, cpus: int):
        from perfbench.oracles import OracleCache
        from perfbench.tracing import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tables_dir = tables_dir
        self.work_dir = work_dir
        self.event_log_dir = os.path.join(work_dir, "eventlog")
        self.cpus = cpus
        self.tracer = Tracer(self.trace)
        self.oracles = OracleCache(
            tables_dir, os.path.join(os.path.dirname(tables_dir),
                                     "oracles-" + os.path.basename(
                                         tables_dir)))
        self._excluded = 0.0

    def exclude_from_setup(self, seconds: float) -> None:
        """Input generation and oracle answers are not set-up time."""
        self._excluded += seconds

    def setup_elapsed(self) -> float:
        return time.perf_counter() - PROCESS_START - self._excluded


def spark_settings(work_dir: str, cpus: int, trace: bool) -> dict:
    """Everything the benchmark sets for Spark, recorded in the output
    so the parent and a change run identically."""
    tmp = os.path.join(work_dir, "tmp")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.dir"] = "file://" + os.path.join(work_dir,
                                                               "eventlog")
    # -Xms: a heap that starts at its full size and never shrinks, so
    # the young-generation collections an op pays for do not depend on
    # how far the heap had grown back after the last full collection.
    # The compiler-thread flag is there for tracing.engine_cpu.
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": tmp,
        "spark_conf": confs,
        "driver_java_options": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                               " -XX:-UseDynamicNumberOfCompilerThreads"
                               f" -Xms{DRIVER_HEAP}",
    }


def _apply(settings: dict) -> None:
    for key in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_LOCAL_DIRS", "TMPDIR"):
        os.environ[key] = settings[key]
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    args = [f"--conf {shlex.quote(f'{k}={v}')}"
            for k, v in settings["spark_conf"].items()]
    args.append("--driver-java-options "
                + shlex.quote(settings["driver_java_options"]))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    if settings["spark_conf"].get("spark.eventLog.enabled") == "true":
        os.makedirs(settings["spark_conf"]["spark.eventLog.dir"]
                    [len("file://"):], exist_ok=True)


def _stop_jvm() -> None:
    """Stop the Spark driver JVM this run started and wait until it and
    the Python workers it forked have exited."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    # workers outlive the JVM briefly and are reparented when it exits,
    # so they are listed while they are still this process's descendants
    started = descendants()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        proc.wait(timeout=60)
    deadline = time.perf_counter() + 30
    while (any(os.path.exists(f"/proc/{pid}") for pid in started)
           and time.perf_counter() < deadline):
        time.sleep(0.1)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def report(workload: str, res: dict) -> tuple[dict, dict]:
    """(every end-to-end metric with its sample count, for a reader,
    the BENCHMARK.json end-to-end metrics, for the last line)."""
    empty = {"p50": 0.0, "tail": 0.0, "q1": 0.0, "q3": 0.0, "n": 0,
             "tail_pct": 50.0}
    lat = res["latency"] or empty
    cpu = res["cpu"] or empty
    cost = res["cost"] or empty
    common = {
        "setup_s": _metric(res["setup_s"], "s"),
        "error_rate": _metric(res["failed"] / res["attempted"], "ratio"),
        "peak_rss_mb": _metric(res["peak_rss_mb"], "MB"),
    }
    prefix = "event_latency_s" if workload == "event_stream" \
        else "op_latency_s"
    named = {
        "op_cpu_s.p50": {**_metric(cpu["p50"], "s"), "n": cpu["n"],
                         "q1": cpu["q1"], "q3": cpu["q3"]},
        "op_cpu_s.tail": {**_metric(cpu["tail"], "s"), "n": cpu["n"],
                          "percentile": cpu["tail_pct"]},
        "cpu_s_per_op": _metric(res["cpu_s_per_op"], "s"),
        "jit_cpu_s": _metric(res["jit_cpu_s"], "s"),
        "ref_cpu_s": _metric(res["ref_cpu_s"], "s"),
        "op_cost.p50": {**_metric(cost["p50"], "ref"), "n": cost["n"],
                        "q1": cost["q1"], "q3": cost["q3"]},
        "op_cost.geomean": _metric(res["cost_geomean"], "ref"),
        "cost_per_op": _metric(res["cost_per_op"], "ref"),
        f"{prefix}.p50": {**_metric(lat["p50"], "s"), "n": lat["n"],
                          "q1": lat["q1"], "q3": lat["q3"]},
        f"{prefix}.tail": {**_metric(lat["tail"], "s"), "n": lat["n"],
                           "percentile": lat["tail_pct"]},
    }
    if workload == "event_stream":
        named["catchup_events_per_s"] = _metric(
            res["catchup_events_per_s"], "events/s")
    else:
        named["ops_per_min"] = _metric(res["ops_per_min"], "ops/min")
    gated = {"setup_s": res["setup_s"],
             "op_cost.geomean": res["cost_geomean"],
             "cost_per_op": res["cost_per_op"]}
    return ({**common, **named},
            {k: _metric(v, END_TO_END[k]) for k, v in gated.items()})


def run_one(args) -> int:
    from perfbench import inputs
    from perfbench.tracing import cpu_jiffies

    cpus = len(os.sched_getaffinity(0))
    cache = os.path.join(ROOT, ".perfbench", "cache")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work_dir = os.path.join(ROOT, ".perfbench", "work",
                            f"{args.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    tables_dir = inputs.ensure_tables(cache)
    generated_s = time.perf_counter() - t0
    settings = spark_settings(work_dir, cpus, bool(args.trace))
    _apply(settings)
    ctx = Context(args, tables_dir, work_dir, cpus)
    ctx.exclude_from_setup(generated_s)
    steal0, total0 = cpu_jiffies()
    try:
        if args.workload == "event_stream":
            from perfbench import event_stream as workload
        else:
            from perfbench import closed_loop as workload
        res = workload.run(ctx)
        steal1, total1 = cpu_jiffies()
    finally:
        _stop_jvm()
        ctx.oracles.close()
        shutil.rmtree(work_dir, ignore_errors=True)

    named, gated = report(args.workload, res)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}")
    extra = {"workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "settings": settings,
             "host_steal_share": (steal1 - steal0) / max(1, total1 - total0),
             "metrics": named, "errors": res["errors"]}
    if args.trace:
        units = _per_layer_units()
        metrics = {k: _metric(float(res["layer"].get(k, 0.0)), u)
                   for k, u in units.items()}
        extra["tracing_overhead"] = _overhead(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                  "-trace0.json"), gated)
        ctx.tracer.write(stem + "-spans.jsonl")
    else:
        metrics = gated
    with open(stem + ".json", "w") as f:
        json.dump({**extra, "result": res}, f, indent=1, default=str)
    for name, err in res["errors"]:
        print(f"FAILED {name}: {err}", file=sys.stderr)
    print(json.dumps(extra))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _overhead(untraced_path: str, traced: dict) -> dict | None:
    """Traced minus untraced, as a share of the untraced figure."""
    if not os.path.exists(untraced_path):
        return None
    with open(untraced_path) as f:
        base = json.load(f)["result"]
    pairs = {"op_cost.geomean": base["cost_geomean"],
             "cost_per_op": base["cost_per_op"]}
    return {k: (traced[k]["value"] / v - 1.0) if v else None
            for k, v in pairs.items()}


def run_all(args) -> int:
    """Each workload in its own process; traced runs follow untraced
    ones so the overhead has a base."""
    lines = []
    for workload in WORKLOADS:
        for trace in ((0, 1) if args.trace else (0,)):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            out = proc.stdout.strip().splitlines()
            for line in out[:-1]:
                print(line)
            if proc.returncode != 0 or not out:
                print(f"{workload}: exit {proc.returncode}",
                      file=sys.stderr)
                return 1
            lines.append((workload, trace, json.loads(out[-1])))
    print(json.dumps({
        "correct": all(r["correct"] for _, _, r in lines),
        "attempted": sum(r["attempted"] for _, _, r in lines),
        "failed": sum(r["failed"] for _, _, r in lines),
        "metrics": {f"{w}.{k}": v for w, t, r in lines if not t
                    for k, v in r["metrics"].items()}}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in (os.path.join(PACKAGE, "__init__.py"),
                           os.path.join("tests", "parity.py"),
                           "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"run from the repository root; missing: {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
