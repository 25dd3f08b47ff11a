"""Benchmark of the transcript validator: ``pipeline.validate()`` in its
production shape (resume on, audit and violation stores written), one
client in a closed loop, on ``local[<cores>]``.

    python3 perfbench/run.py --workload validate_fused --seed 1 \\
        --seconds 10 --trace 0

Workloads (sizes in ``SIZES``; see perfbench/README.md for why each):

- ``validate_fused``: a snapshot whose manifest declares no write order
  -> JVM state aggregation + the fused shuffle checks.
- ``validate_clustered``: a snapshot with a declared write order and at
  least ``clustered.minRows`` rows -> the clustered zero-shuffle path
  (mapInArrow kernel).

A run starts one Spark session, builds the inputs from ``--seed``
(three times; ``setup_s`` takes the median), runs one cold op and a few
untimed warm-up ops, then timed ops until their summed time reaches
``--seconds`` (at least ``MIN_TIMED_OPS``); the timed figures are
medians over those ops. Every op's violation
counts and per-partition verdicts are compared with DuckDB's
(perfbench/expected.py); a mismatch or an exception fails the op.

The last stdout line is the result: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
holds the host context and the effective Spark conf. Spans and context
are also written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import Dict, List, Optional

T0 = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# fail before any set-up when the engine is not in the checkout
import schema_inference_spark  # noqa: E402,F401

import expected  # noqa: E402
import host  # noqa: E402
import tracing  # noqa: E402

ROLE_VOCAB = ["system", "user", "assistant", "tool"]
TOOL_VOCAB = ["search", "code", "browser", "none"]
N_BUCKETS = 8
SETUP_REPS = 3
# untimed ops after the cold one. Each op compiles new code (several
# CPU-seconds of JIT per op), so op times drift down over the first warm
# ops; the run's time budget allows one.
WARMUP_OPS = 1
# fewest timed ops a run reports a median over
MIN_TIMED_OPS = 2
# driver heap: fits a 15 GB host with room for the Python workers (the
# engine's 32g default cannot start there)
DRIVER_MEM = "3g"

# conversations per snapshot, and the clustered-path row threshold,
# below the clustered workload's size (the engine's 2M default was
# measured on a 32-core host; on 4 cores one op at 2M rows takes longer
# than a run can afford)
SIZES = {
    "full": {"validate_fused": 5_000, "validate_clustered": 3_000,
             "min_rows": 50_000},
    "tiny": {"validate_fused": 20, "validate_clustered": 60,
             "min_rows": 900},
}
# the writer's declare_write_order per workload (None: verify the order
# and declare it); without a declared order validate() takes the fused
# path at any size
DECLARE_ORDER = {"validate_fused": False, "validate_clustered": None}

E2E_UNITS = {"setup_s": "s", "turns_per_s": "turns/s", "op_p50_s": "s",
             "peak_rss_gb": "GB"}
SPAN_NAMES = [name for _, _, name, _ in tracing.LAYERS
              if name != "clustered.plan_splits"]
SPAN_COUNTERS = ["cpu_s", "tasks", "shuffle_write_bytes", "task_skew"]


def per_layer_names() -> List[str]:
    """Every per-layer metric a traced run prints, in print order."""
    names = ["session.start_s", "transcripts.generate_s",
             "transcripts.write_s", "first_op_s"]
    names += [f"{s}_s" for s in SPAN_NAMES] + ["pipeline.self_s"]
    names += ["catalog.bytes_written", "checks.violation_rows",
              "clustered.splits", "clustered.fallbacks",
              "pipeline.clustered_path"]
    names += [f"spark.{c}" for c in tracing.COUNTERS]
    names += [f"spark.{s}.{c}" for s in SPAN_NAMES for c in SPAN_COUNTERS]
    names += ["trace.op_p50_s", "trace.untraced_op_p50_s", "trace.overhead_s",
              "failed_op_share"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_bytes") or name == "catalog.bytes_written":
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("task_skew"):
        return "ratio"
    if name in ("failed_op_share", "pipeline.clustered_path"):
        return "ratio"
    return "count"


# -- session -----------------------------------------------------------------

def start_session(work: str, min_rows: int, trace_on: bool):
    """Start the engine's session with only the host knobs set; returns
    (spark, seconds taken, effective conf)."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.schema_inference.clustered.minRows": str(min_rows)}
    if trace_on:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"

    from schema_inference_spark.functions.session import get_spark
    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench")
    took = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, took, dict(spark.sparkContext.getConf().getAll())


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it its Python
    workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


# -- inputs ------------------------------------------------------------------

def build_inputs(n_conv: int, seed: int, root: str,
                 declare_order: Optional[bool]) -> Dict:
    """Generate and write the op's snapshot ("cur"); returns the layer
    times."""
    from schema_inference_spark.sources.transcripts import (generate_turns,
                                                            write_snapshot)
    t0 = time.monotonic()
    cur = generate_turns(n_conv=n_conv, seed=seed)
    t1 = time.monotonic()
    write_snapshot(root, "cur", cur, n_buckets=N_BUCKETS,
                   declare_write_order=declare_order)
    t2 = time.monotonic()
    return {"generate_s": t1 - t0, "write_s": t2 - t1, "turns": cur.num_rows}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# -- ops ---------------------------------------------------------------------

def run_op(spark, catalog, want: Dict) -> Dict:
    """One validate() call over every partition of "cur", timed; then
    (untimed) its output is checked against DuckDB's."""
    from schema_inference_spark import pipeline
    for d in (catalog.audit_root, catalog.violations_root):
        shutil.rmtree(d, ignore_errors=True)
    # start every op from a collected heap, so a GC the previous op left
    # due does not land in this op's time
    spark.sparkContext._jvm.System.gc()
    t0, c0 = time.monotonic(), host.tree_cpu_s()
    try:
        res = pipeline.validate(spark, catalog, "cur", role_vocab=ROLE_VOCAB,
                                tool_vocab=TOOL_VOCAB, resume=True,
                                write_audit=True)
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc()
        return {"s": time.monotonic() - t0, "ok": False}
    took, cpu = time.monotonic() - t0, host.tree_cpu_s() - c0
    checks = {r["check_id"]: r["count"] for r in
              res.violations.groupBy("check_id").count().collect()}
    verdicts = {r["partition_id"]: (r["verdict"], r["n_violations"])
                for r in res.verdicts.collect()}
    ok = checks == want["checks"] and verdicts == want["verdicts"]
    if not ok:
        print(f"wrong output: checks {checks} != {want['checks']} or "
              f"verdicts differ", file=sys.stderr)
    return {"s": took, "cpu_s": cpu, "ok": ok, "check_path": res.check_path,
            "violation_rows": sum(checks.values()),
            "bytes_written": dir_bytes(catalog.audit_root)
            + dir_bytes(catalog.violations_root)}


def layer_metrics(tracer: tracing.Tracer, folded: Dict, ops: List[Dict],
                  traced_ids: List[int]) -> Dict[str, float]:
    """Median over the traced warm ops of each span's time and counters."""
    spans = tracer.spans
    per_op: Dict[str, List[float]] = {}

    def add(name: str, value: float) -> None:
        per_op.setdefault(name, []).append(value)

    for op_id in traced_ids:
        idx = [i for i, s in enumerate(spans) if s["op"] == op_id]
        total = dict.fromkeys(tracing.COUNTERS, 0.0)
        for name in SPAN_NAMES:
            mine = [i for i in idx if spans[i]["name"] == name]
            add(f"{name}_s", sum(spans[i]["end"] - spans[i]["start"]
                                 for i in mine))
            own = dict.fromkeys(tracing.COUNTERS, 0.0)
            for i in mine:
                for c, v in folded.get(spans[i]["group"], {}).items():
                    own[c] = max(own[c], v) if c == "task_skew" else own[c] + v
            for c in SPAN_COUNTERS:
                add(f"spark.{name}.{c}", own[c])
            for c in tracing.COUNTERS:
                total[c] = (max(total[c], own[c]) if c == "task_skew"
                            else total[c] + own[c])
        for c in tracing.COUNTERS:
            add(f"spark.{c}", total[c])
        root = [i for i in idx if spans[i]["name"] == tracing.ROOT_SPAN]
        add("pipeline.self_s", sum(tracing.self_time(spans, i) for i in root))
        add("clustered.splits", sum(spans[i].get("count", 0) for i in idx))
        op = ops[op_id]
        attempted = any(spans[i]["name"] == "clustered.check" for i in idx)
        add("clustered.fallbacks",
            float(attempted and op.get("check_path") != "clustered"))
        add("pipeline.clustered_path", float(op.get("check_path") == "clustered"))
        add("checks.violation_rows", op.get("violation_rows", 0))
        add("catalog.bytes_written", op.get("bytes_written", 0))
    return {k: statistics.median(v) for k, v in per_op.items()}


# -- main --------------------------------------------------------------------

def run(workload: str, seed: int, seconds: float, trace_on: bool,
        size: str, corrupt_expected: bool) -> Dict:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    sizes = SIZES[size]
    ctx: Dict = {"workload": workload, "seed": seed, "seconds": seconds,
                 "trace": int(trace_on), "size": size,
                 "n_conv": sizes[workload], "min_rows": sizes["min_rows"],
                 "nproc": len(os.sched_getaffinity(0)),
                 "mem_total_gb": host.mem_total_gb(),
                 "git_commit": host.git_commit(ROOT),
                 "bandwidth_gbps_before": host.bandwidth_gbps()}
    ticks0 = host.cpu_ticks()
    try:
        with host.RssSampler() as rss:
            spark, session_s, conf = start_session(
                work, sizes["min_rows"], trace_on)
            mark(ctx, "session")
            try:
                result = measure(spark, seed, seconds, trace_on,
                                 sizes[workload], DECLARE_ORDER[workload],
                                 work, session_s,
                                 corrupt_expected, ctx)
            finally:
                stop_session(spark)
                mark(ctx, "stop")
            peak_rss_gb = rss.peak_gb
        ctx["spark_conf"] = conf
        if trace_on:
            folded = tracing.fold_event_log(os.path.join(work, "eventlog"))
            tracer = result.pop("tracer")
            tracer.write(os.path.join(
                out_dir, f"spans-{workload}-seed{seed}.jsonl"))
            layers = layer_metrics(tracer, folded, result["ops"],
                                   result["traced_ids"])
            metrics = {**result["setup_layers"], **layers,
                       **result["trace_metrics"]}
        else:
            metrics = {**result["e2e"], "peak_rss_gb": peak_rss_gb}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ctx["steal_share"] = host.steal_share(ticks0, host.cpu_ticks())
    ctx["bandwidth_gbps_after"] = host.bandwidth_gbps()
    mark(ctx, "end")
    ctx["check_paths"] = sorted({o.get("check_path") for o in result["ops"]
                                 if o.get("check_path")})
    ctx["turns"] = result["turns"]
    ops = result["ops"]
    failed = sum(not o["ok"] for o in ops)
    metrics["failed_op_share"] = failed / len(ops)
    names = per_layer_names() if trace_on else list(E2E_UNITS)
    out = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
           "metrics": {n: {"value": float(metrics.get(n, 0.0)),
                           "unit": unit_of(n) if trace_on else E2E_UNITS[n]}
                       for n in names}}
    with open(os.path.join(out_dir, f"{workload}-seed{seed}-trace"
                           f"{int(trace_on)}.json"), "w") as f:
        json.dump({"context": ctx, "result": out}, f, indent=1)
    print(json.dumps({"context": ctx}))
    return out


def mark(ctx: Dict, phase: str) -> None:
    """Seconds since the process started, at the end of ``phase``."""
    ctx.setdefault("phase_end_s", {})[phase] = round(time.monotonic() - T0, 2)


def measure(spark, seed: int, seconds: float, trace_on: bool, n_conv: int,
            declare_order: Optional[bool], work: str, session_s: float,
            corrupt_expected: bool, ctx: Dict) -> Dict:
    """Set-up, the cold op, one untimed warm-up op, then the timed ops."""
    from schema_inference_spark.sources.catalog import SnapshotCatalog

    # -- set-up, repeated; the last copy is the one validated
    reps = []
    for r in range(SETUP_REPS):
        root = os.path.join(work, f"data{r}")
        if r:
            shutil.rmtree(os.path.join(work, f"data{r - 1}"))
        reps.append(build_inputs(n_conv, seed, root, declare_order))
    catalog = SnapshotCatalog(root)
    gen_s = statistics.median(r["generate_s"] for r in reps)
    write_s = statistics.median(r["write_s"] for r in reps)
    setup_s = session_s + statistics.median(
        r["generate_s"] + r["write_s"] for r in reps)

    mark(ctx, "setup")
    want = expected.expected_output(os.path.join(root, "cur"), N_BUCKETS,
                                    ROLE_VOCAB, TOOL_VOCAB)
    if corrupt_expected:
        want["checks"][sorted(want["checks"])[0]] += 1
    ctx["expected_checks"] = want["checks"]

    tracer = tracing.Tracer(spark) if trace_on else None
    ops: List[Dict] = []
    traced_ids: List[int] = []

    jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()

    def op(traced: bool) -> Dict:
        op_id = len(ops)
        if traced:
            tracer.install()
            tracer.begin_op(op_id)
            traced_ids.append(op_id)
        try:
            o = run_op(spark, catalog, want)
            # JIT compile time so far: each op compiles new code, so a
            # run's op times drift down with it
            o["jit_total_s"] = jit.getTotalCompilationTime() / 1e3
        finally:
            if traced:
                tracer.end_op()
                tracer.uninstall()
        ops.append(o)
        return o

    mark(ctx, "expected")
    first = op(trace_on)
    mark(ctx, "cold_op")
    for _ in range(WARMUP_OPS):
        op(False)
    mark(ctx, "warmup")
    traced_ids.clear()  # per-layer figures describe warm ops only
    warm: List[Dict] = []
    plain: List[float] = []  # untraced timed ops of a traced run
    while len(warm) < MIN_TIMED_OPS or sum(o["s"] for o in warm) < seconds:
        # traced runs alternate traced and untraced timed ops, so the
        # span overhead is measured within the run
        traced = trace_on and len(warm) % 2 == 0
        warm.append(op(traced))
        if trace_on and not traced:
            plain.append(warm[-1]["s"])

    mark(ctx, "timed")
    turns = reps[-1]["turns"]
    # medians, so one op slowed by a co-tenant does not move the result
    op_p50_s = statistics.median(o["s"] for o in warm)
    e2e = {"setup_s": setup_s, "turns_per_s": turns / op_p50_s,
           "op_p50_s": op_p50_s}
    out = {"ops": ops, "turns": turns, "e2e": e2e,
           "setup_layers": {"session.start_s": session_s,
                            "first_op_s": first["s"],
                            "transcripts.generate_s": gen_s,
                            "transcripts.write_s": write_s}}
    ctx["warm_ops"] = len(warm)
    ctx["op_s"] = [o["s"] for o in ops]
    ctx["op_cpu_s"] = [o.get("cpu_s") for o in ops]
    ctx["op_jit_total_s"] = [o.get("jit_total_s") for o in ops]
    if trace_on:
        t50 = statistics.median(ops[i]["s"] for i in traced_ids)
        u50 = statistics.median(plain)
        out.update(tracer=tracer, traced_ids=traced_ids,
                   trace_metrics={"trace.op_p50_s": t50,
                                  "trace.untraced_op_p50_s": u50,
                                  "trace.overhead_s": t50 - u50})
    return out


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DECLARE_ORDER))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the smoke test")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="add one to an expected count (smoke test: every "
                         "op must then count as failed)")
    a = ap.parse_args(argv)
    out = run(a.workload, a.seed, a.seconds, bool(a.trace), a.size,
              a.corrupt_expected)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
