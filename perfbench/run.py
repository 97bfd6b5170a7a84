"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed
under ``.perfbench_work/``, starts one Spark session on ``local[4]``,
runs the workload (see workloads.py and WORKLOADS.md) and prints its
metrics one per line, then one JSON object as the last line:

- ``--trace 0``: every ``end_to_end`` metric of BENCHMARK.json;
- ``--trace 1``: every ``per_layer`` metric, from spans and Spark
  counters taken around each call into an engine layer; the spans are
  written to ``.perfbench_work/traces/``.

Exits non-zero without a result when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_processing_with_aws_glue_workshop_spark"
CORES = 4


def _parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (the spark-submit launcher and the driver):
    # temp files under the run directory, no hsperfdata file in /tmp, and
    # JIT compiler threads that live as long as the JVM, so that CpuClock
    # sees (and leaves out) the CPU time of every one of them
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != HERE]


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))]


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest percentile, in steps of 5, with at least ten samples
    beyond it; None when fewer than 20 samples leave no tail above p50."""
    n = len(values)
    p = 5 * int((100 * (n - 10) / n) // 5) if n else 0
    if p < 50:
        return None
    return p, _percentile(values, p)


def _peak_rss_mb(spark) -> float:
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024


def _stop(spark) -> None:
    """Stop the session, then the JVM the Python driver launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


REFRESH_OPS = ("rues_wave", "docs_wave")


def _timing(name: str, values: list[float], unit: str = "s") -> list[str]:
    """A timing as its median plus, when the sample allows one, the
    highest percentile with at least ten samples beyond it."""
    if not values:
        return [f"{name}_p50_s n/a (no samples)"]
    t = tail(values)
    return [
        f"{name}_p50_s {statistics.median(values):.4f} {unit} (n={len(values)})",
        f"{name}_tail_s {t[1]:.4f} {unit} (p{t[0]}, n={len(values)})" if t
        else f"{name}_tail_s n/a (n={len(values)}: no percentile above p50 has 10 samples beyond it)",
    ]


def end_to_end(ctx, workload: str, session_start_s: float, peak_rss_mb: float) -> tuple[dict, list[str]]:
    """Metrics a user of the engine sees, plus the workload's own named
    figures as printed lines. A pass counts the time and CPU of its
    operations, not the checks and cache releases between them."""
    passes = sorted(k for k, traced, _ in ctx.passes if not traced)
    ops = [op for op in ctx.ops if op[0] in passes]

    def per_pass(field: int, keep=lambda name: True) -> list[float]:
        return [sum(op[field] for op in ops if op[0] == k and keep(op[1])) for k in passes]

    wall, cpu = per_pass(2), per_pass(3)
    by_op: dict[str, list[float]] = {}
    cpu_by_op: dict[str, list[float]] = {}
    for _, name, dt, c in ops:
        by_op.setdefault(name, []).append(dt)
        cpu_by_op.setdefault(name, []).append(c)
    setup_s = session_start_s + ctx.setup["input_s"] + ctx.setup.get("standing_state_s", 0.0) + ctx.setup["warm_pass_s"]
    metrics = {
        "setup_s": (setup_s, "s"),
        # the median pass: each operation at its median over the run's
        # passes, so that a burst (a GC, a late JIT compile) in one
        # execution of one operation moves the figure by half at two
        # passes and not at all from three
        "pass_cpu_s": (sum(statistics.median(v) for v in cpu_by_op.values()), "s"),
    }
    lines = [
        "pass_s per pass " + " ".join(f"{dt:.3f}" for dt in wall),
        "pass_cpu_s per pass " + " ".join(f"{c:.3f}" for c in cpu),
        "op medians " + " ".join(f"{n}={statistics.median(v):.3f}" for n, v in by_op.items()),
        f"pass_s {statistics.median(wall):.4f} s",
        f"op_p50_s {statistics.median(op[2] for op in ops):.4f} s",
        f"op_cpu_p50_s {statistics.median(op[3] for op in ops):.4f} s",
        f"peak_rss_mb {peak_rss_mb:.1f} MB",
    ]
    if workload == "rues_medallion":
        is_refresh = REFRESH_OPS.__contains__
        lines.append(f"medallion_s {statistics.median(per_pass(2, lambda n: not is_refresh(n))):.4f} s")
        lines.append(f"stored_bytes_per_input_byte {ctx.extra.get('stored_bytes_per_input_byte', float('nan')):.4f}")
        lines += _timing("refresh", [op[2] for op in ops if is_refresh(op[1])])
        lines.append(f"refresh_pass_s {statistics.median(per_pass(2, is_refresh)):.4f} s")
        lines.append(f"state_amplification {ctx.extra.get('state_amplification', float('nan')):.4f}")
    else:
        lines += _timing("query", [op[2] for op in ops])
        lines.append(f"query_pass_s {statistics.median(wall):.4f} s")
    return metrics, lines


def per_layer(ctx, spec: list[dict], session_start_s: float) -> tuple[dict, list[str]]:
    """Per-layer metrics from the traced passes, averaged per pass."""
    from perfbench.trace import COUNTERS, self_times

    traced = {k for k, tr, _ in ctx.passes if tr}
    spans = [s for s in ctx.tracer.spans if s["pass"] in traced]
    selfs = self_times(spans)
    n = len(traced)
    acc: dict[str, float] = {}
    for s in spans:
        if s["layer"] is None:
            continue
        key = f"{s['layer']}.{s['kind']}_s"
        acc[key] = acc.get(key, 0.0) + selfs[s["id"]]
        for c in COUNTERS:
            acc[f"{s['layer']}.{c}"] = acc.get(f"{s['layer']}.{c}", 0.0) + s[c]
    values = {k: v / n for k, v in acc.items()}
    traced_s = sum(dt for _, tr, dt in ctx.passes if tr)
    # harness time: what the passes spend outside every engine call and
    # outside the tracer's own bookkeeping
    values["trace.self_s"] = sum(selfs[s["id"]] for s in spans if s["layer"] is None) / n
    values["trace.overhead_share"] = ctx.tracer.overhead_s / (traced_s - ctx.tracer.overhead_s)
    values["session.start_s"] = session_start_s
    inc_out = sum(s["output_bytes"] for s in spans if s["layer"] == "plans.incremental")
    inc_in = sum(v for k, v in ctx.wave_input_bytes.items() if k in traced)
    if inc_out and inc_in:
        values["plans.incremental.bytes_written_per_input_byte"] = inc_out / inc_in
    if "state_bytes" in ctx.extra:
        values["plans.incremental.state_bytes"] = ctx.extra["state_bytes"]
        values["plans.incremental.state_amplification"] = ctx.extra["state_amplification"]
    if "stored_bytes_per_input_byte" in ctx.extra:
        values["sources.writers.stored_bytes_per_input_byte"] = ctx.extra["stored_bytes_per_input_byte"]
    metrics = {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in spec}
    lines = [
        f"traced passes {n}, spans {len(spans)}, traced pass_s "
        + " ".join(f"{dt:.3f}" for _, tr, dt in ctx.passes if tr)
        + f", tracing overhead {ctx.tracer.overhead_s:.3f} s"
    ]
    lines += [f"unlisted {k} {v:.6g}" for k, v in sorted(values.items()) if k not in metrics and v]
    return metrics, lines


def main() -> int:
    args = _parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)

    from perfbench import workloads
    from perfbench.trace import Tracer

    from big_data_processing_with_aws_glue_workshop_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    session_start_s = time.perf_counter() - t0
    try:
        ctx = workloads.Context(spark, Tracer(spark, False), work, args.seed, args.seconds, bool(args.trace))
        workloads.WORKLOADS[args.workload](ctx)
        peak = _peak_rss_mb(spark)
    finally:
        _stop(spark)

    if args.trace:
        metrics, lines = per_layer(ctx, bench["per_layer"], session_start_s)
        traces = os.path.join(work_root, "traces")
        os.makedirs(traces, exist_ok=True)
        ctx.tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    else:
        metrics, lines = end_to_end(ctx, args.workload, session_start_s, peak)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} cores {CORES} clients 1 trace {args.trace}")
    print("setup " + " ".join(f"{k} {v:.4f}" for k, v in sorted(ctx.setup.items())) + f" session_start_s {session_start_s:.4f}")
    for line in lines:
        print(line)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_share {ctx.failed / max(1, ctx.attempted):.4f} ({ctx.failed} of {ctx.attempted} operations)")
    for reason in ctx.failures[:10]:
        print(f"FAILED {reason}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
