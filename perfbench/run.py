"""Layered benchmark of the word-count engine at ``local[nproc]``.

    python3 perfbench/run.py --workload corpus_zipf --seed 1 --seconds 8 --trace 0

Run from the repository root. One process, one client, closed loop: the
benchmark generates the workload's inputs from ``--seed`` (cached under
``perfbench/.cache``), starts a session with ``get_spark`` and loads the
registry (set-up, done ``SETUPS`` times, each in a new JVM; the last
session is kept), runs untimed warm-up operations, then times operations
for ``--seconds`` (at least three units). Every operation's output is checked.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run also repeats the timed phase with spans and
status-store reads on, and reports the per-layer metrics instead, plus
the tracing overhead. The traced run writes its spans and per-query
breakdown to ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"

#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 2

#: (metric, unit, better): what ``--trace 0`` reports.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
]

#: (metric, unit, better, key in the traced phase's layer sums): what
#: ``--trace 1`` reports, per unit (a CLI run, or a headline pass).
PER_LAYER = [
    ("op.wall_s", "s", "lower", None),
    ("op.input_mb_per_s", "MB/s", "higher", None),
    ("host.steal_pct", "%", "lower", None),
    ("session.start_s", "s", "lower", None),
    ("jvm.peak_rss_mb", "MB", "lower", None),
    ("registry.load_s", "s", "lower", None),
    ("operators.build_s", "s", "lower", "build_s"),
    ("operators.build_jobs", "count", "lower", "build_jobs"),
    ("operators.cached_mb", "MB", "lower", "cached_mb"),
    ("operators.cached_rdds", "count", "lower", "cached_rdds"),
    ("catalyst.analysis_s", "s", "lower", "analysis_s"),
    ("catalyst.optimization_s", "s", "lower", "optimization_s"),
    ("catalyst.planning_s", "s", "lower", "planning_s"),
    ("stages.jobs", "count", "lower", "jobs"),
    ("stages.count", "count", "lower", "count"),
    ("stages.tasks", "count", "lower", "tasks"),
    ("stages.executor_run_s", "s", "lower", "executor_run_s"),
    ("stages.executor_cpu_s", "s", "lower", "executor_cpu_s"),
    ("stages.gc_s", "s", "lower", "gc_s"),
    ("stages.input_mb", "MB", "lower", "input_mb"),
    ("stages.shuffle_write_mb", "MB", "lower", "shuffle_write_mb"),
    ("stages.shuffle_read_mb", "MB", "lower", "shuffle_read_mb"),
    ("stages.spill_mb", "MB", "lower", "spill_mb"),
    ("plan.tokens_out", "count", "lower", "tokens_out"),
    ("functions.normalize_rows", "count", "lower", "normalize_rows"),
    ("plan.partial_agg_ratio", "ratio", "lower", None),
    ("plan.agg_peak_mb", "MB", "lower", "agg_peak_mb"),
    ("plan.exchanges", "count", "lower", "exchanges"),
    ("plan.broadcasts", "count", "lower", "broadcasts"),
    ("sinks.write_s", "s", "lower", "sink_write_s"),
    ("cli.count_stage_s", "s", "lower", "cli_count_s"),
    ("cli.output_stage_s", "s", "lower", "cli_output_s"),
    ("trace.overhead_s", "s", "lower", None),
]


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def _keep_inside_checkout() -> None:
    """Point every scratch location the session uses at ``CACHE``."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to end; the
    next session then starts a new JVM."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _set_up():
    """``get_spark`` + registry load; returns the session, the registry and
    the two times."""
    t0 = time.monotonic()
    from wordcount_spark.session import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    t1 = time.monotonic()
    from wordcount_spark.registry import get_oracles, get_queries

    queries, oracles = get_queries(), get_oracles()
    t2 = time.monotonic()
    print(f"[perfbench] set-up: {t2 - t0:.1f} s", file=sys.stderr)
    return spark, queries, oracles, (t1 - t0, t2 - t1)


def _phase(label: str, fn, *args):
    from probe import steal_jiffies

    (st0, tot0), t0 = steal_jiffies(), time.monotonic()
    samples = fn(*args)
    st1, tot1 = steal_jiffies()
    samples.steal_pct = 100 * (st1 - st0) / max(1, tot1 - tot0)
    print(f"[perfbench] {label}: {time.monotonic() - t0:.1f} s, "
          f"{samples.attempted} operations, CPU steal {samples.steal_pct:.0f}%", file=sys.stderr)
    for kind, walls in samples.walls.items():
        print(f"[perfbench]   {kind}: wall " + " ".join(f"{w:.3f}" for w in walls)
              + " | cpu " + " ".join(f"{c:.2f}" for c in samples.cpus[kind]), file=sys.stderr)
    return samples


def run(args) -> dict:
    import workloads
    from probe import CatalystListener, Tracer

    tracer = Tracer(enabled=False)
    workload = workloads.WORKLOADS[args.workload](args.seed, CACHE)

    times = []
    for i in range(SETUPS):
        spark, queries, oracles, t = _set_up()
        times.append(t)
        if i < SETUPS - 1:
            _shutdown(spark)
    try:
        ctx = workloads.Context(spark, queries, oracles, tracer)
        phases = [_phase("warm-up", workload.warm_up, ctx)]
        phases.append(_phase("untraced", workload.measure, ctx, args.seconds, "untraced"))
        peak_rss = ctx.procs.jvm_peak_rss_mb()
        if args.trace:
            ctx.catalyst = CatalystListener(spark)
            tracer.enabled = True
            phases.append(_phase("traced", workload.measure, ctx, args.seconds, "traced"))
    finally:
        _shutdown(spark)

    untraced = phases[1]
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    for p in phases:
        for problem in p.problems:
            print(f"[perfbench] FAILED {problem}", file=sys.stderr)
    if not args.trace:
        values = {
            "setup_s": workloads.median([a + b for a, b in times]),
            "cpu_s": untraced.cpu_s,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in END_TO_END}
    else:
        traced = phases[2]
        lay = traced.layers
        values = {key: lay[key] / traced.units for *_, key in PER_LAYER if key}
        values.update({
            "op.wall_s": untraced.wall_s,
            "op.input_mb_per_s": workload.input_bytes / 1e6 / untraced.wall_s,
            "host.steal_pct": untraced.steal_pct,
            "session.start_s": workloads.median([a for a, _ in times]),
            "jvm.peak_rss_mb": peak_rss,
            "registry.load_s": workloads.median([b for _, b in times]),
            "plan.partial_agg_ratio": (
                lay["partial_agg_out"] / lay["partial_agg_in"] if lay["partial_agg_in"] else 0.0
            ),
            "trace.overhead_s": traced.wall_s - untraced.wall_s,
        })
        metrics = {
            name: {"value": values[key or name], "unit": unit}
            for name, unit, _, key in PER_LAYER
        }
        _write_detail(args, tracer, phases, metrics)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _write_detail(args, tracer, phases, metrics) -> None:
    out = HERE / ".out"
    out.mkdir(exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}-trace.json"
    path.write_text(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "metrics": metrics,
        "walls": {"untraced": phases[1].walls, "traced": phases[2].walls},
        "per_operation": phases[2].detail,
        "problems": [p for ph in phases for p in ph.problems],
        "spans": tracer.spans,
    }, indent=1))
    print(f"[perfbench] trace detail written to {path}", file=sys.stderr)


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        import wordcount_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the wordcount_spark package is not importable ({e}); "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2
    args = parse_args(argv)
    _keep_inside_checkout()
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
