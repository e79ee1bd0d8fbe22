"""Scale-up check: run the shipped registry queries on generated star-schema
tables at sf0.01, sf0.1 and sf1 and report how executor CPU and shuffle
write grow at each 10x step.

Sub-linear-to-linear growth at 10x data on fixed cores is the local-mode
evidence that a plan carries no hidden quadratic or size-dependent
bottleneck; a super-linear ratio flags a shuffle or state blow-up long
before a cluster run would. Each point is ``bench.timed``: one warm run,
then the best of 2, the query rebuilt inside every timed run, stage
figures read from Spark's status store. Every scale comes from the same
generator (``perfbench.gen.star_schema``, seed 1), so the ratios compare
like with like. Run: ``python tools/scale_check.py`` (sized by
``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM``, as every session is) —
writes SCALE_CHECK.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial
from pathlib import Path

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from bench import HEADLINE, timed  # noqa: E402

SEED = 1
SCALES = (0.01, 0.1, 1)
#: registered queries outside the headline whose shapes this tool used
#: to time as private pipeline copies
EXTRA = (
    "llm_pack_sequences",
    "retrieval_bm25_topk",
    "text_heavyhitters_twopass",
    "text_skipgram_pairs",
    "text_line_dedup_c4",
)
SWEEP = (*HEADLINE, *EXTRA)
FIELDS = ("executor_cpu_s", "shuffle_write_mb", "spill_mb")


def _ratio(a: float, b: float) -> float | None:
    return round(b / a, 2) if a else None


def sweep(spark, status, queries: dict, dirs: dict) -> dict:
    """{query: {"points": {sf: figures}, "growth": {step: ratios}}} for
    every query in SWEEP over ``dirs`` ({sf: table dir}, ascending sf)."""
    results = {}
    for name in SWEEP:
        points = {}
        for sf, d in dirs.items():
            wall, stages = timed(partial(queries[name], spark, d), 2, status)
            points[sf] = {"wall_s": round(wall, 3)}
            points[sf].update((k, round(stages[k], 3)) for k in FIELDS)
        steps = list(points.items())
        growth = {
            f"{a}->{b}": {
                "executor_cpu": _ratio(pa["executor_cpu_s"], pb["executor_cpu_s"]),
                "shuffle_write": _ratio(pa["shuffle_write_mb"], pb["shuffle_write_mb"]),
            }
            for (a, pa), (b, pb) in zip(steps, steps[1:])
        }
        results[name] = {"points": points, "growth": growth}
        print(f"{name}: {growth}", file=sys.stderr)
    return results


def main() -> None:
    from perfbench.gen import star_schema
    from perfbench.probe import StatusReader
    from wordcount_spark.registry import get_queries
    from wordcount_spark.session import get_spark

    cache = Path(_REPO_ROOT) / ".bench_scratch" / "scale"
    dirs = {sf: str(star_schema(sf, seed=SEED, cache_root=cache)) for sf in SCALES}

    spark = get_spark("scale_check")
    spark.sparkContext.setLogLevel("ERROR")
    results = sweep(spark, StatusReader(spark), get_queries(), dirs)
    doc = {
        "seed": SEED,
        "sf": list(SCALES),
        "cores": spark.sparkContext.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "repeats": "1 warm + best of 2 (bench.timed)",
        "queries": results,
    }
    out = os.path.join(_REPO_ROOT, "SCALE_CHECK.json")
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {out}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
