"""Per-stage profiler for the headline bench queries (guide §1: measure
first, empirically — which stage is slow, how many tasks it ran, where
the bytes went).

For each headline query: build the DataFrame, warm once (JIT + caches,
same as bench.py), then run ONE timed noop write with the Spark UI on and
read that run's stage metrics over the REST API. Emits a JSON sidecar
plus a human-readable table; optionally dumps .explain("formatted") to
plans/<round-dir>/<query>_before.txt (or _after.txt).

Usage:
    python tools/profile_headline.py [--round r11] [--suffix before] [-q name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def stage_metrics(spark):
    base = spark.sparkContext.uiWebUrl
    # our own applicationId, NOT apps[0]: with another UI-enabled Spark JVM
    # on the box the first listed app can be someone else's (ADVICE r10)
    app_id = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        )
    )
    out = {}
    for st in stages:
        sid = st["stageId"]
        out[sid] = {
            "name": st.get("name", "")[:60],
            "tasks": st.get("numCompleteTasks", 0),
            "ms": st.get("executorRunTime", 0),
            "cpu_ms": (st.get("executorCpuTime", 0) or 0) // 1_000_000,
            "input_mb": round(st.get("inputBytes", 0) / 1e6, 2),
            "sh_read_mb": round(st.get("shuffleReadBytes", 0) / 1e6, 3),
            "sh_write_mb": round(st.get("shuffleWriteBytes", 0) / 1e6, 3),
            "submitted": st.get("submissionTime"),
            "completed": st.get("completionTime"),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", dest="round_dir", default="r11",
                    help="plans/<round-dir>/ for --suffix dumps (ADVICE r10: was hardcoded r10)")
    ap.add_argument("--suffix", default=None, help="also dump plans/<round>/<q>_<suffix>.txt")
    ap.add_argument("-q", "--queries", nargs="*", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--json", default=None,
                    help="sidecar path (default plans/<round>/profile[_suffix].json "
                         "— committed with the plans, not left in /tmp; VERDICT r10)")
    args = ap.parse_args()
    if args.json is None:
        tag = f"_{args.suffix}" if args.suffix else ""
        args.json = os.path.join(_REPO, "plans", args.round_dir, f"profile{tag}.json")
        os.makedirs(os.path.dirname(args.json), exist_ok=True)

    from bench import HEADLINE
    from wordcount_spark.registry import get_queries
    from wordcount_spark.session import get_spark

    spark = get_spark("profile_headline", extra_conf={"spark.ui.enabled": "true"})
    queries = get_queries()
    names = args.queries or [n for n in HEADLINE if n in queries]

    results = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        df = queries[name](spark, args.sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm
        pre = stage_metrics(spark)
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        post = stage_metrics(spark)
        fresh = {k: v for k, v in post.items() if k not in pre}
        results[name] = {"wall_sec": round(wall, 4), "stages": fresh}
        print(f"\n=== {name}: {wall:.3f}s, {len(fresh)} stages")
        for sid in sorted(fresh):
            s = fresh[sid]
            print(
                f"  s{sid:4d} tasks={s['tasks']:3d} run={s['ms']:6d}ms "
                f"cpu={s['cpu_ms']:6d}ms in={s['input_mb']:7.2f}MB "
                f"shR={s['sh_read_mb']:8.3f} shW={s['sh_write_mb']:8.3f} {s['name']}"
            )
        if args.suffix:
            plan_dir = os.path.join(_REPO, "plans", args.round_dir)
            os.makedirs(plan_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plan_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
    with open(args.json, "w") as f:
        json.dump(results, f, indent=1)
    totals = {n: r["wall_sec"] for n, r in results.items()}
    print("\nwall totals:", json.dumps(totals))
    print("sum:", round(sum(totals.values()), 3))
    spark.stop()


if __name__ == "__main__":
    main()
