"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on the session ``get_spark`` sizes (local[$SPARK_GRAFT_CPUS],
else one thread per core this process may run on) and prints ONE JSON line.

Timing = build the query, then run it to a noop sink (materializes every
row, avoids driver-side collect overhead dominating — the reference's own
published numbers were 99.6% stdout I/O, a pathology we explicitly do not
reproduce; see BASELINE.md): best-of-3 wall time per query, plus the
executor CPU of the kept run (summed on the line as ``cpu_s``).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from functools import partial

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

#: Headline queries benched per round (a stable, scale-sensitive subset:
#: flagship text pipeline, scan-heavy agg, multi-join, window, sub-quadratic
#: near-dup, vector top-k, quality gate).
HEADLINE = [
    "wordcount",
    "wordcount_per_source",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_pseudo_profit",
    "q21_waiting_suppliers",
    "window_session",
    "events_funnel",
    "asof_join_last_order",
    "dedup_minhash_lsh_fast",
    "pipeline_curation",
    "similarity_topk_bruteforce",
    "similarity_multiquery_topk",
    "text_tfidf_top_terms",
    "text_quality_score",
    "text_unigram_logprob",
    "events_path_mining",
    "cdc_upsert_latest_state",
    "events_gapfill_hourly",
    "events_sessionize_gap",
    "chunk_dedup_overlap",
    "pipeline_pretrain_full",
    "graph_triangle_count",
    "text_pmi_bigrams",
    "pipeline_rag_corpus",
]


#: pre-run 1-min load above this marks the emitted JSON "noisy": a busy
#: neighbor inflates wall-clock up to ~2x (VERDICT r3: a pre-run load of
#: 8.57 inflated every r3 query ~1.2-1.4x). The flag is informational:
#: nothing waits or retries on it.
NOISE_LOAD_1M = 4.0


def timed(build, n: int, status) -> tuple[float, dict]:
    """Run ``build()`` to a noop sink once to warm (JIT/codegen), then
    ``n`` more times, rebuilding the DataFrame inside every timed region:
    plan construction, file listing and any eager build-time jobs are
    part of the measured work. Returns the best wall time and the stage
    figures of that run (executor CPU, shuffle, spill, ...), read from
    ``status`` (a ``perfbench.probe.StatusReader``) around it."""
    build().write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(n):
        mark = status.mark()
        t0 = time.monotonic()
        build().write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        runs.append((wall, status.stages_since(mark)))
    return min(runs, key=lambda r: r[0])


def _materialize_8x_corpus(paths: list[str], scratch: str) -> list[str]:
    """Build a corpus of 8x DISTINCT bytes from the reference corpus:
    the original files plus 7 deterministic variants, each with A-Z/a-z
    Caesar-rotated by k — byte count and whitespace structure preserved,
    but every variant contributes a disjoint vocabulary, so the shuffle
    and aggregate state scale with the bytes (ADVICE r1 / VERDICT r2
    item 5: the old 8x run listed the same paths 8 times, which kept the
    vocabulary 1x and flattered the reduce stage; that caveat no longer
    applies and is gone from the emitted JSON). Generated once and
    reused; regeneration is keyed on a per-source-file (path, size,
    mtime) manifest — NOT the aggregate byte count, which Caesar
    rotation preserves and which therefore could not detect a content
    change or coincidentally-sized leftovers (ADVICE r3 item 1)."""
    import string

    os.makedirs(scratch, exist_ok=True)
    out_paths = list(paths)
    tables = []
    for k in range(1, 8):
        lower = string.ascii_lowercase
        upper = string.ascii_uppercase
        rot_l = lower[k:] + lower[:k]
        rot_u = upper[k:] + upper[:k]
        tables.append(bytes.maketrans(
            (lower + upper).encode(), (rot_l + rot_u).encode()
        ))
    manifest_path = os.path.join(scratch, "manifest.json")
    want = {
        "sources": [
            [p, os.path.getsize(p), int(os.path.getmtime(p))] for p in paths
        ],
        "variants": 7,
    }
    have = [
        os.path.join(scratch, f)
        for f in sorted(os.listdir(scratch))
        if f.endswith(".txt")
    ]
    try:
        with open(manifest_path) as f:
            got = json.load(f)
    except (OSError, ValueError):
        got = None
    if got != want or len(have) != 7 * len(paths):
        for p in have:
            os.remove(p)
        have = []
        for k, table in enumerate(tables, start=1):
            for p in paths:
                data = open(p, "rb").read().translate(table)
                dst = os.path.join(
                    scratch, f"rot{k}_{os.path.basename(p)}.txt"
                )
                with open(dst, "wb") as f:
                    f.write(data)
                have.append(dst)
        with open(manifest_path, "w") as f:
            json.dump(want, f)
    return out_paths + have


#: hard byte budget for the final stdout JSON line. The driver captures
#: only the last ~2000 bytes of stdout and json-parses the final line;
#: round 4's line grew past that window and the official bench artifact
#: landed with "parsed": null (VERDICT r4 item 1). 1800 leaves headroom
#: for the trailing newline and any stray runtime warning bytes.
LINE_BUDGET = 1800

#: sidecar (committed) holding the full diagnostic detail that round 4
#: used to put on the stdout line: per-query executor CPU, corpus
#: stage breakdowns. Nothing is lost — it just no
#: longer competes with the headline line for the driver's tail buffer.
DETAIL_SIDECAR = os.path.join(_REPO_ROOT, "BENCH_detail.json")


def _emit_final_line(out: dict, detail: dict) -> None:
    """Write the full record to the sidecar, then print a compact
    headline JSON as the LAST stdout line, mechanically enforcing
    LINE_BUDGET: optional fields are shed (never ``queries`` — the
    per-query timings ARE the round-over-round signal) until the line
    fits, and the shed keys remain readable in the sidecar."""
    with open(DETAIL_SIDECAR, "w") as f:
        json.dump({**out, "detail": detail}, f, indent=1, sort_keys=True)
    line = json.dumps(out, separators=(",", ":"))
    # shed order: throughput diagnostics ONLY — "noisy" and its load stamp
    # are the run-validity flags (~25 bytes combined) and are UN-SHEDDABLE
    # (ADVICE r5: shedding them would let a consumer of the headline line
    # read a noisy run as clean); spec-required fields never shed either
    for key in ("reference_corpus_8x_mb_per_sec", "reference_corpus_mb_per_sec"):
        if len(line) <= LINE_BUDGET:
            break
        out.pop(key, None)
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > LINE_BUDGET:  # still over: queries list itself grew —
        # keep the slowest 25 (signal-bearing) and note the truncation
        top = dict(sorted(out["queries"].items(), key=lambda kv: -kv[1])[:25])
        out["queries"] = top
        out["queries_truncated"] = True
        line = json.dumps(out, separators=(",", ":"))
    print(line)


def _corpus_phase(spark, status, paths: list[str], out: dict, detail: dict) -> None:
    """Apples-to-apples vs the reference's ONE compute-derived number: its
    read+map stage ran at ~47.6 MB/s on 4 cores over raw_text_input
    (BASELINE.md). Same input, same work (tokenize+normalize+count)."""
    from pyspark.sql import functions as F

    from wordcount_spark.operators.wordcount import words_from_text
    from wordcount_spark.sources.readers import load_text_corpus

    nbytes = sum(os.path.getsize(p) for p in paths)
    # Micro-benchmark confs (restored after): text is line-splittable,
    # so size scan splits ~ total/parallelism — the default 128 MB
    # leaves the 3.3 MB largest file as ONE task that serializes the
    # normalize stage. AQE off + few reducers: on a sub-second job AQE's
    # per-stage re-optimization is pure latency and the word vocabulary
    # needs no 32-way reduce; both stay ON for the sf-scale headline
    # queries, where they earn their keep.
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
        )
    }

    def split_for(total: int) -> str:
        per_core = total // max(spark.sparkContext.defaultParallelism, 1)
        return str(min(max(per_core, 256 * 1024), 128 * 1024 * 1024))

    spark.conf.set("spark.sql.files.maxPartitionBytes", split_for(nbytes))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # Same WORK as the reference's read+map stage: tokenize, then
        # normalize EVERY token, then count — the single-aggregation
        # formulation (the reference's process_word also runs per
        # token, not per distinct word). The flagship `wordcount`
        # query instead uses vocabulary pre-aggregation — normalize
        # O(vocab) — which wins at corpus scale but pays a second
        # exchange that dominates on a 15 MB input.
        def wc_df(path_list):
            return (
                words_from_text(
                    load_text_corpus(spark, path_list), "text", mode="head"
                )
                .groupBy("word")
                .agg(F.count("*").alias("cnt"))
            )

        # a 0.4 s job: best-of-8 is cheap at this size
        best, _ = timed(lambda: wc_df(paths), 8, status)
        out["reference_corpus_mb_per_sec"] = round(nbytes / 1e6 / best, 2)
        # Committed stage breakdown (VERDICT r1 task 5): how much of
        # the single-stream time is fixed per-job cost that vanishes
        # at scale vs. actual tokenize/normalize/count compute.
        empty, _ = timed(lambda: spark.range(1), 2, status)
        scan, _ = timed(lambda: spark.read.text(paths), 2, status)
        detail["reference_corpus_breakdown_sec"] = {
            "total": round(best, 4),
            "empty_job_floor": round(empty, 4),
            "scan_only": round(scan, 4),
        }
        # same pipeline at 8x the corpus: the amortization point where
        # per-job fixed costs stop dominating. The 8x input is DISTINCT
        # bytes (original + 7 Caesar-rotated variants, disjoint
        # vocabularies), so scan, shuffle AND aggregate state all scale
        # with the input (VERDICT r2 item 5).
        paths8 = _materialize_8x_corpus(
            paths, os.path.join(_REPO_ROOT, ".bench_scratch", "corpus8x")
        )
        nbytes8 = sum(os.path.getsize(p) for p in paths8)
        spark.conf.set("spark.sql.files.maxPartitionBytes", split_for(nbytes8))
        best8, _ = timed(lambda: wc_df(paths8), 4, status)
        out["reference_corpus_8x_mb_per_sec"] = round(nbytes8 / 1e6 / best8, 2)
        detail["reference_corpus_8x_distinct_bytes"] = nbytes8
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    # EXTERNAL load, sampled before our JVM spins up
    prerun_load = os.getloadavg()[0]

    from perfbench.probe import StatusReader
    from wordcount_spark.registry import get_queries
    from wordcount_spark.session import get_spark

    spark = get_spark("wordcount_spark_bench")
    status = StatusReader(spark)
    queries = get_queries()

    # best-of-3 wall; the kept run's executor CPU sits next to it
    timings: dict[str, float] = {}
    cpu: dict[str, float] = {}
    for name in HEADLINE:
        if name not in queries:
            continue
        wall, stages = timed(partial(queries[name], spark, sf_dir), 3, status)
        timings[name] = round(wall, 4)
        cpu[name] = round(stages["executor_cpu_s"], 4)

    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpu_s": round(sum(cpu.values()), 4),
        "host_load_avg_1m_prerun": round(prerun_load, 2),
        "noisy": prerun_load > NOISE_LOAD_1M,
    }
    # Everything that is diagnostic-only goes to the SIDECAR, never the
    # stdout line: the driver captures only the last ~2000 bytes of
    # stdout and parses the final line as JSON (round 4's line outgrew
    # that window: BENCH_r04.json "parsed": null).
    detail = {"executor_cpu_s": cpu}

    corpus = os.environ.get("SPARK_GRAFT_CORPUS", "/root/reference/raw_text_input")
    paths = sorted(glob.glob(os.path.join(corpus, "*")))
    if paths:
        _corpus_phase(spark, status, paths, out, detail)
    else:
        print(f"bench: reference corpus absent at {corpus}; "
              "no MB/s figures", file=sys.stderr)
        detail["reference_corpus"] = f"absent: {corpus}"

    _emit_final_line(out, detail)
    spark.stop()


if __name__ == "__main__":
    main()
