"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on the session ``get_spark`` sizes (local[$SPARK_GRAFT_CPUS],
else one thread per core this process may run on) and prints ONE JSON line.

Timing = build the query, then run it to a noop sink (materializes every
row, avoids driver-side collect overhead dominating — the reference's own
published numbers were 99.6% stdout I/O, a pathology we explicitly do not
reproduce; see BASELINE.md): best-of-3 wall time per query, plus the
executor CPU of the kept run (summed on the line as ``cpu_s``). Then the
CLI's word count on a generated reference-shaped corpus gives
``synthetic_corpus_mb_per_sec``. Each query's whole stage record and the
corpus figures go to the ``BENCH_detail.json`` sidecar.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial
from pathlib import Path

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
    "dedup_minhash_lsh",
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


#: reference-shaped corpus for the MB/s figure: PAPER.md's 29 files,
#: 2,658,525 words and 57,467 distinct, drawn by ``perfbench.gen.corpus``
#: from seed 1 — synthetic bytes, labelled so on the line
CORPUS_SPEC = {"n_tokens": 2_658_525, "vocab": 57_467, "files": 29}
CORPUS_SEED = 1


def timed(build, n: int, status) -> tuple[float, dict]:
    """Run ``build()`` to a noop sink once to warm (JIT/codegen), then
    ``n`` more times, rebuilding the DataFrame inside every timed region:
    plan construction, file listing and any eager build-time jobs are
    part of the measured work. Returns the best wall time and the stage
    figures of that run (executor CPU, shuffle, spill, ...), read from
    ``status`` (a ``perfbench.probe.StatusReader``) around it.

    One warm run does not take the first query of a fresh session off
    the JVM's JIT slope: its executor CPU can read 2-3x its settled
    figure, so per-query deltas of a session's first point are noise."""
    build().write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(n):
        mark = status.mark()
        t0 = time.monotonic()
        build().write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        runs.append((wall, status.stages_since(mark)))
    return min(runs, key=lambda r: r[0])


#: byte budget for the final stdout JSON line: its consumer keeps only
#: the last ~2000 bytes of stdout and parses the final line. The line's keys
#: are fixed (``HEADLINE`` is 25 names), so it is checked by a test, not
#: trimmed at run time.
LINE_BUDGET = 1800

#: committed sidecar with the full record: each headline query's stage
#: figures and the corpus phase's spec, bytes, wall and executor CPU
DETAIL_SIDECAR = os.path.join(_REPO_ROOT, "BENCH_detail.json")


def _emit_final_line(out: dict, detail: dict) -> None:
    """Write the full record to the sidecar, then print the compact
    headline JSON as the LAST stdout line."""
    with open(DETAIL_SIDECAR, "w") as f:
        json.dump({**out, "detail": detail}, f, indent=1, sort_keys=True)
    print(json.dumps(out, separators=(",", ":")))


def _corpus_phase(spark, status, out: dict, detail: dict) -> None:
    """The shipped CLI count (``count_words`` over ``load_text_corpus``)
    on the generated reference-shaped corpus, under the session's own
    config: the figure to set beside the reference's 47.6 MB/s read+map
    stage on 4 threads (BASELINE.md)."""
    from perfbench.gen import CorpusSpec, corpus
    from wordcount_spark.operators.wordcount import count_words
    from wordcount_spark.sources.readers import load_text_corpus

    cache = Path(_REPO_ROOT) / ".bench_scratch" / "corpus"
    c = corpus(CorpusSpec(**CORPUS_SPEC), CORPUS_SEED, cache)
    wall, stages = timed(lambda: count_words(load_text_corpus(spark, c.files)), 3, status)
    out["synthetic_corpus_mb_per_sec"] = round(c.n_bytes / 1e6 / wall, 2)
    detail["synthetic_corpus"] = {
        "spec": CORPUS_SPEC,
        "seed": CORPUS_SEED,
        "bytes": c.n_bytes,
        "wall_s": round(wall, 4),
        "executor_cpu_s": round(stages["executor_cpu_s"], 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from perfbench.probe import StatusReader
    from wordcount_spark.registry import get_queries
    from wordcount_spark.session import get_spark

    spark = get_spark("wordcount_spark_bench")
    status = StatusReader(spark)
    queries = get_queries()

    # best-of-3 wall; the kept run's whole stage record goes to the sidecar
    timings: dict[str, float] = {}
    stages: dict[str, dict] = {}
    for name in HEADLINE:
        wall, record = timed(partial(queries[name], spark, sf_dir), 3, status)
        timings[name] = round(wall, 4)
        stages[name] = {k: round(v, 4) for k, v in record.items()}

    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpu_s": round(sum(r["executor_cpu_s"] for r in stages.values()), 4),
    }
    detail = {"stages": stages}
    _corpus_phase(spark, status, out, detail)
    _emit_final_line(out, detail)
    spark.stop()


if __name__ == "__main__":
    main()
