"""Scale-up check: run representative pipelines at 1x and Nx synthetic
data (the `synthdocs` Python DataSource generates rows in-executor — no
I/O floor) and report the wall-clock growth ratio per pipeline.

Sub-linear-to-linear growth at Nx data on fixed cores is the local-mode
evidence that plans carry no hidden quadratic/size-dependent bottleneck;
a super-linear ratio flags a shuffle or state blow-up long before a
cluster run would. Run: ``python tools/scale_check.py [N]`` (default 50,
matching the committed artifact) — writes SCALE_CHECK.json at the repo
root.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

BASE_ROWS = 5_000
PARTITIONS = 32


def synth(spark, n_rows: int):
    """(doc_id, text, lang, source, n_chars) rows generated in-executor."""
    return (
        spark.read.format("synthdocs")
        .option("partitions", PARTITIONS)
        .option("rows_per_partition", max(1, n_rows // PARTITIONS))
        .option("seed", 42)
        .load()
    )


def pipelines():
    """name -> callable(df) returning a DataFrame to materialize."""
    from pyspark.sql import functions as F

    from wordcount_spark.operators.dedup import (
        doc_shingle_hashes,
        lsh_candidate_pairs,
        minhash_signatures_from_hashes,
    )
    from wordcount_spark.operators.wordcount import count_words

    def wc(df):
        return count_words(df, "text", mode="head")

    def lsh(df):
        sigs = minhash_signatures_from_hashes(
            doc_shingle_hashes(df, id_col="doc_id", text_col="text"), num_hashes=32
        )
        return lsh_candidate_pairs(sigs, bands=8, rows=4, hash_mode="xxhash64")

    def quality(df):
        toks = F.split("text", r"\s+")
        return (
            df.select(
                "doc_id",
                F.size(toks).alias("n_tokens"),
                F.length("text").alias("n_chars"),
            )
            .filter(F.col("n_tokens") >= 5)
            .groupBy()
            .agg(F.count("*").alias("kept"), F.avg("n_chars").alias("avg_chars"))
        )

    def chunks(df):
        # token-window chunking + fingerprint dedup count (narrow explode
        # into one uniform-key shuffle — the chunk_dedup_overlap shape,
        # same window/stride constants as the registered operator)
        from wordcount_spark.operators.queries_llmprep import CHUNK_S, CHUNK_W

        toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        c = (
            df.select("doc_id", toks.alias("toks"))
            .withColumn("n", F.size("toks"))
            .where("n > 0")
        )
        ch = c.select(
            F.explode(
                F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_S))
            ).alias("s"),
            "toks",
        ).select(
            F.md5(
                F.array_join(F.slice("toks", F.col("s") + 1, F.lit(CHUNK_W)), " ")
            ).alias("h")
        )
        return (
            ch.groupBy("h")
            .count()
            .groupBy()
            .agg(F.count("*").alias("n_unique_chunks"))
        )

    def pack(df):
        # two-phase distributed prefix sum + chop (llm_pack_sequences
        # shape; shared helper). The helper runs eager phases at build
        # time (checkpoint + totals collect) — main() rebuilds the frame
        # inside the timed region so those are measured too.
        from wordcount_spark.operators.queries_llmprep import pack_fragments

        return (
            pack_fragments(df)
            .groupBy()
            .agg(
                F.count("*").alias("n_frags"),
                (F.max("seq_id") + 1).alias("n_seqs"),
            )
        )

    def bm25(df):
        # the retrieval_bm25_topk shape on the synth corpus: ONE token
        # scan → per-doc conditional term counts + doc length, corpus
        # stats, per-term df, score, per-query top-k — checks that the
        # serving-side pipeline's growth is the token scan, nothing else
        from pyspark.sql import Window

        terms = ["join", "hash", "scan"]  # present in the synth vocabulary
        toks = df.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit(""))
            ).alias("tok"),
        )
        counts = toks.groupBy("doc_id").agg(
            F.count("*").alias("dl"),
            *[
                F.sum((F.col("tok") == t).cast("long")).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
        ).cache()
        corpus = counts.agg(
            F.count("*").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        )
        stack = "stack({n}, {args}) AS (term, tf)".format(
            n=len(terms),
            args=", ".join(f"'{t}', tf_{i}" for i, t in enumerate(terms)),
        )
        tf = counts.select("doc_id", "dl", F.expr(stack)).where(F.col("tf") > 0)
        df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
        idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        score = idf * (F.col("tf") * 2.2 / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))))
        scored = (
            tf.join(F.broadcast(df_), "term")
            .crossJoin(F.broadcast(corpus))
            .select("term", "doc_id", score.alias("s"))
        )
        w = Window.partitionBy("term").orderBy(F.desc("s"), "doc_id")
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where("rk <= 10")
            .groupBy()
            .agg(F.count("*").alias("n"), F.sum("s").alias("total"))
        )

    def heavyhitters(df):
        # text_heavyhitters_twopass shape: ONE per-partition Misra-Gries
        # summary pass (candidates + exact per-partition totals,
        # localCheckpointed — paid inside the timed region since the
        # pipeline is rebuilt per measurement) + exact recount of
        # candidates only — the token stream is scanned exactly twice,
        # shuffled never, so growth should track the scan
        from wordcount_spark.operators.sketches import misra_gries_summary_arrays

        tok_arr = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit(""))
        toks = df.select(F.explode(tok_arr).alias("tok"))
        summ = misra_gries_summary_arrays(
            df.select(tok_arr.alias("toks")), "toks", "tok", 256
        ).localCheckpoint(eager=True)
        cand = summ.where(F.col("tok").isNotNull()).select("tok").distinct()
        n_cand = cand.count()  # cheap: reads the checkpointed summary
        cand_b = F.broadcast(cand) if n_cand <= 1_000_000 else cand
        counts = toks.join(cand_b, "tok", "left_semi").groupBy("tok").agg(
            F.count("*").alias("cnt")
        )
        total = summ.agg(F.sum("part_total").alias("n"))
        return (
            counts.crossJoin(total)
            .filter(F.col("cnt") >= F.expr("n div 100"))
            .groupBy()
            .agg(F.count("*").alias("n_hh"), F.sum("cnt").alias("hh_mass"))
        )

    def skipgram(df):
        # text_skipgram_pairs shape: shuffle-free pair generation (token
        # array zipped against its own 1- and 2-shifts, both directions
        # emitted), then the one map-side-combinable pair aggregate —
        # growth should track the scan (the first-cut positions
        # self-join measured 8.3x here; this form ~2x)
        toks = df.select(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit("")).alias("t")
        )

        def shifted(d):
            return F.arrays_zip(
                F.slice("t", 1, F.greatest(F.size("t") - d, F.lit(0))),
                F.expr(f"slice(t, {d + 1}, greatest(size(t) - {d}, 0))"),
            )

        fwd = toks.select(
            F.explode(F.concat(shifted(1), shifted(2))).alias("p")
        ).select(F.col("p")["0"].alias("a"), F.col("p")["1"].alias("b"))
        both = fwd.select(F.col("a").alias("center"), F.col("b").alias("context")).unionAll(
            fwd.select(F.col("b").alias("center"), F.col("a").alias("context"))
        )
        return (
            both.groupBy("center", "context")
            .agg(F.count("*").alias("n"))
            .groupBy()
            .agg(F.count("*").alias("n_pairs"), F.sum("n").alias("total"))
        )

    def line_dedup(df):
        # text_line_dedup_c4 shape (r5): positional 15-token lines keyed
        # by a 128-bit xxhash64 PAIR — the line string is dropped before
        # the one line-keyed exchange, so the shuffle carries (doc_id,
        # two longs) and the window sorts long pairs, not strings (the
        # r4 shape keyed on a 32-char md5 string; r3 paid the exchange
        # twice plus an SMJ). Growth should track the line count
        # (O(tokens/15)).
        from pyspark.sql import Window

        toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        nl = F.floor((F.size(toks) + F.lit(14)) / F.lit(15)).cast("long")
        lines = df.where(F.size(toks) > 0).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0).cast("long"), nl - 1),
                    lambda i: F.array_join(
                        F.slice(toks, (i * 15 + 1).cast("int"), 15), " "
                    ),
                )
            ).alias("line"),
        ).select(
            "doc_id",
            F.xxhash64("line").alias("hh1"),
            F.xxhash64(F.concat(F.col("line"), F.lit("\x01"))).alias("hh2"),
        )
        owned = lines.withColumn(
            "keeper", F.min("doc_id").over(Window.partitionBy("hh1", "hh2"))
        )
        return owned.groupBy().agg(
            F.count("*").alias("n_lines"),
            F.count_if(F.col("doc_id") != F.col("keeper")).alias("n_removed"),
        )

    def pretrain_full(df):
        # pipeline_pretrain_full shape (r5: the TOKEN ARRAYS NEVER
        # SHUFFLE — survivorship is a groupBy(md5).agg(min_by) over a
        # ~30-byte projection, sampling is decided on that id frame, and
        # chunking runs pre-dedup with a chunk-level semi-join filter;
        # the r4 shape's md5 window carried every token array through
        # the exchange). Per-stage shuffles: narrow md5 agg, lang
        # counts, chunk semi-join + chunk-hash dedup, final group.
        from pyspark.sql import Window

        from wordcount_spark.operators.queries_llmprep import CHUNK_S, CHUNK_W

        t = df.select(
            "doc_id",
            "lang",
            F.filter(F.split("text", r"\s+"), lambda x: x != F.lit("")).alias("toks"),
            F.unhex(F.md5("text")).alias("text_md5"),
        )
        q = t.where(F.size("toks") >= 20)
        survivor_ids = (
            q.select("text_md5", "doc_id", "lang")
            .groupBy("text_md5")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min_by("lang", "doc_id").alias("lang"),
            )
            .select("doc_id", "lang")
            # persisted between stages, mirroring the registered query
            # (r6): merely caching this two-consumer frame let concurrent
            # branch scheduling recompute it — the duplicate ~22 MB
            # exchange this sweep measured at 200x
            .localCheckpoint()
        )
        counts = survivor_ids.groupBy("lang").agg(F.count("*").alias("n"))
        min_n = counts.agg(F.min("n").alias("min_n"))
        rates = counts.crossJoin(F.broadcast(min_n)).select(
            "lang", (F.col("min_n").cast("double") / F.col("n")).alias("rate")
        )
        bucket = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
            .cast("long") % 10000
        )
        mixed_ids = survivor_ids.join(F.broadcast(rates), "lang").where(
            bucket < F.col("rate") * 10000
        ).select("doc_id")
        chunks = q.select(
            "doc_id", "lang", F.size("toks").alias("n"), "toks",
            F.posexplode(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_S))
            ).alias("chunk_idx", "start"),
        ).select(
            "doc_id", "lang", "chunk_idx",
            F.least(F.lit(CHUNK_W), F.col("n") - F.col("start")).alias("n_tok"),
            F.unhex(F.md5(
                F.array_join(F.slice("toks", F.col("start") + 1, F.lit(CHUNK_W)), " ")
            )).alias("h"),
        ).join(mixed_ids, "doc_id", "left_semi")
        w_chunk = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
        uchunks = (
            chunks.withColumn("rn", F.row_number().over(w_chunk))
            .where("rn = 1")
            .select("doc_id", "lang", "n_tok")
        )
        split_bucket = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("s"), F.col("doc_id").cast("string"))), 1, 7
                ), 16, 10,
            ).cast("long") % 10
        )
        return (
            uchunks.withColumn(
                "split",
                F.when(split_bucket == 0, F.lit("holdout")).otherwise(F.lit("train")),
            )
            .groupBy("lang", "split")
            .agg(
                F.count_distinct("doc_id").alias("n_docs"),
                F.count("*").alias("n_chunks"),
                F.sum("n_tok").alias("n_tokens"),
            )
        )

    def rag_corpus(df):
        # pipeline_rag_corpus shape (r5: the TEXT NEVER SHUFFLES —
        # survivorship is a groupBy(md5).min(doc_id) over a (hash, id)
        # projection and the chunk counts are computed pre-dedup with a
        # doc-keyed semi-join; the r4 shape's md5 window carried the
        # full text through the exchange; r7: the VECTORS never shuffle
        # either — cosine is computed map-side on the embedding scan
        # against the broadcast query set BEFORE the doc-id attach, so
        # the join exchanges 24-byte (qid, doc_id, cos) score rows, not
        # ~520-byte vector rows; embedding derived deterministically
        # in-plan since synthdocs has no vector column — same width,
        # same scan shape) → broadcast 3-query cosine top-5.
        from pyspark.sql import Window

        from wordcount_spark.operators.queries_similarity import cosine

        survivor_ids = (
            df.select(F.unhex(F.md5("text")).alias("h"), "doc_id")
            .groupBy("h")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        toks = F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
        chunks = df.select(
            "doc_id", F.ceil(F.size(toks) / 64).alias("n_chunks")
        ).join(survivor_ids, "doc_id", "left_semi")
        emb_expr = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("doc_id") * 64 + i), F.lit(1000)) / 1000.0
            ).cast("float"),
        )
        emb = df.select("doc_id", emb_expr.alias("embedding"))
        # query frame from a 3-row range, NOT a corpus scan: the
        # registered query reads its 3 query vectors from the embeddings
        # table with a pushed-down vec_id predicate (touches 3 rows);
        # deriving them from df here scanned the whole corpus for 3 rows
        # (measured 35s cpu at 200x) — a replica artifact, not a shape
        # the registered plan has
        q = df.sparkSession.range(3).select(
            F.col("id").alias("qid"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: (
                    F.pmod(F.xxhash64(F.col("id") * 64 + i), F.lit(1000)) / 1000.0
                ).cast("float"),
            ).alias("q_emb"),
        )
        scores = emb.crossJoin(F.broadcast(q)).select(
            "qid", "doc_id",
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
        sims = scores.join(chunks, "doc_id").select(
            "qid", "doc_id", "n_chunks", "cos"
        )
        w_rank = Window.partitionBy("qid").orderBy(F.desc("cos"), "doc_id")
        return (
            sims.withColumn("rank", F.row_number().over(w_rank))
            .where(F.col("rank") <= 5)
            .groupBy()
            .agg(F.count("*").alias("n"), F.sum("cos").alias("total"))
        )

    return {
        "wordcount": wc,
        "minhash_lsh": lsh,
        "quality_gate": quality,
        "chunk_fingerprints": chunks,
        "pack_sequences": pack,
        "bm25_topk": bm25,
        "heavyhitters": heavyhitters,
        "skipgram": skipgram,
        "line_dedup": line_dedup,
        "pipeline_pretrain_full": pretrain_full,
        "pipeline_rag_corpus": rag_corpus,
    }


def _shuffle_bytes_since(spark, prev_stage_max: int) -> tuple[int, int, int]:
    """(total shuffle-write bytes, peak per-stage bytes, new max stage id)
    over all COMPLETE stages with id > prev_stage_max, read from the UI
    REST API (the session is built with the UI on for exactly this
    purpose). Failed/retried stage attempts are excluded (ADVICE r5): a
    mid-run task retry would otherwise double-count its bytes and inflate
    the committed bytes_growth_ratio relative to the timed best run.

    ADVICE r6: max_id must NOT advance over a non-terminal stage — a
    stage whose listener-bus update lags (still ACTIVE when read right
    after .save() returns) would be dropped now and permanently excluded
    from the next window, and min-across-repetitions would then prefer
    that undercounted rep. So: poll briefly until the window has no
    ACTIVE/PENDING stages, then advance max_id only across the terminal
    prefix (in stage-id order) so anything still in flight is re-read on
    the next call rather than silently lost."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{base}/api/v1/applications"))
    app_id = apps[0]["id"]

    def _window():
        stages = json.load(
            urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/stages")
        )
        return sorted(
            (s for s in stages if s["stageId"] > prev_stage_max),
            key=lambda s: s["stageId"],
        )

    terminal = ("COMPLETE", "FAILED", "SKIPPED")
    for _ in range(20):  # ≤5 s; the job already returned, only the bus lags
        window = _window()
        if all(s.get("status") in terminal for s in window):
            break
        time.sleep(0.25)
    total = peak = 0
    max_id = prev_stage_max
    for s in window:
        if s.get("status") not in terminal:
            break  # still in flight: leave it (and everything after) for
            # the next window — never skip a stage that may yet complete
        max_id = s["stageId"]
        if s.get("status") != "COMPLETE":
            continue
        b = s.get("shuffleWriteBytes", 0)
        total += b
        peak = max(peak, b)
    return total, peak, max_id


def main() -> None:
    """``python tools/scale_check.py [N] [pipeline ...]``

    No pipeline args: the full committed sweep (writes SCALE_CHECK.json).
    With pipeline names (VERDICT r4 item 8 — composites at 200x): runs
    only those at 1x and Nx, additionally recording total + peak
    per-stage shuffle-WRITE bytes at each scale (the number that decides
    whether an exchange fits a real cluster's disks), and MERGES the
    result under "composites_<N>x" in SCALE_CHECK.json instead of
    overwriting the sweep.
    """
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    only = sys.argv[2:]

    from wordcount_spark.session import get_spark
    from wordcount_spark.sources.pydatasource import SynthDocsDataSource

    spark = get_spark(
        "scale_check",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        extra_conf={"spark.ui.enabled": "true"} if only else None,
    )
    spark.dataSource.register(SynthDocsDataSource)

    selected = pipelines()
    if only:
        selected = {k: selected[k] for k in only}

    results: dict[str, dict] = {}
    stage_max = -1
    for name, fn in selected.items():
        times = {}
        shuffles: dict[str, dict] = {}
        for label, rows in (("1x", BASE_ROWS), (f"{mult}x", BASE_ROWS * mult)):
            fn(synth(spark, rows)).write.format("noop").mode(
                "overwrite"
            ).save()  # warm: JIT/codegen
            best = float("inf")
            for _ in range(2):
                # rebuild INSIDE the timed region: pipelines with eager
                # build-time phases (pack's prefix-sum checkpoint+collect)
                # must pay them in the measurement, not before it
                if only:  # shuffle accounting: bytes of ONE clean run
                    _, _, stage_max = _shuffle_bytes_since(spark, stage_max)
                t0 = time.monotonic()
                fn(synth(spark, rows)).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.monotonic() - t0)
                if only:
                    tot, peak, stage_max = _shuffle_bytes_since(spark, stage_max)
                    # min across repetitions (ADVICE r5): clean runs write
                    # identical bytes, so the floor discards any repetition
                    # inflated by a retried stage — matching how `times`
                    # keeps best-of
                    prev = shuffles.get(label)
                    if prev is None or tot < prev["shuffle_write_bytes"]:
                        shuffles[label] = {
                            "shuffle_write_bytes": tot,
                            "peak_stage_bytes": peak,
                        }
            times[label] = round(best, 3)
        ratio = round(times[f"{mult}x"] / times["1x"], 2)
        results[name] = {**times, "growth_ratio": ratio, "data_ratio": mult}
        if shuffles:
            sb1 = shuffles["1x"]["shuffle_write_bytes"]
            sbN = shuffles[f"{mult}x"]["shuffle_write_bytes"]
            results[name]["shuffle"] = {
                **shuffles,
                "bytes_growth_ratio": round(sbN / max(sb1, 1), 2),
            }
        print(f"{name}: 1x={times['1x']}s {mult}x={times[f'{mult}x']}s ratio={ratio}"
              + (f" shuffle_bytes_ratio={results[name]['shuffle']['bytes_growth_ratio']}"
                 if shuffles else ""))

    out = os.path.join(_REPO_ROOT, "SCALE_CHECK.json")
    if only:
        try:
            doc = json.load(open(out))
        except (OSError, ValueError):
            doc = {"base_rows": BASE_ROWS, "multiplier": 50, "pipelines": {}}
        # per-pipeline merge: re-running ONE composite must not drop the
        # other's committed result from the artifact
        doc.setdefault(f"composites_{mult}x", {}).update(results)
        with open(out, "w") as f:
            json.dump(doc, f, indent=2)
    else:
        # a full-sweep rewrite must not drop committed composites_* runs
        try:
            doc = json.load(open(out))
        except (OSError, ValueError):
            doc = {}
        doc.update(
            {"base_rows": BASE_ROWS, "multiplier": mult, "pipelines": results}
        )
        with open(out, "w") as f:
            json.dump(doc, f, indent=2)
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
