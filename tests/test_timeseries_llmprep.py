"""Semantic invariants for the time-series and LLM-prep operators —
properties the DuckDB differential oracle can't state directly (density of
the gap-filled grid, rollup conservation, chunk coverage, scrub residue)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wordcount_spark.operators.caching import bounded_cache
from wordcount_spark.registry import get_queries


def test_gapfill_grid_is_dense(spark):
    df = bounded_cache(get_queries()["events_gapfill_hourly"](spark, SF_DIR))
    hours = df.select("bucket_hour").distinct().count()
    types = df.select("event_type").distinct().count()
    assert df.count() == hours * types  # every cell present exactly once
    # zero-filled cells really exist (the sf0.001 slice has sparse hours)
    assert df.where("n_events = 0").count() > 0
    # and zero-filled cells carry a zero sum, not NULL
    assert df.where("n_events = 0 AND sum_value IS NULL").count() == 0


def test_rollup_grains_conserve_totals(spark):
    df = bounded_cache(get_queries()["events_rollup_multigrain"](spark, SF_DIR))
    # sum_value is a canonical DOUBLE output (driver hash rule); re-sum in
    # decimal so the conservation check is exact — each cell is a 2dp value
    # that round-trips double→decimal(18,2) losslessly
    by_grain = {
        r["grain"]: (r["n"], r["sv"])
        for r in df.groupBy("grain")
        .agg(
            F.sum("n_events").alias("n"),
            F.sum(F.col("sum_value").cast("decimal(18,2)")).alias("sv"),
        )
        .collect()
    }
    assert by_grain["hour"][0] == by_grain["day"][0]  # same events counted
    assert by_grain["hour"][1] == by_grain["day"][1]  # same value mass


def test_chunk_windows_cover_every_token(spark):
    from wordcount_spark.operators.queries_llmprep import CHUNK_S, CHUNK_W

    qs = get_queries()
    chunks = bounded_cache(qs["text_chunk_windows"](spark, SF_DIR))
    # stride steps: consecutive chunk starts differ by exactly CHUNK_S
    bad_stride = chunks.where(F.col("start_tok") != F.col("chunk_idx") * CHUNK_S)
    assert bad_stride.count() == 0
    # the last chunk of each doc reaches the final token: max(start+size) == n
    from wordcount_spark.operators.queries_textstats import _toks
    from wordcount_spark.sources.readers import load_table

    n_by_doc = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.size(_toks()).alias("n"))
        .where("n > 0")
    )
    covered = chunks.groupBy("doc_id").agg(
        F.max(F.col("start_tok") + F.col("n_tokens_chunk")).alias("covered")
    )
    joined = covered.join(n_by_doc, "doc_id", "full_outer")
    assert joined.where(
        F.col("covered").isNull()
        | F.col("n").isNull()
        | (F.col("covered") != F.col("n"))
    ).count() == 0
    # every chunk is at most the window size and nonempty
    assert chunks.where(
        (F.col("n_tokens_chunk") <= 0) | (F.col("n_tokens_chunk") > CHUNK_W)
    ).count() == 0


def test_ffill_carries_last_observation(spark):
    from pyspark.sql import Window

    df = bounded_cache(get_queries()["events_resample_ffill"](spark, SF_DIR))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_hour")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    checked = df.withColumn("prev_filled", F.last("filled_value", True).over(w))
    # a gap cell must equal the previous filled value (or be a leading NULL)
    bad = checked.where(
        F.col("was_gap")
        & F.col("filled_value").isNotNull()
        & (F.col("filled_value") != F.col("prev_filled"))
    )
    assert bad.count() == 0
    # gaps exist at this SF, and some are filled (not all leading)
    assert df.where("was_gap AND filled_value IS NOT NULL").count() > 0


def test_sessionize_gap_boundaries(spark):
    """Events of one user sorted by time: the session ordinal increments
    exactly when the gap to the previous event exceeds 30 minutes."""
    from pyspark.sql import Window

    from wordcount_spark.sources.readers import load_table

    ev = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "ts",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            > 30 * 60 * 1_000_000
        ).alias("is_break"),
    )
    expected_sessions = gaps.groupBy("user_id").agg(
        (F.sum(F.col("is_break").cast("long")) + 1).alias("n_sessions")
    )
    got = (
        get_queries()["events_sessionize_gap"](spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.max("session_no").alias("n_sessions"))
    )
    diff = expected_sessions.join(got, "user_id", "full_outer").where(
        expected_sessions["n_sessions"] != got["n_sessions"]
    )
    assert diff.count() == 0


def test_pii_scrub_leaves_no_matches(spark):
    """Re-scrub of scrubbed text must find zero matches — checked by
    rebuilding the scrubbed text (not the md5) inline."""
    from wordcount_spark.operators.queries_llmprep import (
        _EMAIL_RE,
        _LONGID_RE,
        _PHONE_RE,
    )
    from wordcount_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents")
    synth = docs.select(
        F.concat(
            "text",
            F.lit(" user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com 555-867-5309 900100200123"),
        ).alias("text")
    )
    scrubbed = synth.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
                F.lit(_PHONE_RE),
                F.lit("<PHONE>"),
            ),
            F.lit(_LONGID_RE),
            F.lit("<ID>"),
        ).alias("clean")
    )
    residue = scrubbed.where(
        (F.regexp_count("clean", F.lit(_EMAIL_RE)) > 0)
        | (F.regexp_count("clean", F.lit(_PHONE_RE)) > 0)
        | (F.regexp_count("clean", F.lit(_LONGID_RE)) > 0)
    )
    assert residue.count() == 0


def test_hll_rollup_error_bounded(spark):
    """Day estimates from unioned hour sketches must sit within 5% of the
    exact distinct count (HLL_4 default lgK=12 ⇒ ~1.6% RSE; 5% ≈ 3σ)."""
    df = get_queries()["events_hll_rollup"](spark, SF_DIR)
    bad = df.where(
        F.abs(F.col("n_users_est") - F.col("n_users_exact"))
        > 0.05 * F.col("n_users_exact")
    )
    assert df.count() > 0
    assert bad.count() == 0


def test_bpe_merges_match_python_model(spark):
    """The distributed BPE learner must produce the exact merge table an
    independent single-machine Python implementation produces (greedy
    left-to-right application, ties on weight broken by (left, right))."""
    from collections import Counter

    from wordcount_spark.operators.queries_llmprep import _BPE_STEPS
    from wordcount_spark.operators.wordcount import words_from_text
    from wordcount_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents")
    vocab = Counter(
        r["word"] for r in words_from_text(docs.select("text")).collect()
    )
    syms = {w: [list(w), c] for w, c in vocab.items()}

    expected = []
    for step in range(_BPE_STEPS):
        pair_w = Counter()
        for s, c in syms.values():
            for a, b in zip(s, s[1:]):
                pair_w[(a, b)] += c
        if not pair_w:
            break
        # max weight, ties by smallest (left, right)
        (l, r), w = min(pair_w.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, l, r, w))
        for entry in syms.values():
            s = entry[0]
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            entry[0] = out

    got = [
        (r["step"], r["left"], r["right"], r["weight"])
        for r in get_queries()["bpe_learn_merges"](spark, SF_DIR).collect()
    ]
    assert got == expected

    # apply/segment must reproduce the Python model's FINAL segmentation
    # for every vocabulary word (learn and apply share _learn_bpe, but the
    # reference here is fully independent)
    seg = {
        r["word"]: (r["pieces"], r["n_pieces"], r["n_occurrences"])
        for r in get_queries()["bpe_apply_segment"](spark, SF_DIR).collect()
    }
    assert set(seg) == set(syms)
    for w, (s, c) in syms.items():
        assert seg[w] == (" ".join(s), len(s), c), w


def test_pack_sequences_invariants(spark):
    """Packing must conserve tokens: (a) each doc's fragments sum to its
    token count, (b) every sequence except the last is exactly full,
    (c) fragments tile each sequence with no gaps or overlaps."""
    from wordcount_spark.operators.queries_llmprep import PACK_C, _toks

    frags = bounded_cache(get_queries()["llm_pack_sequences"](spark, SF_DIR))

    from wordcount_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(_toks()).alias("n_tok")
    ).where(F.col("n_tok") > 0)
    per_doc = frags.groupBy("doc_id").agg(F.sum("n_toks").alias("got"))
    bad = docs.join(per_doc, "doc_id", "full").where(
        F.coalesce("got", F.lit(-1)) != F.coalesce("n_tok", F.lit(-2))
    )
    assert bad.count() == 0

    per_seq = (
        frags.groupBy("seq_id").agg(F.sum("n_toks").alias("fill")).collect()
    )
    last = max(r.seq_id for r in per_seq)
    for r in per_seq:
        assert r.fill == PACK_C or r.seq_id == last

    # within each sequence, fragments ordered by doc_id are contiguous
    from pyspark.sql import Window

    w = Window.partitionBy("seq_id").orderBy("doc_id")
    gaps = (
        frags.withColumn(
            "expected_off",
            F.coalesce(
                F.lag(F.col("off_in_seq") + F.col("n_toks")).over(w), F.lit(0)
            ),
        )
        .where(F.col("off_in_seq") != F.col("expected_off"))
        .count()
    )
    assert gaps == 0


def test_kmv_rollup_estimator_quality(spark):
    """The KMV estimate must be exact below K and within the standard
    ~1/sqrt(K) relative-error envelope above it — and the test data must
    exercise BOTH paths (else the estimator arm is dead code here).
    Runs at the oracle SF: at sf0.001 every (day, type) group has fewer
    than K distinct users and the estimator arm never fires."""
    from tests.conftest import SF_DIR_ORACLE
    from wordcount_spark.operators.queries_timeseries import (
        _KMV_K,
        events_kmv_rollup,
    )

    rows = events_kmv_rollup(spark, SF_DIR_ORACLE).collect()
    assert rows
    exact_path = estimated_path = 0
    for r in rows:
        if r["n_users_exact"] < _KMV_K:
            exact_path += 1
            assert r["n_users_kmv"] == r["n_users_exact"], r
        else:
            estimated_path += 1
            rel = abs(r["n_users_kmv"] - r["n_users_exact"]) / r["n_users_exact"]
            assert rel <= 3.0 / (_KMV_K ** 0.5), (r, rel)
    assert exact_path and estimated_path, (exact_path, estimated_path)
