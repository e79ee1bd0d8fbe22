"""LLM training-data prep: document chunking into overlapping token
windows, and PII scrubbing (extension surface, SURVEY.md §2.7).

Chunking is the step between curation and tokenization in a training
pipeline: each document becomes ⌈n/stride⌉ overlapping windows of at most
``CHUNK_W`` tokens. Everything is JVM built-ins — split / filter / sequence
/ posexplode / slice — so the whole operator lives inside whole-stage
codegen; output size is input-token-count / stride, embarrassingly
parallel, no shuffle at all (narrow explode).

PII scrubbing is regex redaction (emails, phone numbers, long digit runs)
via ``regexp_replace`` — also narrow, also codegen. The synthetic corpus
contains no PII, so the query *injects* deterministic fake PII derived
from ``doc_id`` (identically in Spark and the DuckDB oracle) before
scrubbing — otherwise the operator would be verified on a no-op. Regexes
stay in the Java-regex ∩ RE2 common subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.functions.text import TOKS_SQL, tokenize
from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table
from wordcount_spark.operators.caching import bounded_cache, bounded_checkpoint
from wordcount_spark.operators.relational import sort_small

#: chunk window size / stride (tokens); stride < size ⇒ overlap
CHUNK_W = 32
CHUNK_S = 16

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_LONGID_RE = "[0-9]{9,}"


def chunk_windows(toks_df: DataFrame) -> DataFrame:
    """(doc_id, toks) → one row per overlapping token window. The single
    source of the chunking expression — the registered query, the property
    test, and composites all call this, so they cannot drift apart."""
    return (
        toks_df.withColumn("n", F.size("toks"))
        .where(F.col("n") > 0)
        .select(
            "doc_id",
            "toks",
            "n",
            F.posexplode(
                F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_S))
            ).alias("chunk_idx", "start_tok"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "start_tok",
            F.least(F.lit(CHUNK_W), F.col("n") - F.col("start_tok")).alias(
                "n_tokens_chunk"
            ),
            F.md5(
                F.array_join(
                    F.slice("toks", F.col("start_tok") + 1, F.lit(CHUNK_W)), " "
                )
            ).alias("chunk_md5"),
        )
    )


@register(
    "text_chunk_windows",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter({TOKS_SQL}, x -> x <> '') AS toks
      FROM documents
    ),
    c AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0)
    SELECT doc_id,
           s.start // {CHUNK_S} AS chunk_idx,
           s.start AS start_tok,
           least({CHUNK_W}, n - s.start) AS n_tokens_chunk,
           md5(array_to_string(
               list_slice(toks, s.start + 1, least(s.start + {CHUNK_W}, n)),
               ' ')) AS chunk_md5
    FROM c, LATERAL (
      SELECT unnest(generate_series(0, n - 1, {CHUNK_S})) AS start
    ) s
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking ({CHUNK_W}-token windows every
    {CHUNK_S}): the final partial window is kept (a trailing remnant is
    real training data). ``posexplode`` gives the window ordinal directly;
    ``slice`` is 1-based with a length arg, the oracle's ``list_slice`` is
    1-based with an inclusive end — both clamped to the token count.

    Scale: narrow posexplode fan-out (one output row per stride) inside
    codegen — no shuffle at all but the output sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    return chunk_windows(
        docs.select("doc_id", tokenize("text").alias("toks"))
    ).orderBy("doc_id", "chunk_idx")


@register(
    "text_pii_scrub",
    f"""
    WITH synth AS (
      SELECT doc_id,
             text
               || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
               || CASE WHEN doc_id % 2 = 0
                       THEN ' call 555-867-5309' ELSE '' END
               || CASE WHEN doc_id % 3 = 0
                       THEN ' account 900100200' || CAST(doc_id AS VARCHAR)
                       ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(text, '{_LONGID_RE}')) AS n_ids,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g'),
                 '{_LONGID_RE}', '<ID>', 'g')) AS scrubbed_md5
    FROM synth
    ORDER BY doc_id
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction with per-class match counts. Scrub order is
    email → phone → long-digit-run so earlier redactions can't create or
    destroy later matches (the placeholders contain no digits). Spark
    ``regexp_replace`` is replace-all by default; DuckDB needs the 'g'
    flag — an easy silent-divergence trap.

    Scale: map-only regex projections in codegen (scan-speed, like the
    quality gate); no shuffle but the output sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit(" call 555-867-5309")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" account 900100200"), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
            F.lit(_PHONE_RE),
            F.lit("<PHONE>"),
        ),
        F.lit(_LONGID_RE),
        F.lit("<ID>"),
    )
    return synth.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_count("text", F.lit(_LONGID_RE)).alias("n_ids"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


@register(
    "chunk_dedup_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter({TOKS_SQL}, x -> x <> '') AS toks
      FROM documents
    ),
    base AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
    exc AS (
      SELECT doc_id + 100000 AS doc_id,
             list_slice(toks, 1, greatest(1, (3 * len(toks)) // 5)) AS toks
      FROM base WHERE doc_id % 7 = 0
    ),
    alld AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
    c AS (SELECT doc_id, toks, len(toks) AS n FROM alld WHERE len(toks) > 0),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(toks, s.start + 1, least(s.start + {CHUNK_W}, n)),
               ' ')) AS h
      FROM c, LATERAL (
        SELECT unnest(generate_series(0, n - 1, {CHUNK_S})) AS start
      ) s
    ),
    owners AS (SELECT h, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1)
    SELECT doc_id, count(*) AS n_chunks,
           count(*) FILTER (nd > 1) AS n_shared,
           CAST(count(*) FILTER (nd > 1) AS DOUBLE) / count(*) AS share_ratio
    FROM chunks JOIN owners USING (h)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def chunk_dedup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplication audit — the containment/excerpt detector a
    training pipeline runs AFTER doc-level dedup (a quoted or truncated
    copy shares its aligned chunk fingerprints with the source even though
    the documents differ). The corpus has no natural copies, so 60%%
    truncations of every 7th doc are injected identically in both engines:
    originals in that set score ~0.6 shared, excerpts ~1.0 minus their
    straddling final chunk, everything else 0.

    Scale: fingerprints group on md5 (uniform shuffle keys, no skew); the
    owner-count join-back is chunk-count sized. Same pattern at 100 TB —
    this is exact-match on 16-byte hashes, never text comparison."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokenize("text").alias("toks")).where(F.size("toks") > 0)
    exc = base.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.slice(
            "toks",
            F.lit(1),
            F.greatest(F.lit(1), F.expr("(3 * size(toks)) div 5")),
        ).alias("toks"),
    )
    alld = base.unionByName(exc).withColumn("n", F.size("toks")).where("n > 0")
    chunks = alld.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_S))
        ).alias("start"),
        "toks",
    ).select(
        "doc_id",
        F.md5(
            F.array_join(F.slice("toks", F.col("start") + 1, F.lit(CHUNK_W)), " ")
        ).alias("h"),
    ).transform(bounded_cache)  # (doc, chunk-hash) grain; the owner-count branch and the
    # join-back both consume it — without the pin the tokenize + window
    # fingerprint lineage runs twice
    owners = chunks.groupBy("h").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    joined = chunks.join(owners, "h")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_if(F.col("nd") > 1).alias("n_shared"),
            (
                F.count_if(F.col("nd") > 1).cast("double") / F.count("*")
            ).alias("share_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "mix_rebalance_to_min",
    """
    WITH c AS (SELECT lang, count(*) AS n_orig FROM documents GROUP BY 1),
    r AS (
      SELECT lang, n_orig,
             CAST((SELECT min(n_orig) FROM c) AS DOUBLE) / n_orig AS rate
      FROM c
    ),
    kept AS (
      SELECT d.lang
      FROM documents d JOIN r USING (lang)
      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
            % 10000 < rate * 10000
    )
    SELECT r.lang, r.n_orig, r.rate, count(kept.lang) AS n_kept
    FROM r LEFT JOIN kept USING (lang)
    GROUP BY r.lang, r.n_orig, r.rate
    ORDER BY r.lang
    """,
)
def mix_rebalance_to_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing: downsample every language stratum to
    the size of the smallest one, with per-stratum rates computed FROM the
    data (rate = min_count / stratum_count) rather than configured — the
    adaptive counterpart of ``sample_stratified_hash``. Membership stays a
    pure hash of doc_id, so re-runs, retries, and the oracle select the
    same rows.

    Scale: one tiny counts aggregate folded into the O(langs) rate table
    (``min_stratum_rates``), broadcast back onto a second scan whose
    per-row hash decision is counted per stratum — the corpus is never
    shuffled, only its per-language partial counts. Every stratum with a
    document keeps its row (``n_kept`` counts the sampled ones, possibly
    0), so no join back onto the rates is needed. The md5 bucket has 10k
    granularity; realized n_kept therefore tracks rate*n_orig only
    statistically (binomial), which is what production mixture sampling
    does too. The O(langs) result is sorted in one task (``sort_small``)."""
    docs = load_table(spark, sf_dir, "documents")
    rates = min_stratum_rates(docs, "n_orig")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10
    ).cast("long") % 10000
    # null-safe so a NULL-lang stratum keeps its row, as in the oracle's
    # LEFT JOIN, while its docs stay out of `kept` (the oracle's inner
    # join drops them)
    kept = docs["lang"].isNotNull() & (bucket < F.col("rate") * 10000)
    counted = (
        docs.join(F.broadcast(rates), docs["lang"].eqNullSafe(rates["lang"]))
        .groupBy(rates["lang"], "n_orig", "rate")
        .agg(F.count(F.when(kept, 1)).alias("n_kept"))
    )
    return sort_small(counted, "lang")


def min_stratum_rates(df: DataFrame, n: str) -> DataFrame:
    """(lang, ``n``, rate) per language stratum of ``df``: ``n`` rows in
    the stratum, rate = (smallest stratum's ``n``) / ``n``. One global
    aggregate over the O(langs) counts carries the minimum and every
    (lang, n) pair, exploded back into rows, so the counts are read once,
    with no cache pin and no cross join of a 1-row minimum. (Not an
    unpartitioned window either: tests/test_plan_smells.py bans
    WindowExec without a partition spec outright.)"""
    counts = df.groupBy("lang").agg(F.count("*").alias(n))
    return (
        counts.agg(
            F.min(n).alias("min_n"),
            F.collect_list(F.struct("lang", n)).alias("strata"),
        )
        .select("min_n", F.explode("strata").alias("s"))
        .select(
            "s.lang",
            f"s.{n}",
            (F.col("min_n").cast("double") / F.col(f"s.{n}")).alias("rate"),
        )
    )


def _pretrain_quality_docs(docs: DataFrame) -> DataFrame:
    """Stage 1 of the pretrain composite: tokenized + content-hashed docs
    with the narrow quality gate applied BEFORE any shuffle."""
    return docs.select(
        "doc_id",
        "lang",
        tokenize("text").alias("toks"),
        F.unhex(F.md5("text")).alias("text_md5"),
    ).where(F.size("toks") >= 20)


def pretrain_survivor_ids_plan(q: DataFrame) -> DataFrame:
    """Stage 2, PRE-checkpoint: survivor = min doc_id per content hash,
    carrying ITS OWN lang (min_by ≡ the old window's rn=1 row) — a
    ~30-byte (hash, id, lang) projection exchange; token arrays never
    enter it. Split out of the query body (ADVICE r6) because the query
    ``localCheckpoint()``s this frame, which truncates lineage and hides
    the sub-plan from the registry-wide enforcement sweeps — the tests
    inspect THIS function's plan directly, so a future text/token-array
    shuffle introduced upstream of the checkpoint stays visible to
    test_text_never_shuffles / the shuffle-budget checks."""
    return (
        q.select("text_md5", "doc_id", "lang")
        .groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
        )
        .select("doc_id", "lang")
    )


@register(
    "pipeline_pretrain_full",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter({TOKS_SQL}, x -> x <> '') AS toks,
             unhex(md5(text)) AS text_md5
      FROM documents
    ),
    -- 1. quality gate: drop short docs BEFORE anything shuffles
    q AS (SELECT * FROM t WHERE len(toks) >= 20),
    -- 2. exact doc dedup: smallest doc_id per content hash survives
    survivors AS (
      SELECT doc_id, lang, toks
      FROM (SELECT *, row_number() OVER (PARTITION BY text_md5
                                         ORDER BY doc_id) AS rn FROM q)
      WHERE rn = 1
    ),
    -- 3. adaptive mixture: downsample each lang stratum to the smallest
    c AS (SELECT lang, count(*) AS n FROM survivors GROUP BY 1),
    r AS (SELECT lang, CAST((SELECT min(n) FROM c) AS DOUBLE) / n AS rate FROM c),
    mixed AS (
      SELECT s.doc_id, s.lang, s.toks
      FROM survivors s JOIN r USING (lang)
      WHERE ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 7))::BIGINT
            % 10000 < rate * 10000
    ),
    -- 4. chunk into overlapping token windows
    chunks AS (
      SELECT doc_id, lang,
             least({CHUNK_W}, len(toks) - s.start) AS n_tok,
             unhex(md5(array_to_string(
               list_slice(toks, s.start + 1,
                          least(s.start + {CHUNK_W}, len(toks))), ' '))) AS h,
             s.start // {CHUNK_S} AS chunk_idx
      FROM mixed, LATERAL (
        SELECT unnest(generate_series(0, len(toks) - 1, {CHUNK_S})) AS start
      ) s
    ),
    -- 5. chunk-level dedup: first (doc_id, chunk_idx) per fingerprint
    uchunks AS (
      SELECT doc_id, lang, n_tok
      FROM (SELECT *, row_number() OVER (PARTITION BY h
                                         ORDER BY doc_id, chunk_idx) AS rn
            FROM chunks)
      WHERE rn = 1
    )
    -- 6. leakage-free split by doc hash, then the corpus report
    SELECT lang,
           CASE WHEN ('0x' || substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                     % 10 = 0
                THEN 'holdout' ELSE 'train' END AS split,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_chunks,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM uchunks
    GROUP BY 1, 2 ORDER BY lang, split
    """,
)
def pipeline_pretrain_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-data flow as ONE composed DataFrame plan:
    quality gate → exact doc dedup → adaptive mixture rebalance → token
    chunking → chunk-fingerprint dedup → leakage-free train/holdout split
    → per-(lang, split) corpus report. Every stage is an operator that
    also exists (and is oracle-checked) standalone; this entry checks the
    COMPOSITION end to end.

    Stage order is the scale order, and the TOKEN ARRAYS NEVER SHUFFLE
    (r5 rewrite — the r4 shape deduped with a window over text_md5 that
    carried every survivor's full token array through the content-hash
    exchange, the dominant shuffle at 200x in tools/scale_check.py):
    the quality gate is a narrow filter before any shuffle; doc
    survivorship is a groupBy(md5).agg(min_by) over a ~30-byte
    (hash, id, lang) projection; mixture sampling is decided on that
    narrow id frame; chunking runs pre-dedup as narrow per-row work over
    every quality doc and the sampled-survivor filter is a doc-keyed
    LEFT SEMI join of the ~60-byte chunk-fingerprint rows (duplicates
    re-chunk map-side — at any realistic dup rate far cheaper than
    shipping token arrays through an exchange, and the corpus-sized
    frame is deliberately NOT cached: recompute is the scale answer);
    both dedups key on md5 (16 bytes, uniform) rather than text; the
    split is a pure hash of doc_id (salted differently from the sampling
    hash so the two decisions are independent), so no shuffle — chunks
    of one doc always land one side. The narrow survivor-id table is
    eagerly persisted between stages (localCheckpoint — see the inline
    note) so concurrent branch scheduling cannot recompute it; its
    per-language rates are one global aggregate over O(langs) counts
    (``min_stratum_rates``), broadcast onto it by lang; the O(langs × 2)
    report is sorted in one task (``sort_small``)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    q = _pretrain_quality_docs(docs)
    # survivor = min doc_id per content hash, carrying ITS OWN lang —
    # PERSISTED between stages via localCheckpoint (VERDICT r5 item 2):
    # the rates branch (computed through a broadcast exchange on a
    # concurrent driver thread) and the sampled-id semi-join both consume
    # it, and a merely-CACHED frame raced by two concurrent stages inside
    # one action is recomputed — scale_check measured this exact stage
    # twice (~22 MB exchange each) at 200x. The frame is NARROW: O(docs)
    # (id, lang) rows, never token arrays, so the eager materialization
    # is cheap at every scale (at 100 TB a production pipeline persists
    # this table to reliable storage between stages anyway; local
    # checkpoint is the single-job equivalent). The PRE-checkpoint plan
    # lives in `pretrain_survivor_ids_plan` so the registry-wide
    # enforcement tests can still see it (ADVICE r6: localCheckpoint
    # truncates lineage, which would otherwise hide this sub-plan from
    # test_text_never_shuffles and the shuffle-budget checks).
    survivor_ids = bounded_checkpoint(pretrain_survivor_ids_plan(q))
    rates = min_stratum_rates(survivor_ids, "n").select("lang", "rate")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        % 10000
    )
    mixed_ids = survivor_ids.join(F.broadcast(rates), "lang").where(
        bucket < F.col("rate") * 10000
    ).select("doc_id")
    chunks = q.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n"),
        "toks",
        F.posexplode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_S))
        ).alias("chunk_idx", "start"),
    ).select(
        "doc_id",
        "lang",
        "chunk_idx",
        F.least(F.lit(CHUNK_W), F.col("n") - F.col("start")).alias("n_tok"),
        F.unhex(
            F.md5(
                F.array_join(F.slice("toks", F.col("start") + 1, F.lit(CHUNK_W)), " ")
            )
        ).alias("h"),
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
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    report = (
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
    return sort_small(report, "lang", "split")


_BPE_STEPS = 5


def _bpe_sql(final: str) -> str:
    """DuckDB rendering of the 5-step BPE trainer, UNROLLED (fixed
    _BPE_STEPS makes the data-dependent loop a bounded CTE chain, the
    same move as the unrolled PageRank oracle). The Spark side's greedy
    left-to-right merge fold is equivalent to: mark matching positions,
    group consecutive positions into runs, merge the even offsets of each
    run (overlaps only occur when left==right, argued in the docstring
    of ``bpe_learn_merges``); the rebuild keeps a position unless it is
    the second half of a merge. Ties on the winning pair break
    (weight DESC, left, right) on both engines. Precondition (same as the
    Spark side never hitting its early break): ≥1 adjacent pair exists at
    every step — holds whenever any ≥(steps+1)-char word survives the
    normalizer."""
    from wordcount_spark.functions.text import normalize_word_sql

    norm = normalize_word_sql("tok")
    blocks = [
        f"""
    toks AS (
      SELECT unnest(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+')) AS tok
      FROM documents
    ),
    words AS (SELECT {norm} AS word FROM toks WHERE tok <> ''),
    vocab AS (
      SELECT word, count(*) AS wt FROM words
      WHERE length(word) > 0 GROUP BY word
    ),
    s0 AS MATERIALIZED (
      SELECT word, wt,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, i::BIGINT, 1)) AS s
      FROM vocab
    )"""
    ]
    for k in range(1, _BPE_STEPS + 1):
        p = k - 1
        blocks.append(f"""
    p{k} AS MATERIALIZED (
      SELECT word, wt, s, unnest(range(1, len(s))) AS i FROM s{p}
    ),
    top{k} AS (
      SELECT l, r, l || r AS lr, CAST(w AS BIGINT) AS w FROM (
        SELECT s[i] AS l, s[i+1] AS r, sum(wt) AS w
        FROM p{k} GROUP BY 1, 2
      ) ORDER BY w DESC, l, r LIMIT 1
    ),
    mg{k} AS MATERIALIZED (
      SELECT word, i FROM (
        SELECT word, i,
               (i - min(i) OVER (PARTITION BY word, g)) % 2 AS par
        FROM (
          SELECT word, i,
                 i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
          FROM p{k}, top{k} t
          WHERE s[i] = t.l AND s[i+1] = t.r
        )
      ) WHERE par = 0
    ),
    s{k} AS MATERIALIZED (
      SELECT q.word, q.wt,
             list(CASE WHEN m.i IS NOT NULL THEN t.lr
                       ELSE q.s[q.pos] END ORDER BY q.pos) AS s
      FROM (SELECT word, wt, s, unnest(range(1, len(s) + 1)) AS pos
            FROM s{p}) q
      LEFT JOIN mg{k} m ON m.word = q.word AND m.i = q.pos
      LEFT JOIN mg{k} m2 ON m2.word = q.word AND m2.i = q.pos - 1
      CROSS JOIN top{k} t
      WHERE m2.i IS NULL
      GROUP BY q.word, q.wt
    )""")
    return "WITH " + ",".join(blocks) + final


_BPE_LEARN_FINAL = "\n    " + "\n    UNION ALL ".join(
    f'SELECT CAST({k - 1} AS INTEGER) AS step, l AS "left", r AS "right", '
    f"w AS weight FROM top{k}"
    for k in range(1, _BPE_STEPS + 1)
) + "\n    ORDER BY step"

_BPE_APPLY_FINAL = f"""
    SELECT word, wt AS n_occurrences,
           array_to_string(s, ' ') AS pieces,
           CAST(len(s) AS BIGINT) AS n_pieces,
           CAST(len(s) * wt AS BIGINT) AS corpus_pieces
    FROM s{_BPE_STEPS} ORDER BY word
"""


# STRONG oracle (upgraded from rows-only in r4): the fixed-step trainer
# unrolls into SQL; greedy merge application = runs-parity windows.
@register("bpe_learn_merges", _bpe_sql(_BPE_LEARN_FINAL), eager=True)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction (the tokenizer-training step of
    an LLM data pipeline): K iterations of count-adjacent-symbol-pairs →
    merge the most frequent pair everywhere.

    The classic trick makes this cheap at any corpus size: BPE statistics
    live on the DISTINCT-WORD table weighted by frequency, so the one
    full-corpus operation is the word count (the flagship pipeline); every
    merge iteration then runs over vocabulary-sized data. Pair counting is
    a posexplode + hash agg; the winning pair is a 1-row collect (scalar
    decision, like the k-means centroid pull); merge application is an
    ``aggregate`` fold over each word's symbol array (greedy left-to-right,
    non-overlapping), JVM-side. Ties break on (weight DESC, left, right) —
    total order, both engines deterministic.

    Returns the learned merge table (step, left, right, weight).

    Scale: see the paragraph above — corpus-sized work is ONE word count;
    each merge iteration is vocabulary-sized with an O(1)-row collect
    (the scalar pair decision), lineage truncated per step.
    """
    merges, _ = _learn_bpe(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step: int, left: string, right: string, weight: long"
    ).orderBy("step")


def _learn_bpe(spark: SparkSession, sf_dir: str):
    """Shared BPE trainer: returns (merge list, final segmented vocabulary
    frame (word, wt, s)) — the learner query and the apply/segment query
    both call this, so the segmentation can never drift from the merges."""
    from wordcount_spark.operators.wordcount import words_from_text

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        words_from_text(docs.select("text"))
        .groupBy("word")
        .agg(F.count("*").alias("wt"))
    )
    syms = vocab.select(
        "word",
        "wt",
        F.filter(F.split("word", ""), lambda c: c != F.lit("")).alias("s"),
    ).localCheckpoint(eager=True)

    merges = []
    for step in range(_BPE_STEPS):
        pairs = syms.select(
            "wt",
            F.explode(
                F.arrays_zip(
                    F.slice("s", 1, F.size("s") - 1),
                    F.slice("s", 2, F.size("s") - 1),
                )
            ).alias("p"),
        ).select("wt", F.col("p.0").alias("l"), F.col("p.1").alias("r"))
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("wt").alias("w"))
            .orderBy(F.desc("w"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, w = top[0]["l"], top[0]["r"], int(top[0]["w"])
        merges.append((step, l, r, w))
        lr = l + r
        syms = syms.select(
            "word",
            "wt",
            F.aggregate(
                "s",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(l))
                    & (x == F.lit(r)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(lr))
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("s"),
        ).localCheckpoint(eager=True)
    return merges, syms


# STRONG oracle (upgraded from rows-only in r4): the same unrolled SQL
# chain segments the vocabulary; the independent Python BPE differential
# (tests/test_timeseries_llmprep.py) remains as the third implementation.
@register("bpe_apply_segment", _bpe_sql(_BPE_APPLY_FINAL), eager=True)
def bpe_apply_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION, completing the BPE story (learn → apply →
    count): segment every distinct corpus word with the learned merges and
    report its piece sequence — plus the corpus-level compression this
    vocabulary buys (token count per word × frequency is the downstream
    dataloader's cost model).

    Scale: segmentation runs on the frequency-weighted DISTINCT-WORD
    table (the same Zipf trick as the trainer — only the word count ever
    touches the full corpus); per-word work is the same JVM `aggregate`
    fold the trainer iterates, applied once per learned merge. Output is
    vocabulary-sized."""
    _, syms = _learn_bpe(spark, sf_dir)
    return syms.select(
        "word",
        F.col("wt").alias("n_occurrences"),
        F.array_join("s", " ").alias("pieces"),
        F.size("s").alias("n_pieces"),
        (F.size("s") * F.col("wt")).cast("long").alias("corpus_pieces"),
    ).orderBy("word")


#: context length (tokens) of one packed training sequence
PACK_C = 512

_PACK_SQL = f"""
    WITH d AS (
      SELECT doc_id,
             len(list_filter({TOKS_SQL}, x -> x <> '')) AS n_tok
      FROM documents
    ),
    spans AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id) - n_tok AS BIGINT) AS s
      FROM d WHERE n_tok > 0
    ),
    frags AS (
      SELECT doc_id, n_tok, s,
             unnest(range(s // {PACK_C}, (s + n_tok - 1) // {PACK_C} + 1))
               AS seq_id
      FROM spans
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(greatest(s, seq_id * {PACK_C}) - seq_id * {PACK_C} AS BIGINT)
             AS off_in_seq,
           CAST(least(s + n_tok, (seq_id + 1) * {PACK_C})
                - greatest(s, seq_id * {PACK_C}) AS BIGINT) AS n_toks
    FROM frags
    ORDER BY seq_id, doc_id
"""


def pack_fragments(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → packed-sequence fragments (see llm_pack_sequences
    for semantics + scale notes). Shared by the registered query and the
    scale check so the two can't drift."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    d = docs.select("doc_id", F.size(tokenize("text")).alias("n_tok")).where(
        F.col("n_tok") > 0
    )
    npart = spark.sparkContext.defaultParallelism
    rp = (
        d.repartitionByRange(npart, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {r["pid"]: r["tot"] for r in rp.groupBy("pid").agg(F.sum("n_tok").alias("tot")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_col = F.element_at(
        F.create_map(
            *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
        ),
        F.col("pid"),
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = F.lit(PACK_C).cast("long")
    spans = rp.withColumn(
        "s", off_col + F.sum("n_tok").over(w) - F.col("n_tok")
    )
    frags = spans.withColumn(
        "seq_id",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / c),
                F.floor((F.col("s") + F.col("n_tok") - 1) / c),
            )
        ),
    )
    lo = F.greatest(F.col("s"), F.col("seq_id") * c)
    hi = F.least(F.col("s") + F.col("n_tok"), (F.col("seq_id") + 1) * c)
    return frags.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (lo - F.col("seq_id") * c).cast("long").alias("off_in_seq"),
        (hi - lo).cast("long").alias("n_toks"),
    )


@register("llm_pack_sequences", _PACK_SQL, eager=True)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the concat-and-chop step between tokenization
    and training: every document's token span lands at its running offset
    in one corpus-wide stream (doc_id order), and the stream is chopped
    into fixed PACK_C-token training sequences. Output = one row per
    (document × sequence) fragment: which sequence, at what offset, how
    many tokens — exactly the index a dataloader needs to assemble packed
    batches with no padding.

    Scale: the naive formulation is a GLOBAL ordered window (cumulative
    token sum over doc_id) — a single-partition sort at 100 TB, the
    SURVEY §7 risk-2 trap. Instead this runs the textbook two-phase
    distributed prefix sum: range-partition by doc_id, cumsum WITHIN each
    partition (parallel windows), collect only the P per-partition totals
    (bytes, not rows) to the driver, and add each partition's exclusive
    offset back as a broadcast map literal. localCheckpoint pins the
    range partitioning so the totals job and the main job see identical
    placement. The chop itself is a narrow explode (≤2 fragments per doc
    unless a doc spans many sequences) — no further shuffle before the
    output sort. eager=True: the P-row totals collect runs at plan-build
    time (the oracle still pins exact values).
    """
    docs = load_table(spark, sf_dir, "documents")
    return pack_fragments(docs).orderBy("seq_id", "doc_id")


@register(
    "mix_epoch_repeats",
    """
    WITH counts AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
    mx AS (SELECT max(c) AS m FROM counts),
    w AS (SELECT source,
                 least(CAST(4.0 AS DOUBLE), CAST(m AS DOUBLE) / c) AS wt
          FROM counts, mx),
    d AS (
      SELECT doc_id, dd.source,
             CAST(floor(wt) AS BIGINT) AS base,
             CAST(floor((wt - floor(wt)) * 1000) AS BIGINT) AS thr,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 1000
               AS b
      FROM documents dd JOIN w USING (source)
    )
    SELECT doc_id, source,
           base + CASE WHEN b < thr THEN 1 ELSE 0 END AS n_repeats
    FROM d ORDER BY doc_id
    """,
)
def mix_epoch_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up-sampling side of mixture balancing (the complement of
    ``mix_rebalance_to_min``): every source is repeated toward the largest
    source's size with a FRACTIONAL epoch count — weight w = min(4,
    max_count/count) gives each doc floor(w) guaranteed repeats plus one
    more for the deterministic md5-bucket fraction of docs, so the
    expected per-source total lands on w × count without any RNG. This is
    the "repeat high-quality domains 2.7 epochs" knob of a pretraining
    mixture, capped at 4 epochs (unbounded repetition of a tiny source is
    a memorization bug, not a recipe).

    Scale: per-source counts are a group-count (sources ≪ docs →
    broadcast back); the repeat assignment is then a narrow map — pure
    function of (doc_id, source weight) — so re-runs, retries, and the
    oracle agree row-for-row. The downstream dataloader (or an explode on
    n_repeats) materializes the copies; shipping counts instead of
    exploded rows keeps the shuffle at one row per doc. The fractional
    threshold uses floor(frac×1000) (not round) — round() half-breaking
    differs between engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("c"))
    mx = counts.agg(F.max("c").alias("m"))
    w = counts.crossJoin(F.broadcast(mx)).select(
        "source",
        F.least(
            F.lit(4.0), F.col("m").cast("double") / F.col("c")
        ).alias("wt"),
    )
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        % 1000
    )
    thr = F.floor((F.col("wt") - F.floor("wt")) * 1000)
    return (
        docs.join(F.broadcast(w), "source")
        .select(
            "doc_id",
            "source",
            (
                F.floor("wt")
                + F.when(b < thr, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_repeats"),
        )
        .orderBy("doc_id")
    )


@register(
    "mix_temperature_weights",
    """
    WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    z AS (SELECT CAST(sum(sqrt(CAST(n_docs AS DOUBLE))) AS DOUBLE) AS z
          FROM counts)
    SELECT lang, n_docs,
           round(sqrt(CAST(n_docs AS DOUBLE)) / z, 6) AS sample_weight,
           round(sqrt(CAST(n_docs AS DOUBLE)) / z
                 / (CAST(n_docs AS DOUBLE)
                    / (SELECT sum(CAST(n_docs AS DOUBLE)) FROM counts)), 6)
             AS boost_vs_natural
    FROM counts CROSS JOIN z
    ORDER BY lang
    """,
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights, α = 0.5: per-language sampling
    weight ∝ n^α / Σ n^α — the multilingual up-sampling rule (low-resource
    languages get boosted, high-resource damped, the exponent written as
    sqrt so both engines compute the identical double). `boost_vs_natural`
    is the weight relative to proportional sampling — the knob a recipe
    reviewer actually reads (>1 = boosted).

    Scale: a group-count plus scalar arithmetic over a languages-sized
    frame — nothing touches rows after the one counting shuffle. round(6)
    absorbs the engines' different summation orders over the handful of
    sqrt terms. Complements `mix_rebalance_to_min` (hard equalization)
    and `mix_epoch_repeats` (integer repeats): temperature is the
    continuous dial between natural and uniform.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    sq = F.sqrt(F.col("n_docs").cast("double"))
    z = counts.agg(
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).cast("double").alias("z"),
        F.sum(F.col("n_docs").cast("double")).alias("tot"),
    )
    return (
        counts.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            F.round(sq / F.col("z"), 6).alias("sample_weight"),
            F.round(
                (sq / F.col("z"))
                / (F.col("n_docs").cast("double") / F.col("tot")),
                6,
            ).alias("boost_vs_natural"),
        )
        .orderBy("lang")
    )


def _register_curriculum():
    """Closure: the oracle composes the SHARED unigram-score SQL chain."""
    from wordcount_spark.operators.queries_textstats import unigram_score_sql

    oracle = f"""
    WITH {unigram_score_sql('lower(text)')},
    scored_r AS (SELECT doc_id, round(score, 4) AS score FROM scored),
    cuts AS (
      SELECT quantile_cont(score, 0.25) AS c1,
             quantile_cont(score, 0.5) AS c2,
             quantile_cont(score, 0.75) AS c3
      FROM scored_r
    )
    SELECT 1 + CAST(score > c1 AS INT) + CAST(score > c2 AS INT)
             + CAST(score > c3 AS INT) AS bucket,
           count(*) AS n_docs,
           min(score) AS min_score,
           max(score) AS max_score
    FROM scored_r CROSS JOIN cuts
    GROUP BY bucket ORDER BY bucket
    """

    @register("curriculum_quality_buckets", oracle)
    def curriculum_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Curriculum carving: documents scored by the unigram-LM quality
        signal (ln N − avg ln c, via the SHARED unigram_logprob_scores
        helper, lowercased variant) and cut into quartile buckets —
        bucket 1 = most-typical text first, bucket 4 = rare-token tail
        last, the easy→hard schedule a curriculum dataloader consumes.
        Output is the per-bucket audit (counts + score ranges).

        Scale: the bucket assignment is the TWO-PASS quantile cut, not a
        global ntile window (the one-partition-sort trap, SURVEY §7 risk
        2): pass 1 computes three exact interpolated percentiles (one
        tiny aggregate; swap in approx_percentile at extreme doc counts),
        pass 2 is a narrow per-row comparison against the broadcast cut
        points — no global sort anywhere. Spark ``percentile`` and DuckDB
        ``quantile_cont`` share the interpolation definition (the
        agg_percentiles precedent), so the cut points hash-match; scores
        are rounded to 4dp BEFORE the cuts so bucket membership is
        engine-stable (ln() ulp drift cannot flip a comparison).
        """
        from wordcount_spark.operators.queries_textstats import (
            unigram_logprob_scores,
        )

        docs = load_table(spark, sf_dir, "documents")
        # round(4) BEFORE the percentile cuts and bucket comparisons, not
        # just at output: the raw score is ln-derived (engine-libm +
        # float-sum-order ulp drift), and a doc within an ulp of a cut
        # would land in different buckets per engine. Rounding first makes
        # the cut comparison itself engine-stable (same rule as
        # text_unigram_logprob).
        scored = unigram_logprob_scores(docs, lowercase=True).select(
            "doc_id", F.round("score", 4).alias("score")
        )
        cuts = scored.agg(
            F.expr("percentile(score, 0.25)").alias("c1"),
            F.expr("percentile(score, 0.5)").alias("c2"),
            F.expr("percentile(score, 0.75)").alias("c3"),
        )
        bucket = (
            F.lit(1)
            + (F.col("score") > F.col("c1")).cast("int")
            + (F.col("score") > F.col("c2")).cast("int")
            + (F.col("score") > F.col("c3")).cast("int")
        )
        return (
            scored.crossJoin(F.broadcast(cuts))
            .groupBy(bucket.alias("bucket"))
            .agg(
                F.count("*").alias("n_docs"),
                F.min("score").alias("min_score"),
                F.max("score").alias("max_score"),
            )
            .orderBy("bucket")
        )


_register_curriculum()


BUDGET_FRAC = 0.6  # token budget as a fraction of the corpus total


@register(
    "mix_token_budget_waterfill",
    f"""
    WITH per_source AS (
      SELECT source,
             CAST(sum(len(list_filter({{toks}}, x -> x <> ''))) AS BIGINT) AS n
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(floor({BUDGET_FRAC} * sum(n)) AS BIGINT) AS budget,
             count(*) AS m
      FROM per_source
    ),
    ordered AS (
      SELECT source, n,
             row_number() OVER w AS rn,
             coalesce(sum(n) OVER (ORDER BY n, source
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS prefix_prev
      FROM per_source
      WINDOW w AS (ORDER BY n, source)
    ),
    lvl AS (
      SELECT min(rn) AS k_star
      FROM ordered, tot
      WHERE CAST(budget - prefix_prev AS DOUBLE) / (m - rn + 1) <= n
    ),
    level AS (
      SELECT CAST(floor(CAST(budget - prefix_prev AS DOUBLE) / (m - rn + 1)) AS BIGINT) AS cap
      FROM ordered, tot, lvl WHERE rn = k_star
    )
    SELECT o.source, o.n AS n_tokens,
           CASE WHEN l.k_star IS NULL THEN o.n
                WHEN o.rn < l.k_star THEN o.n
                ELSE least(o.n, lv.cap) END AS alloc_tokens,
           CASE WHEN l.k_star IS NULL THEN TRUE ELSE o.rn < l.k_star END AS fully_kept
    FROM ordered o
    LEFT JOIN lvl l ON TRUE
    LEFT JOIN level lv ON TRUE
    ORDER BY o.source
    """.format(toks=TOKS_SQL),
)
def mix_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources: given a
    budget of floor(0.6 × total) tokens, small sources are kept whole and
    large sources are capped at a common level L chosen so the
    allocations sum to (just under) the budget — the max-min-fair mixture
    a pretraining run uses to stop one crawl from swallowing the budget.

    The level is found in CLOSED FORM with prefix sums (sort sources by
    size; the first rank where the per-remaining-source share drops to or
    below that source's size fixes L) — no iteration, no driver loop.
    Integer token counts everywhere; the one division is computed from
    identical integers on both engines, and the cap is floor()'d (repo
    threshold rule), so allocations are engine-exact.

    Scale: per-source counts are ONE corpus aggregation; everything after
    runs on the O(sources) frame — the global windows (ordering + prefix
    sum) are over that tiny frame, never the corpus (allowlisted in
    tests/test_plan_smells.py::GLOBAL_WINDOW_OK with this justification).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(tokenize("text"))).cast("long").alias("n")
    )
    # O(sources) frame from here on
    per_source = bounded_cache(per_source)
    tot = per_source.agg(
        F.floor(F.lit(BUDGET_FRAC) * F.sum("n")).cast("long").alias("budget"),
        F.count("*").alias("m"),
    )
    w = Window.orderBy("n", "source")
    ordered = per_source.select(
        "source",
        "n",
        F.row_number().over(w).alias("rn"),
        F.coalesce(
            F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("prefix_prev"),
    ).crossJoin(F.broadcast(tot))
    share = (F.col("budget") - F.col("prefix_prev")).cast("double") / (
        F.col("m") - F.col("rn") + 1
    )
    lvl = ordered.where(share <= F.col("n")).agg(F.min("rn").alias("k_star"))
    level = (
        ordered.join(F.broadcast(lvl), F.col("rn") == F.col("k_star"))
        .select(F.floor(share).cast("long").alias("cap"))
    )
    # `level` mirrors the oracle's LEFT JOIN ... ON TRUE: if no rank ever
    # satisfies the level condition (k_star NULL — only possible if
    # BUDGET_FRAC were raised to >= 1), `level` is EMPTY; a cross join
    # would annihilate every row while the oracle keeps them fully kept.
    # lvl itself is a global agg — always exactly one row, cross join safe.
    return (
        ordered.crossJoin(F.broadcast(lvl))
        .join(F.broadcast(level), F.lit(True), "left")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            F.when(F.col("k_star").isNull() | (F.col("rn") < F.col("k_star")), F.col("n"))
            .otherwise(F.least(F.col("n"), F.col("cap")))
            .alias("alloc_tokens"),
            F.when(F.col("k_star").isNull(), F.lit(True))
            .otherwise(F.col("rn") < F.col("k_star"))
            .alias("fully_kept"),
        )
        .orderBy("source")
    )


#: DSIR-style importance resampling (public: Xie et al. 2023, "Data
#: Selection for Language Models via Importance Resampling"): score every
#: document by its log-likelihood ratio under a TARGET unigram model vs
#: the SOURCE (whole-corpus) unigram model, keep the target-like docs.
DSIR_TARGET_LANG = "en"


def _register_dsir():
    from wordcount_spark.operators.relational import dbl

    oracle = f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(list_filter({TOKS_SQL}, x -> x <> '')) AS tok
      FROM documents
    ),
    src AS (SELECT tok, count(*) AS c_s FROM toks GROUP BY tok),
    tgt AS (SELECT tok, count(*) AS c_t FROM toks
            WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY tok),
    tots AS (
      SELECT (SELECT count(*) FROM toks) AS n_s,
             (SELECT count(*) FROM toks WHERE lang = '{DSIR_TARGET_LANG}') AS n_t,
             (SELECT count(*) FROM src) AS v
    ),
    w AS (
      SELECT src.tok,
             CAST(round(ln(
               CAST((coalesce(c_t, 0) + 1) AS DOUBLE) * (n_s + v)
               / ((c_s + 1) * (n_t + v))
             ), 4) AS DECIMAL(18,4)) AS lw
      FROM src LEFT JOIN tgt USING (tok), tots
    ),
    scored AS (
      SELECT t.doc_id, sum(w.lw) AS s, count(*) AS n_tokens
      FROM toks t JOIN w ON t.tok = w.tok
      GROUP BY t.doc_id
    )
    SELECT d.doc_id, d.lang,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(s.s, 0) AS DOUBLE) AS dsir_score,
           CASE WHEN CAST(coalesce(s.s, 0) AS DOUBLE) > 0.0 THEN 1 ELSE 0 END AS keep
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY d.doc_id
    """

    @register("mix_importance_resample", oracle)
    def mix_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
        """DSIR-style data selection: per-token log importance weight
        ln(p_target(tok) / p_source(tok)) under add-1-smoothed unigram
        models (target = the '{en}' subcorpus, source = everything), doc
        score = sum of its tokens' weights, keep docs that look more like
        the target than the background. This is the importance-resampling
        selector a pretraining mixture uses to up-weight a high-quality
        or in-domain slice without a learned classifier.

        Engine parity: ONE ln per vocabulary word over exact integer
        counts, rounded to 4dp (repo ln rule) and summed as exact
        DECIMAL(18,4) — doc scores are order-independent and identical
        across engines; the keep cut compares the exact decimal sum cast
        to double against 0.

        Scale: two corpus-token aggregations (source + target counts,
        shareable with the unigram-model pipelines), an O(vocab) weight
        table (totals n_s, n_t, v broadcast on as one row), then one
        token⋈weight join re-aggregated per doc — the weight table
        carries NO broadcast hint (vocab grows with the corpus; the
        engine broadcasts it while small). A cross join's size estimate
        is a product, so the final doc join plans as sort-merge until
        AQE sees the real scores and broadcasts them. The smoothed
        weight for never-in-target tokens is ln((n_s+v)/((c_s+1)(n_t+v)))
        via the LEFT JOIN's coalesce, exactly as in the SQL."""
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id", "lang", F.explode(tokenize("text")).alias("tok")
        )
        # cached: source counts, target counts, and the scoring join all
        # derive from this exploded frame
        toks = bounded_cache(toks)
        src = toks.groupBy("tok").agg(F.count("*").alias("c_s"))
        tgt = (
            toks.where(F.col("lang") == DSIR_TARGET_LANG)
            .groupBy("tok")
            .agg(F.count("*").alias("c_t"))
        )
        # the oracle's `tots` CTE
        tots = toks.agg(
            F.count("*").alias("n_s"),
            F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias("n_t"),
        ).crossJoin(src.agg(F.count("*").alias("v")))
        w = src.join(tgt, "tok", "left").crossJoin(F.broadcast(tots)).select(
            "tok",
            F.round(
                F.log(
                    (F.coalesce("c_t", F.lit(0)) + 1).cast("double")
                    * (F.col("n_s") + F.col("v")).cast("double")
                    / ((F.col("c_s") + 1) * (F.col("n_t") + F.col("v")).cast("double"))
                ),
                4,
            )
            .cast("decimal(18,4)")
            .alias("lw"),
        )
        scored = (
            toks.join(w, "tok")
            .groupBy("doc_id")
            .agg(F.sum("lw").alias("s"), F.count("*").alias("n_tokens"))
        )
        return (
            docs.select("doc_id", "lang")
            .join(scored, "doc_id", "left")
            .select(
                "doc_id",
                "lang",
                F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
                dbl(F.coalesce("s", F.lit(0).cast("decimal(18,4)"))).alias(
                    "dsir_score"
                ),
                F.when(
                    F.coalesce("s", F.lit(0).cast("decimal(18,4)")).cast("double")
                    > 0.0,
                    1,
                )
                .otherwise(0)
                .alias("keep"),
            )
            .orderBy("doc_id")
        )


_register_dsir()


@register(
    "llm_sft_pairs",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter({TOKS_SQL}, x -> x <> '') AS toks
      FROM documents
    ),
    eligible AS (SELECT * FROM t WHERE len(toks) > 40),
    pairs AS (
      SELECT doc_id, lang,
             'Summarize: ' || array_to_string(list_slice(toks, 1, 20), ' ')
               AS prompt,
             array_to_string(list_slice(toks, 21, len(toks)), ' ') AS response
      FROM eligible
    )
    SELECT doc_id, lang,
           CAST(20 AS BIGINT) AS n_prompt_tokens,
           CAST(len(string_split(response, ' ')) AS BIGINT) AS n_response_tokens,
           CAST(length('<|system|>You are a helpful assistant.<|user|>'
                       || prompt || '<|assistant|>' || response || '<|end|>')
                AS BIGINT) AS rendered_chars,
           md5('<|system|>You are a helpful assistant.<|user|>'
               || prompt || '<|assistant|>' || response || '<|end|>')
             AS rendered_hash
    FROM pairs ORDER BY doc_id
    """,
)
def llm_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT pair construction + chat-template rendering: each document
    becomes an (instruction, response) example — prompt = a task prefix
    plus the first 20 tokens, response = the remainder — then renders
    through a fixed special-token chat template (the
    system/user/assistant framing every instruction-tuned model trains
    on). Documents too short to split are filtered BEFORE pair
    construction. The md5 of the rendered string makes the whole
    template pipeline differentially checkable without hashing megabytes
    of text through the driver compare.

    Scale: map-only (split, slice, concat, hash in codegen) — no
    shuffle but the output sort; at 100 TB this is the shape of every
    template-rendering pass before tokenization, and it parallelizes
    per-row perfectly.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    eligible = docs.where(F.size(toks) > 40).select("doc_id", "lang", toks.alias("tk"))
    tmpl_prefix = "<|system|>You are a helpful assistant.<|user|>"
    pairs = eligible.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit("Summarize: "), F.array_join(F.slice("tk", 1, 20), " ")
        ).alias("prompt"),
        F.array_join(F.expr("slice(tk, 21, size(tk) - 20)"), " ").alias("response"),
    )
    rendered = F.concat(
        F.lit(tmpl_prefix),
        F.col("prompt"),
        F.lit("<|assistant|>"),
        F.col("response"),
        F.lit("<|end|>"),
    )
    return pairs.select(
        "doc_id",
        "lang",
        F.lit(20).cast("long").alias("n_prompt_tokens"),
        F.size(F.split("response", " ")).cast("long").alias("n_response_tokens"),
        F.length(rendered).cast("long").alias("rendered_chars"),
        F.md5(rendered).alias("rendered_hash"),
    ).orderBy("doc_id")


@register(
    "llm_preference_pairs",
    f"""
    WITH t AS (
      SELECT doc_id, lang, list_filter({TOKS_SQL}, x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT)
               AS div_ppm
      FROM t WHERE len(toks) > 0
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY div_ppm DESC, doc_id) AS rn
      FROM m
    )
    SELECT a.lang, CAST((a.rn + 1) // 2 AS BIGINT) AS pair_id,
           a.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
           CAST(a.div_ppm - b.div_ppm AS BIGINT) AS margin_ppm
    FROM r a JOIN r b ON a.lang = b.lang AND b.rn = a.rn + 1 AND a.rn % 2 = 1
    ORDER BY a.lang, pair_id
    """,
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining (the DPO/RLHF data shape): within each
    language, documents rank by a quality signal — token diversity in
    integer parts-per-million, distinct·1e6 div total, zero float risk —
    and adjacent ranks pair off as (chosen, rejected) with their quality
    margin. Margin-thresholding downstream keeps only confident pairs;
    the ppm margin is exact so the threshold never flips between
    engines.

    Scale: one tokenize+measure map pass, one lang-keyed window rank,
    and the pairing self-join reuses the SAME lang-keyed partitioning
    (rn and rn+1 are co-located) — effectively one exchange end to end.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    m = docs.where(F.size(toks) > 0).select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(size(array_distinct(filter(split(text, '\\\\s+'), "
            "x -> x != ''))) * 1000000 div "
            "size(filter(split(text, '\\\\s+'), x -> x != '')) AS BIGINT)"
        ).alias("div_ppm"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("div_ppm"), "doc_id")
    r = m.withColumn("rn", F.row_number().over(w))
    a = r.alias("a")
    b = r.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("b.rn") == F.col("a.rn") + 1)
            & (F.col("a.rn") % 2 == 1),
        )
        .select(
            F.col("a.lang").alias("lang"),
            F.expr("CAST((a.rn + 1) div 2 AS BIGINT)").alias("pair_id"),
            F.col("a.doc_id").alias("chosen_doc"),
            F.col("b.doc_id").alias("rejected_doc"),
            (F.col("a.div_ppm") - F.col("b.div_ppm")).cast("long").alias("margin_ppm"),
        )
        .orderBy("lang", "pair_id")
    )


@register(
    "pipeline_sft_full",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter({TOKS_SQL}, x -> x <> '') AS toks,
             md5(text) AS h
      FROM documents
    ),
    gated AS (SELECT * FROM t WHERE len(toks) > 40),
    keepers AS (
      SELECT h, min(doc_id) AS keeper FROM gated GROUP BY h
    ),
    survivors AS (
      SELECT g.doc_id, g.lang, g.toks
      FROM gated g JOIN keepers k ON g.h = k.h AND g.doc_id = k.keeper
    ),
    pairs AS (
      SELECT doc_id, lang,
             'Summarize: ' || array_to_string(list_slice(toks, 1, 20), ' ')
               AS prompt,
             array_to_string(list_slice(toks, 21, len(toks)), ' ') AS response,
             len(toks) - 20 AS n_response_tokens
      FROM survivors
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(n_response_tokens) AS BIGINT) AS response_tokens,
           CAST(sum(length('<|system|>You are a helpful assistant.<|user|>'
                           || prompt || '<|assistant|>' || response
                           || '<|end|>')) AS BIGINT) AS rendered_chars,
           CAST(count(DISTINCT md5(prompt)) AS BIGINT) AS distinct_prompts
    FROM pairs GROUP BY lang ORDER BY lang
    """,
)
def pipeline_sft_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE instruction-tuning data flow composed and oracle-checked
    end to end (the SFT counterpart of `pipeline_pretrain_full`): length
    gate → exact-dedup survivor selection → instruction/response pair
    construction → chat-template rendering → per-language corpus report
    (pair counts, response-token budget, rendered bytes, distinct-prompt
    cardinality — the numbers an SFT run is sized from). Every stage is
    the registered operator's exact logic, so the COMPOSITION — where
    stage-boundary bugs live — is what the oracle checks.

    Scale: one tokenize scan; the dedup survivor selection is one
    hash-keyed aggregation + join; pair construction and rendering are
    map-only; the report is an O(langs) aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    t = docs.select(
        "doc_id", "lang", toks.alias("tk"), F.md5("text").alias("h")
    )
    gated = t.where(F.size("tk") > 40)
    keepers = gated.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    survivors = gated.join(
        keepers,
        (gated["h"] == keepers["h"]) & (gated["doc_id"] == keepers["keeper"]),
    ).select("doc_id", "lang", "tk")
    pairs = survivors.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit("Summarize: "), F.array_join(F.slice("tk", 1, 20), " ")
        ).alias("prompt"),
        F.array_join(F.expr("slice(tk, 21, size(tk) - 20)"), " ").alias("response"),
        (F.size("tk") - 20).cast("long").alias("n_response_tokens"),
    )
    rendered = F.concat(
        F.lit("<|system|>You are a helpful assistant.<|user|>"),
        F.col("prompt"),
        F.lit("<|assistant|>"),
        F.col("response"),
        F.lit("<|end|>"),
    )
    return (
        pairs.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("n_response_tokens").cast("long").alias("response_tokens"),
            F.sum(F.length(rendered)).cast("long").alias("rendered_chars"),
            F.count_distinct(F.md5("prompt")).cast("long").alias("distinct_prompts"),
        )
        .orderBy("lang")
    )


@register(
    "llm_dataset_card",
    f"""
    WITH per_doc AS (
      SELECT source, lang,
             len(list_filter({TOKS_SQL}, x -> x <> '')) AS ws,
             len(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
               AS bpe,
             n_chars,
             md5(substr(text, 1, 64)) AS prefix_hash
      FROM documents
    ),
    lang_rank AS (
      SELECT source, lang, count(*) AS c,
             row_number() OVER (PARTITION BY source
                                ORDER BY count(*) DESC, lang) AS rn
      FROM per_doc GROUP BY source, lang
    ),
    dupes AS (
      SELECT source, CAST(sum(extra) AS BIGINT) AS dup_candidates
      FROM (SELECT source, prefix_hash, count(*) - 1 AS extra
            FROM per_doc GROUP BY source, prefix_hash) g
      GROUP BY source
    )
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.ws) AS BIGINT) AS ws_tokens,
           CAST(sum(p.bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(p.n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT p.lang) AS BIGINT) AS n_langs,
           min(lr.lang) AS top_lang,
           CAST(min(lr.c) * 1000000 // count(*) AS BIGINT) AS top_lang_ppm,
           CAST(min(d.dup_candidates) AS BIGINT) AS dup_candidates
    FROM per_doc p
    JOIN (SELECT source, lang, c FROM lang_rank WHERE rn = 1) lr
      ON lr.source = p.source
    JOIN dupes d ON d.source = p.source
    GROUP BY p.source ORDER BY p.source
    """,
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card report (the per-source datasheet every released
    training corpus ships — cf. Datasheets for Datasets, the Pile/ROOTS
    cards): document and token counts both ways (whitespace and the
    BPE-ish pre-tokenizer), character mass, language coverage with the
    dominant language's share in integer ppm, and the prefix-hash
    duplicate-candidate count — one row per source, every number an
    exact integer.

    Scale: one map pass computes all per-doc measures (regex counting in
    codegen, a 16-byte prefix hash); three source-keyed aggregations
    share the shuffle key; nothing is corpus-quadratic. The same query
    IS the release gate a pipeline runs before publishing a snapshot.
    """
    docs = load_table(spark, sf_dir, "documents")
    from wordcount_spark.operators.queries_textstats import _BPE_RE

    per_doc = docs.select(
        "source",
        "lang",
        F.size(tokenize("text")).alias("ws"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("bpe"),
        "n_chars",
        F.md5(F.substring("text", 1, 64)).alias("prefix_hash"),
    )
    per_doc = bounded_cache(per_doc)
    from pyspark.sql import Window

    wr = Window.partitionBy("source").orderBy(F.desc("c"), "lang")
    lang_top = (
        per_doc.groupBy("source", "lang")
        .agg(F.count("*").alias("c"))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), F.col("c").alias("top_c"))
    )
    dupes = (
        per_doc.groupBy("source", "prefix_hash")
        .agg((F.count("*") - 1).alias("extra"))
        .groupBy("source")
        .agg(F.sum("extra").cast("long").alias("dup_candidates"))
    )
    base = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )
    return (
        base.join(lang_top, "source")
        .join(dupes, "source")
        .select(
            "source",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            "total_chars",
            "n_langs",
            "top_lang",
            F.expr("CAST(top_c * 1000000 div n_docs AS BIGINT)").alias(
                "top_lang_ppm"
            ),
            "dup_candidates",
        )
        .orderBy("source")
    )
