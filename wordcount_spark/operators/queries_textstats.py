"""Text analysis for training-data pipelines: token stats, quality scoring,
language ID, fingerprinting (extension surface, SURVEY.md §2.7 gap list).

All hot-path logic is JVM built-ins (split/filter/size/array ops) — no
Python in these pipelines. Ratios are emitted as RAW double divisions:
x/y is a single deterministic IEEE op, so Spark and DuckDB produce the
identical double (no rounding needed — and round() itself is the thing
that diverges, see queries_relational notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.functions.text import TOKS_SQL, tokenize
from wordcount_spark.operators.relational import dec, sort_small, stable_round_sql
from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table
from wordcount_spark.operators.caching import bounded_cache, bounded_checkpoint

#: tiny per-language stopword lexicons (language-ID heuristic)
LANG_LEXICONS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "los", "y", "es", "que", "en", "una"],
    "fr": ["le", "les", "et", "est", "que", "une", "dans"],
    "zh": ["的", "是", "了", "在", "我"],
}

#: English-ish stopwords for the quality score
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

@register(
    "text_token_stats",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter({TOKS_SQL}, x -> x <> '') AS toks, n_chars
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           n_chars,
           CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_token,
           len(list_distinct(toks)) AS n_unique_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
    FROM t ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts + type-token ratio (lexical diversity).

    Scale: per-row array ops (size/array_distinct) in codegen — map-only,
    no token explode, no shuffle but the output sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            "n_chars",
            (F.col("n_chars").cast("double") / F.size(toks)).alias("chars_per_token"),
            F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter({TOKS_SQL}, x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
             len(list_filter(toks, x -> list_contains({STOPWORDS!r}, x))) AS n_stop,
             len(list_filter(toks, x -> length(x) > 3)) AS n_long
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_long AS DOUBLE) / n_tokens AS long_token_ratio,
           CASE WHEN n_tokens >= 20
                 AND CAST(n_punct AS DOUBLE) / n_chars < 0.1
                 AND CAST(n_stop AS DOUBLE) / n_tokens > 0.05
                THEN 1 ELSE 0 END AS keep
    FROM m ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate (C4/Gopher-style rules): punctuation density,
    stopword presence, token-length profile → keep/drop flag.

    Scale: map-only codegen projection over the text column — the gate
    runs at scan speed, which is why it is every pipeline's first
    stage (cf. pipeline_curation, pipeline_pretrain_full).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    m = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"\p{Punct}", ""))
        ).alias("n_punct"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).alias("n_stop"),
        F.size(F.filter(toks, lambda x: F.length(x) > 3)).alias("n_long"),
    )
    punct_ratio = F.col("n_punct").cast("double") / F.col("n_chars")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    long_ratio = F.col("n_long").cast("double") / F.col("n_tokens")
    return (
        m.select(
            "doc_id",
            "n_tokens",
            punct_ratio.alias("punct_ratio"),
            stop_ratio.alias("stopword_ratio"),
            long_ratio.alias("long_token_ratio"),
            F.when(
                (F.col("n_tokens") >= 20) & (punct_ratio < 0.1) & (stop_ratio > 0.05), 1
            )
            .otherwise(0)
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


def _lang_score_sql(lang: str) -> str:
    lex = LANG_LEXICONS[lang]
    return f"len(list_filter(toks, x -> list_contains({lex!r}, x)))"


@register(
    "text_lang_id",
    f"""
    WITH t AS (
      SELECT doc_id, lang AS true_lang,
             list_filter({TOKS_SQL}, x -> x <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, true_lang,
             {_lang_score_sql("de")} AS s_de,
             {_lang_score_sql("en")} AS s_en,
             {_lang_score_sql("es")} AS s_es,
             {_lang_score_sql("fr")} AS s_fr,
             {_lang_score_sql("zh")} AS s_zh
      FROM t
    )
    SELECT doc_id, true_lang,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM s ORDER BY doc_id
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language ID: count lexicon hits per language, argmax
    with a fixed alphabetical tiebreak (the CASE chain — deterministic).

    Scale: the lexicons are fixed literal arrays compiled into the
    projection — per-doc scoring is map-only codegen, no join, no
    shuffle but the output sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    t = docs.select("doc_id", F.col("lang").alias("true_lang"), toks.alias("toks"))
    def lex_hits(lex: list[str]) -> F.Column:
        arr = F.array(*[F.lit(w) for w in lex])
        return F.size(F.filter(F.col("toks"), lambda x: F.array_contains(arr, x)))

    scores = {lang: lex_hits(lex) for lang, lex in LANG_LEXICONS.items()}
    s = t.select("doc_id", "true_lang", *[scores[k].alias(f"s_{k}") for k in scores])
    c = F
    pred = (
        c.when(
            (c.col("s_de") >= c.col("s_en"))
            & (c.col("s_de") >= c.col("s_es"))
            & (c.col("s_de") >= c.col("s_fr"))
            & (c.col("s_de") >= c.col("s_zh")),
            "de",
        )
        .when(
            (c.col("s_en") >= c.col("s_es"))
            & (c.col("s_en") >= c.col("s_fr"))
            & (c.col("s_en") >= c.col("s_zh")),
            "en",
        )
        .when((c.col("s_es") >= c.col("s_fr")) & (c.col("s_es") >= c.col("s_zh")), "es")
        .when(c.col("s_fr") >= c.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return s.select("doc_id", "true_lang", pred.alias("pred_lang")).orderBy("doc_id")


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(text) AS content_hash,
           md5(lower(text)) AS normalized_hash,
           substr(md5(text), 1, 8) AS shard_key
    FROM documents ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed document fingerprints (md5 — same digest in any
    engine; the basis for exact dedup and shard routing).

    Scale: map-only md5 projection; no shuffle but the output sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.md5("text").alias("content_hash"),
            F.md5(F.lower("text")).alias("normalized_hash"),
            F.substring(F.md5("text"), 1, 8).alias("shard_key"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter({TOKS_SQL}, x -> x <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok, tf, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok) AS rk
      FROM scored
    ) WHERE rk <= 3 ORDER BY doc_id, tfidf DESC, tok
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Three shuffles total: (doc,term)
    agg, term doc-frequency agg (broadcast back — term vocab is small
    relative to the corpus), and the per-doc top-k window; N is a
    one-row aggregate broadcast onto the scores, so the build runs no job."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    # (doc, term) grain — Zipf-compressed vs the raw token stream; pinned
    # because both the df derivation and the scoring join consume it
    tf = bounded_cache(toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    # df(term) = row count of the per-(doc,term) frame — derived from tf,
    # so the corpus token stream is exploded exactly ONCE (a second
    # countDistinct pass over raw tokens would re-scan everything)
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    # round(…, 6): ln() is not IEEE-correctly-rounded, so Java and libm
    # differ in the last ulp — rank and emit on the rounded value so the
    # oracle comparison (and the top-3 row selection) is engine-stable.
    # no broadcast hint on df_: vocabulary grows with the corpus (Heaps'
    # law) — the engine broadcasts it while small, shuffle-joins at scale
    scored = tf.join(df_, "tok").crossJoin(F.broadcast(n)).withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tf", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "tok")
    )


# GPT2-style pre-tokenizer pattern, restricted to syntax both Java regex and
# RE2 support (no lookahead): contraction suffixes, letter runs, digit runs,
# non-space-non-alnum runs.
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


@register(
    "text_bpe_token_count",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS n_bpe_tokens,
           len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                           x -> x <> '')) AS n_ws_tokens
    FROM documents ORDER BY doc_id
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish pre-tokenizer
    regex (the LLM-cost-estimation primitive). Pure JVM regexp_extract_all.

    Scale: map-only regex projection in codegen; no shuffle but the
    output sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("n_bpe_tokens"),
            F.size(tokenize("text")).alias("n_ws_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_rolling_fingerprint",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(toks,
                            s -> ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hs
      FROM t
    )
    SELECT doc_id,
           list_reduce(hs, (a, b) -> (a * 1000003 + b) % 2147483647) AS fingerprint
    FROM h ORDER BY doc_id
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    the token-hash sequence, h = fold((a,b) -> (a*B + b) mod P). Unlike the
    md5 content hash, equal fingerprints here respect token ORDER with
    arithmetic cheap enough to run at 100 TB. 28-bit token hashes keep
    a*B + b < 2^62 (no overflow under ANSI mode) — and DuckDB reproduces
    every value exactly.

    Scale: per-row array fold in codegen (one multiply-add per token);
    map-only, no shuffle but the output sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.lower("text"))
    hs = F.transform(
        toks, lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")
    )
    fp = F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda a, b: (a * F.lit(1000003) + b) % F.lit(2147483647),
    )
    return docs.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


@register("agg_approx_sketches")  # rows-only: sketch internals are engine-specific
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches (HLL++ distinct, quantile sketch): the cheap
    100 TB path where exactness isn't required. No SQL oracle — sketch
    estimates are engine-specific; tests/test_textstats.py bounds the
    error against exact values instead.

    Scale: sketches are fixed-size mergeable state — the exchange carries
    KB-sized accumulators per group regardless of row count (the whole
    point vs exact distinct at 100 TB).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "sample_stratified_hash",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
          < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
    ORDER BY doc_id
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling — the reproducible way to
    rebalance a web-scale corpus (e.g. cap the dominant language at 10%
    while keeping 50% of the tail). Bucket = md5(doc_id) mod 100, so
    membership is a pure function of the row: re-runs, retries, and other
    engines (the DuckDB oracle) select the SAME rows — unlike
    `df.sample`, whose RNG stream depends on partitioning. At 100 TB this
    is a narrow per-row filter (no shuffle, no state); the md5 cost is
    dwarfed by the scan, and the filter prunes before any downstream
    join/agg. 28-bit hex slice keeps the value positive (no sign
    fold-over under either engine's BIGINT)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10
    ).cast("long") % 100
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(50))
    return docs.where(bucket < rate).select("doc_id", "lang").orderBy("doc_id")


@register(
    "lateral_token_positions",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
      FROM t
    )
    SELECT pos, tok, count(*) AS n_docs
    FROM e WHERE pos <= 3
    GROUP BY pos, tok HAVING count(*) >= 5
    ORDER BY pos, n_docs DESC, tok
    """,
)
def lateral_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional token frequencies (lateral explode WITH ORDINALITY):
    which tokens open documents? posexplode keeps the array index the
    engine already has — no window/rank pass to reconstruct position.
    The `pos <= 3` predicate lands BEFORE the aggregation, so the explode
    feeds at most 3 rows per document into the shuffle regardless of
    document length — at 100 TB the agg input is ~3 rows/doc, not
    ~tokens/doc. 1-based pos matches DuckDB's generate_subscripts."""
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    return (
        e.where(F.col("pos") <= 3)
        .groupBy("pos", "tok")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= 5)
        .orderBy("pos", F.desc("n_docs"), "tok")
    )


@register("sample_fraction")  # rows-only: RNG streams are engine-specific
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample (deterministic per seed+partitioning in
    Spark, but no cross-engine oracle exists for RNG streams — bounds
    checked in tests/test_textstats.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.sample(fraction=0.1, seed=42).select("doc_id", "lang")


@register(
    "json_variant_props",
    """
    SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1 ORDER BY k_val
    """,
)
def json_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type: ``parse_json``
    once, ``variant_get`` with a typed path — the open-schema ingestion
    pattern (shreds at read, no fixed struct schema needed up front).
    Unlike ``from_json`` (json_map_props) the variant binary encoding is
    reparse-free on every later field access.

    Scale: parse_json runs once per row (map-only); VARIANT keeps the
    shredded binary columnar so typed paths avoid re-parsing — the
    open-schema analog of the from_json struct path.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.variant_get(F.parse_json("props"), "$.k", "int").alias("k_val"),
            "value",
        )
        .groupBy("k_val")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("k_val")
    )


@register(
    "json_map_props",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
           json_array_length(json_keys(props)) AS n_keys
    FROM events ORDER BY event_id
    """,
)
def json_map_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props JSON → typed MapType (from_json), element access + key count —
    the semi-structured column pattern.

    Scale: from_json parses each props string ONCE into a map column
    (map-only codegen); downstream field access is free of re-parsing.
    """
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        ev.select(
            "event_id",
            m.getItem("k").alias("k_val"),
            F.size(F.map_keys(m)).alias("n_keys"),
        )
        .orderBy("event_id")
    )


@register(
    "text_token_freq_by_lang",
    f"""
    WITH t AS (
      SELECT lang, unnest(list_filter({TOKS_SQL}, x -> x <> '')) AS tok
      FROM documents
    )
    SELECT lang, tok, count(*) AS cnt
    FROM t GROUP BY lang, tok
    ORDER BY lang, cnt DESC, tok
    """,
)
def text_token_freq_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency table per language (raw tokens, no
    normalization — the vocabulary-building precursor).

    Scale: explode + one (lang, token)-keyed map-side-combinable
    aggregation — the same single-exchange shape as the flagship's raw
    count stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(tokenize("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", F.desc("cnt"), "tok")
    )


@register(
    "text_token_diversity",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter({TOKS_SQL}, x -> x <> '')) AS tok
      FROM documents
    ),
    c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_unique,
           CAST(sum(c * c) AS DOUBLE) / (sum(c) * sum(c)) AS simpson_index
    FROM c GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Simpson diversity index (repeated-token concentration
    — a template-spam signal for training-data quality gates).

    Computed from integer token counts only: sum(c²)/n² is two exact
    integer sums and ONE double division, so it hash-matches DuckDB with
    no float tolerance. Both groupBys get map-side partial aggregation;
    the (doc_id, tok) shuffle key is high-cardinality and unskewed.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(tokenize("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_unique"),
            (
                F.sum(F.col("c") * F.col("c")).cast("double")
                / (F.sum("c") * F.sum("c"))
            ).alias("simpson_index"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bigram_top",
    f"""
    WITH t AS (
      SELECT list_filter({TOKS_SQL}, x -> x <> '') AS toks FROM documents
    ),
    b AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t WHERE len(toks) >= 2
    )
    SELECT bigram, count(*) AS cnt
    FROM b GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT 50
    """,
)
def text_bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 bigrams — n-gram language-model / contamination
    probe. Bigrams come from zipping the token array with its own shifted
    slice (pure JVM array ops, no positional self-join — the join version
    would shuffle the exploded corpus twice at 100 TB). The count agg gets
    map-side partials; top-50 is TakeOrdered, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(50)
    )


@register(
    "text_repetition_filter",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter({TOKS_SQL}, x -> x <> '') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             greatest(len(toks) - 1, 0) AS n_bigrams,
             len(list_distinct(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1]))) AS n_distinct
      FROM t
    ),
    tp AS (
      SELECT doc_id, max(cnt) AS top_cnt
      FROM (SELECT doc_id, tok, count(*) AS cnt
            FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
            GROUP BY doc_id, tok)
      GROUP BY doc_id
    )
    SELECT bg.doc_id, bg.n_tokens,
           CASE WHEN n_bigrams > 0
                THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams
                ELSE 0.0 END AS dup_bigram_frac,
           CAST(top_cnt AS DOUBLE) / bg.n_tokens AS top_token_frac,
           CASE WHEN (CASE WHEN n_bigrams > 0
                           THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams
                           ELSE 0.0 END) < 0.05
                 AND CAST(top_cnt AS DOUBLE) / bg.n_tokens < 0.15
                THEN 1 ELSE 0 END AS keep
    FROM bg JOIN tp USING (doc_id)
    ORDER BY doc_id
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filter (Rae et al. 2021):
    duplicate-bigram fraction + most-common-token fraction -> keep flag.

    Scale shape: the bigram stats are pure per-row array ops (narrow, no
    shuffle — zip-with-shifted-slices, same trick as text_bigram_top); the
    top-token count goes explode -> (doc_id, tok) partial-agg -> (doc_id)
    max, so shuffle keys are uniformly distributed doc-grained pairs, never
    corpus-grained token keys. The final join is doc_id-keyed on two frames
    already hash-partitioned by doc_id from their aggs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    n = F.size(toks)
    win = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, win),
        F.slice(toks, 2, win),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        win.alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct"),
    )
    tp = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"))
    )
    dup_frac = F.when(
        F.col("n_bigrams") > 0,
        F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_bigrams"),
    ).otherwise(F.lit(0.0))
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    return (
        bg.join(tp, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            dup_frac.alias("dup_bigram_frac"),
            top_frac.alias("top_token_frac"),
            F.when((dup_frac < 0.05) & (top_frac < 0.15), 1)
            .otherwise(0)
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_charset_stats",
    """
    SELECT doc_id, lang,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
           length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
           length(text) - length(regexp_replace(text, '[^[:ascii:]]', '', 'g')) AS n_nonascii,
           CAST(length(text) - length(regexp_replace(text, '[^[:ascii:]]', '', 'g')) AS DOUBLE)
             / length(text) AS nonascii_frac,
           CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^[:ascii:]]', '', 'g')) AS DOUBLE)
                     / length(text) < 0.5
                THEN 1 ELSE 0 END AS ascii_dominant
    FROM documents ORDER BY doc_id
    """,
)
def text_charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style character-class profile: digit / uppercase / non-ASCII
    counts per document via length-delta of class-scoped regexp_replace
    (counts code points identically in Spark and DuckDB — both engines'
    length() is code-point based on UTF-8 strings).

    Scale shape: fully narrow — scan -> project, zero shuffles except the
    output sort; all regexes run inside whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")

    def class_count(pat: str) -> F.Column:
        return F.length("text") - F.length(F.regexp_replace("text", pat, ""))

    n_nonascii = class_count(r"[^\x00-\x7F]")
    frac = n_nonascii.cast("double") / F.length("text")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.length("text").alias("n_chars"),
            class_count(r"[0-9]").alias("n_digit"),
            class_count(r"[A-Z]").alias("n_upper"),
            n_nonascii.alias("n_nonascii"),
            frac.alias("nonascii_frac"),
            F.when(frac < 0.5, 1).otherwise(0).alias("ascii_dominant"),
        )
        .orderBy("doc_id")
    )


def unigram_logprob_scores(docs: DataFrame, lowercase: bool = False) -> DataFrame:
    """(doc_id, n_tokens, score): each doc's mean negative log probability
    under the corpus's own unigram MLE model — the SINGLE source of the
    scoring pipeline (text_unigram_logprob and curriculum_quality_buckets
    both consume it, so they cannot drift; chunk_windows precedent)."""
    text = F.lower("text") if lowercase else F.col("text")
    toks = docs.select(
        "doc_id", F.explode(F.split(text, r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    # cached: the broadcast join probe and the ln(N) total both read the
    # model; without the cache each branch re-runs the vocab aggregation.
    # Vocab-cardinality session pin, accepted (Zipfian: small)
    model = bounded_cache(toks.groupBy("tok").agg(F.count("*").alias("c")))
    total = model.agg(F.log(F.sum("c").cast("double")).alias("ln_n"))
    return (
        # model is vocabulary-sized (grows with the corpus): no broadcast
        # hint; `total` is a 1-row scalar, hinted
        toks.join(model, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id", "ln_n")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(F.log(F.col("c").cast("double"))).alias("avg_ln_c"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("ln_n") - F.col("avg_ln_c")).alias("score"),
        )
    )


def unigram_score_sql(text_expr: str) -> str:
    """DuckDB CTE chain mirroring unigram_logprob_scores (ends in a
    `scored(doc_id, n_tokens, score)` CTE; compose with WITH ... prefix)."""
    return f"""
    toks AS (
      SELECT doc_id,
             unnest(string_split_regex({text_expr}, '[ \t\n\x0b\f\r]+')) AS tok
      FROM documents
    ),
    model AS (SELECT tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY tok),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM model),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens,
             ln((SELECT n FROM total)) - avg(ln(CAST(c AS DOUBLE))) AS score
      FROM toks JOIN model USING (tok)
      GROUP BY doc_id
    )"""


@register(
    "text_unigram_logprob",
    f"""
    WITH {unigram_score_sql('text')}
    SELECT doc_id, n_tokens, round(score, 4) AS avg_neg_logprob
    FROM scored ORDER BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality signal: each document's mean negative log
    probability under the corpus's own unigram MLE model (the cheap stand-in
    for a KenLM filter in an LLM curation pipeline — high score = tokens the
    corpus rarely uses).

    avg(-ln(c_w/N)) = ln(N) - avg(ln(c_w)), so the model join carries only
    the raw count: one vocab-sized aggregate (Zipfian → small; broadcast),
    one map-side model join back onto the token stream (no token shuffle),
    one doc-keyed agg. At 100 TB the model frame is ~vocab × 16 B — still
    broadcastable for natural language; if not, it becomes the one extra
    shuffle. round(4) absorbs libm ln() last-ulp + float-sum-order noise
    between engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        unigram_logprob_scores(docs)
        .select(
            "doc_id",
            "n_tokens",
            F.round("score", 4).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "split_train_holdout_groups",
    """
    SELECT CASE WHEN b < 60 THEN 'train' WHEN b < 80 THEN 'valid' ELSE 'test' END
             AS split,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources
    FROM (SELECT source,
                 ('0x' || substr(md5(source), 1, 7))::BIGINT % 100 AS b
          FROM documents) g
    GROUP BY split
    ORDER BY split
    """,
)
def split_train_holdout_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/valid/test split: the split is a pure function of
    the GROUP key (source), never the row, so every document from one
    source lands in the same split — near-duplicates within a source can't
    straddle the train/eval boundary (the standard grouped-split rule for
    training corpora). Deterministic md5 bucketing as in
    `sample_stratified_hash`: re-runs, retries, and the DuckDB oracle
    assign identical splits. At 100 TB this is a narrow per-row projection
    (no shuffle to assign splits; the audit agg here shuffles only
    source-cardinality rows after map-side partials)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("source")), 1, 7), 16, 10
    ).cast("long") % 100
    split = (
        F.when(bucket < 60, "train").when(bucket < 80, "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("split")
    )


@register(
    "udtf_token_runs",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS toks
      FROM documents),
    e AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM t),
    b AS (
      SELECT doc_id, tok, pos,
             CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) = tok
                  THEN 0 ELSE 1 END AS brk
      FROM e),
    g AS (
      SELECT doc_id, tok, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM b),
    runs AS (
      SELECT doc_id, any_value(tok) AS run_token,
             CAST(count(*) AS INT) AS run_len, min(pos) AS start_pos
      FROM g GROUP BY doc_id, grp)
    SELECT doc_id, run_token, run_len,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_pos) - 1
                AS INT) AS run_idx
    FROM (SELECT * FROM runs WHERE run_len >= 2) q
    ORDER BY doc_id, run_idx
    """,
)
def udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive repeated-token runs (len ≥ 2) per document via a Python
    UDTF in a SQL LATERAL join — the table-function corner of the UDF/UDAF/
    UDTF surface (scalar pandas_udf, mapInPandas, applyInPandas[WithState],
    and transformWithState are covered elsewhere). The UDTF is procedural
    row-at-a-time Python — the documented SLOW path; the DuckDB oracle is
    the set-based gaps-and-islands rewrite (lag → break flags → running
    group ids), which is what you'd deploy at 100 TB if the logic stayed
    SQL-expressible. Repeated runs are also a real curation signal
    (boilerplate/stutter detection, cf. text_repetition_filter's
    doc-level ratios).

    Scale: the UDTF is row-at-a-time Python — kept ONLY as the
    table-function API demonstration; the equivalent set-based form is
    the lateral posexplode + run-length grouping the oracle uses, which
    is what a 100 TB job should run.
    """
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="run_idx int, run_token string, run_len int")
    class TokenRuns:
        def eval(self, text: str):
            # ASCII whitespace only — Python \s is Unicode-aware and would
            # diverge from TOKEN_SPLIT_RE and the oracle on e.g. \u00a0
            toks = [t for t in _re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]
            run_idx = 0
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                if j - i >= 2:
                    yield (run_idx, toks[i], j - i)
                    run_idx += 1
                i = j

    spark.udtf.register("token_runs", TokenRuns)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, r.run_token, r.run_len, r.run_idx
        FROM __udtf_docs d, LATERAL token_runs(d.text) r
        ORDER BY d.doc_id, r.run_idx
        """
    )


@register(
    "text_pmi_bigrams",
    """
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    model AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    nu AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM model),
    bgall AS (
      SELECT bg, count(*) AS c_ab
      FROM (SELECT unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])) AS bg
            FROM toks)
      GROUP BY bg
    ),
    nb AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bi FROM bgall),
    bgc AS (SELECT * FROM bgall WHERE c_ab >= 5)
    SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2, c_ab,
           round(ln((c_ab / n_bi) / ((ca.c / n_uni) * (cb.c / n_uni))), 4) + 0.0
             AS pmi
    FROM bgc
    CROSS JOIN nu CROSS JOIN nb
    JOIN model ca ON ca.w = split_part(bg, ' ', 1)
    JOIN model cb ON cb.w = split_part(bg, ' ', 2)
    ORDER BY w1, w2
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent token
    pairs, PMI = ln(p(ab) / (p(a)·p(b))) — the classic phrase detector
    (word2vec-phrases / "New_York" merging) run before tokenizer training
    on a pretraining corpus. Support floor c_ab ≥ 5 kills the noisy tail.

    Scale: the raw token stream is never joined — bigram counting
    aggregates it down to the distinct-bigram table first (Zipfian: ≪
    corpus), the unigram model is vocab-sized (broadcast twice, as the
    left and right marginal), and both normalizing totals are derived
    from the already-aggregated tables (sum of counts), so the corpus is
    scanned exactly twice (unigrams + bigrams) with the support filter
    applied before the model join. round(4) absorbs libm ln() ulp drift,
    as in text_unigram_logprob.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokenize(F.lower("text")).alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    # Vocab-cardinality session pin, accepted (Zipfian: small); reused as
    # both marginals and for the unigram total
    model = bounded_cache(uni.groupBy("w").agg(F.count("*").alias("c")))
    n_uni = model.agg(F.sum("c").cast("double").alias("n_uni"))
    bgall = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, size(t) - 1),"
                       " i -> concat(t[i-1], ' ', t[i]))")
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count("*").alias("c_ab"))
        # distinct-bigram grain (Zipfian-small); pinned — the total and the
        # support-filtered model branch both consume it
        .transform(bounded_cache)
    )
    n_bi = bgall.agg(F.sum("c_ab").cast("double").alias("n_bi"))
    bgc = bgall.where(F.col("c_ab") >= 5)
    ca, cb = model.alias("ca"), model.alias("cb")
    w1 = F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
    return (
        # n_uni/n_bi are 1-row scalars (hinted); ca/cb are vocabulary-sized
        # and GROW with the corpus — no hint, the engine decides
        bgc.crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .join(ca, F.col("ca.w") == w1)
        .join(cb, F.col("cb.w") == w2)
        .select(
            w1.alias("w1"),
            w2.alias("w2"),
            "c_ab",
            # + 0.0 canonicalizes IEEE -0.0 to +0.0 — the value-hash compares
            # stringified doubles and "-0.0" != "0.0"
            (
                F.round(
                    F.log(
                        (F.col("c_ab") / F.col("n_bi"))
                        / (
                            (F.col("ca.c") / F.col("n_uni"))
                            * (F.col("cb.c") / F.col("n_uni"))
                        )
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
        .orderBy("w1", "w2")
    )


@register(
    "sample_fixed_per_group",
    """
    SELECT lang, doc_id
    FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) t
    WHERE rn <= 5
    ORDER BY lang, doc_id
    """,
)
def sample_fixed_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE deterministic sampling per stratum — exactly 5 docs per
    language, selected by md5(doc_id) order (a seedless shuffle that every
    engine, retry, and partitioning reproduces). This is the eval-set
    carving step: fraction-based sampling (`sample_stratified_hash`) gives
    proportional samples, but human-review and benchmark sets need an
    exact per-stratum count regardless of stratum size.

    Scale: one shuffle on the stratum key; the per-group ORDER BY runs
    within each group's partition, not globally. Fine for bounded-size
    strata (languages, sources); for a stratum so large its sort spills,
    pre-filter with an approximate hash-percentile cut first, then rank
    only the surviving sliver. The hash tiebreak (doc_id) makes the pick
    total-ordered even under (theoretical) md5 collisions.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


@register(
    "text_bigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    uni AS (SELECT unnest(t) AS w FROM toks),
    model1 AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    nu AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM model1),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
      FROM toks
    ),
    model2 AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2)
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(-avg(ln(
             0.7 * (m2.c_ab / m1.c) + 0.3 * (mb.c / n_uni)
           )), 4) + 0.0 AS avg_neg_logprob
    FROM bg
    JOIN model2 m2 USING (w1, w2)
    JOIN model1 m1 ON m1.w = bg.w1
    JOIN model1 mb ON mb.w = bg.w2
    CROSS JOIN nu
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality score (the KenLM-filter stand-in,
    one order up from ``text_unigram_logprob``): per document, the mean
    negative log of p(w₂|w₁) = 0.7·MLE_bigram + 0.3·MLE_unigram — the
    fixed-weight Jelinek-Mercer smoothing that keeps unseen-free corpora
    finite (the corpus is its own training set, so every bigram has
    c_ab ≥ 1 and the interpolation never hits zero).

    Scale: both model tables are count-aggregates of the token stream
    (Zipfian → vocab- and bigram-vocab-sized); the per-doc bigram stream
    joins them map-side (broadcast). The bigram positions are produced
    by PARALLEL unnest of two aligned list_transforms in DuckDB and one
    zipped transform in Spark — identical adjacency either way. round(4)
    absorbs ln() ulp + per-doc float-sum order drift; +0.0 canonicalizes
    IEEE -0.0.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.lower("text")).alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    # Vocab-cardinality session pin, accepted (Zipfian: small)
    model1 = bounded_cache(uni.groupBy("w").agg(F.count("*").alias("c")))
    n_uni = model1.agg(F.sum("c").cast("double").alias("n_uni"))
    bg = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    model2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    p = F.lit(0.7) * (F.col("c_ab") / F.col("c")) + F.lit(0.3) * (
        F.col("cb") / F.col("n_uni")
    )
    m1 = model1.alias("m1")
    mb = model1.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    return (
        # model frames are (bigram-)vocabulary-sized and grow with the
        # corpus — no broadcast hints; n_uni is a 1-row scalar (hinted)
        bg.join(model2, ["w1", "w2"])
        .join(m1, F.col("m1.w") == F.col("w1"))
        .join(mb, F.col("wb") == F.col("w2"))
        .crossJoin(F.broadcast(n_uni))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.round(-F.avg(F.log(p)), 4) + F.lit(0.0)).alias(
                "avg_neg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "text_quality_classifier",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter({TOKS_SQL}, x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
             len(list_filter(toks, x -> list_contains({STOPWORDS!r}, x))) AS n_stop,
             len(list_filter(toks, x -> length(x) > 3)) AS n_long
      FROM t
    ),
    z AS (
      SELECT doc_id, n_tokens,
             -1.5 + 3.2 * (CAST(n_stop AS DOUBLE) / n_tokens)
                  + 2.0 * (CAST(n_long AS DOUBLE) / n_tokens)
                  - 8.0 * (CAST(n_punct AS DOUBLE) / n_chars)
                  + 0.01 * least(n_tokens, 200) AS z
      FROM m
    )
    SELECT doc_id, n_tokens,
           floor(z * 10000.0 + 1e-6) / 10000.0 + 0.0 AS logit,
           floor(1.0 / (1.0 + exp(-z)) * 10000.0 + 1e-6) / 10000.0 + 0.0 AS p_keep,
           z > 0 AS keep
    FROM z ORDER BY doc_id
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate: a FIXED-WEIGHT logistic classifier over
    the same features the heuristic gate uses (stopword ratio, long-token
    ratio, punctuation density, clipped length) — the deterministic
    stand-in for the fastText/linear quality classifiers production
    curation runs where hand rules stop scaling. Weights are literals, so
    the whole model is one codegen'd projection; swapping in trained
    weights is a constant change, and a per-row Arrow UDF is only needed
    once the model stops being linear.

    Engine parity: the logit is a fixed multiply-add chain over exact
    ratios (identical expression order both engines → identical IEEE
    bits, so `keep = z > 0` cannot flip); exp() drifts by ulps between
    libms and round() half-breaking differs per engine, so p_keep and the
    logit are floor-truncated to 4dp with a 1e-6 boundary nudge (the
    ratio-sum z lands EXACTLY on the 1e-4 lattice for round token counts,
    where bare floor() flips on ulp drift — caught at sf0.1; see
    relational.stable_round). + 0.0 canonicalizes -0.0.

    Scale: narrow map over one scan — no shuffle at all except the
    output sort; composes in front of any dedup stage exactly like the
    heuristic gate in ``pipeline_curation``."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    m = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"\p{Punct}", ""))
        ).alias("n_punct"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).alias("n_stop"),
        F.size(F.filter(toks, lambda x: F.length(x) > 3)).alias("n_long"),
    )
    z = (
        F.lit(-1.5)
        + 3.2 * (F.col("n_stop").cast("double") / F.col("n_tokens"))
        + 2.0 * (F.col("n_long").cast("double") / F.col("n_tokens"))
        - 8.0 * (F.col("n_punct").cast("double") / F.col("n_chars"))
        + 0.01 * F.least(F.col("n_tokens"), F.lit(200))
    )
    return (
        m.select(
            "doc_id",
            "n_tokens",
            (F.floor(z * 10000.0 + 1e-6) / 10000.0 + 0.0).alias("logit"),
            (F.floor(1.0 / (1.0 + F.exp(-z)) * 10000.0 + 1e-6) / 10000.0 + 0.0).alias(
                "p_keep"
            ),
            (z > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _register_langid_confusion():
    """Closure: compose the registered lang-id oracle SQL so the confusion
    matrix cannot drift from the classifier it evaluates."""
    from wordcount_spark.registry import ORACLES

    @register(
        "eval_langid_confusion",
        f"""
        WITH preds AS ({ORACLES["text_lang_id"]})
        SELECT true_lang, pred_lang, count(*) AS n
        FROM preds GROUP BY true_lang, pred_lang
        ORDER BY true_lang, pred_lang
        """,
    )
    def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Classifier evaluation as a query: the confusion matrix of the
        stopword-lexicon language ID against the corpus's true labels —
        the audit a curation pipeline runs before trusting a cheap
        classifier to route documents. Composes the REGISTERED lang-id
        operator (Spark side calls the same function; oracle embeds the
        same SQL), so the evaluation can never drift from the model.

        Scale: the per-doc scoring is the narrow lexicon-hit map; the
        matrix is an O(langs²) aggregate — one tiny shuffle."""
        preds = text_lang_id(spark, sf_dir)
        return (
            preds.groupBy("true_lang", "pred_lang")
            .agg(F.count("*").alias("n"))
            .orderBy("true_lang", "pred_lang")
        )


_register_langid_confusion()


#: Gopher-style quality-rule thresholds (public DeepMind Gopher paper,
#: Rae et al. 2021, Table A1 — the standard pretraining heuristic gate).
#: Tuned to the synthetic corpus only in the word-count bound (50 → 20 so
#: both outcomes occur at test SF); every other bound is the paper's.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOPWORDS = 2


def _register_gopher_rules():
    from wordcount_spark.operators.relational import stable_round, stable_round_sql

    sr = stable_round_sql
    oracle = f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter({TOKS_SQL}, x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             len(toks) AS n_tokens,
             list_sum(list_transform(toks, x -> length(x))) AS sum_len,
             len(list_filter(toks, x -> contains(x, '#')
                                        OR contains(x, '...'))) AS n_symbol,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_intersect(list_distinct(toks), {STOPWORDS!r})) AS n_stop
      FROM t
    ),
    r AS (
      SELECT doc_id, lang, n_tokens,
             {sr("CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(sum_len AS DOUBLE) / n_tokens END", 4)} AS mean_word_len,
             {sr("CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_symbol AS DOUBLE) / n_tokens END", 4)} AS symbol_ratio,
             {sr("CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_alpha AS DOUBLE) / n_tokens END", 4)} AS alpha_ratio,
             n_stop
      FROM m
    )
    SELECT doc_id, lang, n_tokens, mean_word_len, symbol_ratio, alpha_ratio,
           CAST(n_stop AS BIGINT) AS n_stopwords,
           CASE WHEN n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} THEN 1 ELSE 0 END AS r_word_count,
           CASE WHEN mean_word_len >= {GOPHER_MIN_MEAN_LEN} AND mean_word_len <= {GOPHER_MAX_MEAN_LEN} THEN 1 ELSE 0 END AS r_mean_len,
           CASE WHEN symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO} THEN 1 ELSE 0 END AS r_symbol,
           CASE WHEN alpha_ratio > {GOPHER_MIN_ALPHA_RATIO} THEN 1 ELSE 0 END AS r_alpha,
           CASE WHEN n_stop >= {GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END AS r_stopwords,
           CASE WHEN n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                 AND mean_word_len >= {GOPHER_MIN_MEAN_LEN} AND mean_word_len <= {GOPHER_MAX_MEAN_LEN}
                 AND symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO}
                 AND alpha_ratio > {GOPHER_MIN_ALPHA_RATIO}
                 AND n_stop >= {GOPHER_MIN_STOPWORDS}
                THEN 1 ELSE 0 END AS keep
    FROM r ORDER BY doc_id
    """

    @register("text_gopher_rules", oracle)
    def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Gopher-style repetition-free quality rules as a per-document,
        per-RULE audit (word-count bounds, mean word length, symbol
        ratio, alphabetic-word ratio, distinct-stopword floor): each rule
        is its own 0/1 column so a curation run can read WHICH gate
        rejects how much data before composing them — the practical form
        of the heuristic filter every pretraining pipeline runs first.

        Engine parity: every ratio is a ratio of small integers, so all
        three go through ``stable_round`` BEFORE the threshold compares
        (CLAUDE.md ratio-lattice rule — mean word length hits x.0 exactly
        on short docs). Scale: one map-only pass over the corpus (array
        ops in codegen, no Python, no shuffle except the output sort)."""
        docs = load_table(spark, sf_dir, "documents")
        toks = tokenize("text")
        n_tokens = F.size(toks)
        guard = n_tokens == 0
        mean_len = stable_round(
            F.when(guard, F.lit(0.0)).otherwise(
                F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
                .cast("double")
                / n_tokens
            ),
            4,
        )
        n_symbol = F.size(
            F.filter(
                toks,
                lambda x: x.contains("#") | x.contains("..."),
            )
        )
        n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
        symbol_ratio = stable_round(
            F.when(guard, F.lit(0.0)).otherwise(
                n_symbol.cast("double") / n_tokens
            ),
            4,
        )
        alpha_ratio = stable_round(
            F.when(guard, F.lit(0.0)).otherwise(n_alpha.cast("double") / n_tokens),
            4,
        )
        n_stop = F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(s) for s in STOPWORDS]),
            )
        )
        m = docs.select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            mean_len.alias("mean_word_len"),
            symbol_ratio.alias("symbol_ratio"),
            alpha_ratio.alias("alpha_ratio"),
            n_stop.cast("long").alias("n_stopwords"),
        )
        r_word = (
            F.col("n_tokens").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        ).cast("int")
        r_mean = (
            (F.col("mean_word_len") >= GOPHER_MIN_MEAN_LEN)
            & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_LEN)
        ).cast("int")
        r_symbol = (F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO).cast("int")
        r_alpha = (F.col("alpha_ratio") > GOPHER_MIN_ALPHA_RATIO).cast("int")
        r_stop = (F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS).cast("int")
        return m.select(
            "*",
            r_word.alias("r_word_count"),
            r_mean.alias("r_mean_len"),
            r_symbol.alias("r_symbol"),
            r_alpha.alias("r_alpha"),
            r_stop.alias("r_stopwords"),
            (r_word * r_mean * r_symbol * r_alpha * r_stop).alias("keep"),
        ).orderBy("doc_id")


_register_gopher_rules()


#: weighted-reservoir sample size
WRS_K = 20


def _register_weighted_reservoir():
    from wordcount_spark.operators.relational import stable_round, stable_round_sql

    oracle = f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             {stable_round_sql(
                 "ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT + 1)"
                 " / 268435457.0) / n_chars", 8)} AS sort_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, sort_key
    FROM keyed
    ORDER BY sort_key DESC, doc_id
    LIMIT {WRS_K}
    """

    @register("sample_weighted_reservoir", oracle)
    def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Weighted sampling without replacement (Efraimidis–Spirakis
        A-ES): each doc gets key = ln(u) / w for a deterministic uniform
        u ∈ (0,1) (md5-derived, so re-runs and the oracle pick the SAME
        sample) and weight w = n_chars; the top-k keys ARE a weighted
        reservoir sample — the length-biased pick a mixture builder uses
        to favor substantial documents without a global sort by weight.

        Engine parity: u is the exact rational (h+1)/(2^28+1) from the
        28-bit md5 slice (positive in both engines' BIGINT); one ln per
        row over exact integers, and the key is stable_round'ed to 8dp
        BEFORE the ranking compare with a doc_id tiebreak, so top-k
        membership cannot flip on libm ulp (repo ln/lattice rules).

        Scale: map-only key projection (md5 + one ln, dwarfed by the
        scan), then TakeOrdered top-k — no shuffle, no global sort, no
        reservoir state beyond k rows per partition."""
        docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
        h = F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10
        ).cast("long")
        key = stable_round(
            F.log((h + 1) / F.lit(268435457.0)) / F.col("n_chars"), 8
        )
        return (
            docs.select("doc_id", "lang", "n_chars", key.alias("sort_key"))
            .orderBy(F.desc("sort_key"), "doc_id")
            .limit(WRS_K)
        )


_register_weighted_reservoir()


@register(
    "text_heavyhitters_twopass",
    """
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM toks),
    cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
    SELECT tok, cnt FROM cnt, tot WHERE cnt >= n // 100
    ORDER BY cnt DESC, tok
    """,
)
def text_heavyhitters_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ=1% heavy hitters WITHOUT shuffling the token stream: pass 1
    runs a per-partition Misra-Gries summary (capacity 256 ≥ 1/φ, so the
    candidate union provably contains every ≥1% token — see
    operators/sketches.py) that ALSO carries each partition's exact token
    count, pass 2 exactly recounts candidates only and applies the
    integer threshold ``n div 100`` (integer arithmetic on both engines —
    no float-threshold ulp edge). The oracle recomputes the SAME answer
    the direct way (full groupBy + threshold), which is exactly the
    guarantee under test: superset candidates + exact recount ≡ exact
    heavy hitters, independent of partitioning.

    Scale: the stream is scanned exactly TWICE and shuffled never — the
    only exact-HH shape that survives 100 TB of tokens. The O(P×256)-row
    pass-1 summary is localCheckpointed so its two consumers (candidate
    set, Σ part_total) don't re-run the scan (r3's three-scan shape —
    separate total count — profiled as the worst scale_check outlier);
    pass 2's groupBy is map-side combined to O(P×|candidates|) partials,
    and the 1-row total fans out via a broadcast nested-loop
    (allowlisted). The ≤100-row result sorts in one task (``sort_small``).
    """
    from wordcount_spark.operators.sketches import misra_gries_summary_arrays

    docs = load_table(spark, sf_dir, "documents")
    tok_arr = tokenize(F.lower("text"))
    toks = docs.select(F.explode(tok_arr).alias("tok"))
    # O(P×capacity) rows materialized once; both branches below read it.
    # Pass 1 crosses the Arrow boundary as token ARRAYS (per-doc rows) —
    # ~2× cheaper than per-token rows at 50× data (r4 profile).
    summ = bounded_checkpoint(
        misra_gries_summary_arrays(
            docs.select(tok_arr.alias("toks")), "toks", "tok", capacity=256
        )
    )
    cand = summ.where(F.col("tok").isNotNull()).select("tok").distinct()
    # broadcast hint gated on a MEASURED count (the cheap count reads the
    # checkpointed O(P×256) summary, not the stream): without the hint
    # Catalyst plans a SortMergeJoin that shuffles the full token stream
    # against the tiny candidate set — the exact shuffle this operator
    # exists to avoid (caught in the r4 profile). AQE's runtime broadcast
    # conversion cannot stand in: it re-plans only after the stream side's
    # exchange has run. Over the cap (unbounded P at extreme scale) the
    # engine's shuffle join is the right call.
    n_cand = cand.count()
    cand_b = F.broadcast(cand) if n_cand <= 1_000_000 else cand
    counts = toks.join(cand_b, "tok", "left_semi").groupBy("tok").agg(
        F.count("*").alias("cnt")
    )
    total = summ.agg(F.sum("part_total").alias("n"))
    # φ = 1% admits at most 100 tokens: an O(groups) result
    hh = counts.crossJoin(total).filter(F.col("cnt") >= F.expr("n div 100"))
    return sort_small(hh.select("tok", "cnt"), F.desc("cnt"), "tok")


@register(
    "text_skipgram_pairs",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
             '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks
      FROM documents
    ),
    e AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM t
    )
    SELECT a.tok AS center, b.tok AS context, count(*) AS n
    FROM e a JOIN e b
      ON a.doc_id = b.doc_id AND (b.pos - a.pos) IN (-2, -1, 1, 2)
    GROUP BY 1, 2
    ORDER BY n DESC, center, context
    LIMIT 200
    """,
)
def text_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair extraction with a ±2 window — the
    training-pair generator for word2vec-style embedding pretraining.
    SHUFFLE-FREE pair generation: adjacent pairs come from zipping the
    token array against itself shifted by 1 and by 2 (``arrays_zip`` of
    two slices — whole-stage-codegen array ops, no positions table, no
    self-join); the backward offsets are the forward pairs emitted in
    both directions. The only shuffle is the map-side-combinable pair
    aggregate. (A first cut joined an offset-exploded positions table
    back on (doc_id, pos): correct, but it shuffled 5× the token stream —
    tools/scale_check.py showed 8.3× growth at 50× data vs ~2× for the
    zip form. The oracle states the window as a non-equi position join,
    fine at oracle scale.) Top-200 by count with (center, context)
    tiebreak keeps the output deterministic.

    Scale: pair generation is narrow per-row array work; the shuffle
    carries O(distinct pairs) partials, not the token stream. Window
    radius w costs w zip-shifts, linear not quadratic. The top-k is a
    sort-limit (TakeOrdered) on the aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokenize(F.lower("text")).alias("t"))

    def shifted_pairs(d: int):
        # (t[i], t[i+d]) for all valid i — struct array via arrays_zip
        n = F.size("t")
        return F.arrays_zip(
            F.slice("t", 1, F.greatest(n - d, F.lit(0))),
            F.expr(f"slice(t, {d + 1}, greatest(size(t) - {d}, 0))"),
        )

    fwd = toks.select(
        F.explode(F.concat(shifted_pairs(1), shifted_pairs(2))).alias("p")
    ).select(F.col("p")["0"].alias("a"), F.col("p")["1"].alias("b"))
    # ±window symmetry: every forward pair (a at i, b at i+d) is ALSO the
    # backward pair (center=b, context=a) — emit both directions
    both = fwd.select(F.col("a").alias("center"), F.col("b").alias("context")).unionAll(
        fwd.select(F.col("b").alias("center"), F.col("a").alias("context"))
    )
    return (
        both.groupBy("center", "context")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "center", "context")
        .limit(200)
    )


@register(
    "text_heaps_law_curve",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
             '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks
      FROM documents
    ),
    nmax AS (SELECT max(doc_id) + 1 AS n_docs FROM t),
    per_doc AS (
      SELECT doc_id, least(9, (doc_id * 10) // n_docs) AS decile,
             len(toks) AS n_tokens
      FROM t, nmax
    ),
    e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    first_seen AS (
      SELECT tok, min(doc_id) AS first_doc FROM e GROUP BY tok
    ),
    vocab_per_decile AS (
      SELECT least(9, (first_doc * 10) // n_docs) AS decile,
             count(*) AS new_vocab
      FROM first_seen, nmax GROUP BY 1
    ),
    toks_per_decile AS (
      SELECT decile, CAST(sum(n_tokens) AS BIGINT) AS d_tokens
      FROM per_doc GROUP BY decile
    )
    SELECT t.decile,
           CAST(sum(t.d_tokens) OVER (ORDER BY t.decile) AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(v.new_vocab, 0)) OVER (ORDER BY t.decile) AS BIGINT)
             AS cum_vocab
    FROM toks_per_decile t LEFT JOIN vocab_per_decile v USING (decile)
    ORDER BY decile
    """,
)
def text_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: cumulative distinct-token
    count vs cumulative token count at 10 corpus checkpoints, reading the
    corpus in doc_id order. The classic dedup/quality diagnostic — a
    corpus whose vocab curve flattens early is repetitive or templated.
    Checkpoints are integer deciles of the dense doc_id space
    ((doc_id·10) div n_docs), so NO global window ever touches a
    row-scale frame: each token's first occurrence is a groupBy(token)
    min, per-decile sums are map-side combinable, and the only windows
    (the two running sums) run over the 10-row decile frame.

    Scale: two corpus-wide aggregates (token→min(doc_id), per-decile
    token sums) + a 10-row cumulative — the vocabulary table is the big
    intermediate (O(vocab)), exactly what the BPE/heavy-hitter queries
    already materialize. First-occurrence at doc granularity is the
    standard formulation (within-doc order adds nothing at corpus
    scale)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize(F.lower("text")).alias("toks"))
    nmax = t.agg((F.max("doc_id") + 1).alias("n_docs"))
    per_doc = t.crossJoin(F.broadcast(nmax)).select(
        F.least(F.lit(9), F.expr("doc_id * 10 div n_docs")).alias("decile"),
        F.size("toks").alias("n_tokens"),
    )
    e = t.select("doc_id", F.explode("toks").alias("tok"))
    first_seen = e.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    vocab_per_decile = (
        first_seen.crossJoin(F.broadcast(nmax))
        .groupBy(
            F.least(F.lit(9), F.expr("first_doc * 10 div n_docs")).alias("decile")
        )
        .agg(F.count("*").alias("new_vocab"))
    )
    toks_per_decile = per_doc.groupBy("decile").agg(
        F.sum("n_tokens").alias("d_tokens")
    )
    from pyspark.sql import Window

    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        toks_per_decile.join(vocab_per_decile, "decile", "left")
        .select(
            "decile",
            F.sum("d_tokens").over(w).alias("cum_tokens"),
            F.sum(F.coalesce("new_vocab", F.lit(0))).over(w).alias("cum_vocab"),
        )
        .orderBy("decile")
    )


@register(
    "text_zipf_fit",
    f"""
    WITH freq AS (
      SELECT tok, count(*) AS f
      FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                   '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok FROM documents)
      GROUP BY tok
    ),
    top AS (
      SELECT tok, f FROM freq ORDER BY f DESC, tok LIMIT 1000
    ),
    pts AS (
      SELECT CAST(round(ln(row_number() OVER (ORDER BY f DESC, tok)), 4)
                  AS DECIMAL(18,4)) AS x,
             CAST(round(ln(f), 4) AS DECIMAL(18,4)) AS y
      FROM top
    ),
    sums AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(x * x) AS DOUBLE) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope
    FROM sums
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) against ln(rank) over
    the top-1000 vocabulary — natural text sits near −1; a corpus that
    deviates hard is templated, spammy, or deduplicated wrong (the
    companion diagnostic to `text_heaps_law_curve`). Engine parity: each
    ln is rounded to 4dp (repo ln rule — irrational values never sit on
    the round lattice) and fixed as DECIMAL(18,4); the moment sums
    Σx, Σy, Σxy, Σx² are EXACT decimal arithmetic, so the only float ops
    are the final slope expression, written in the identical order on
    both sides.

    Scale: the frequency table is the wordcount aggregate (map-side
    combinable); top-1000 is a sort-limit (per-partition TakeOrdered,
    never a full sort); the rank window runs over the 1000-row frame
    only. The regression itself is one tiny aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize(F.lower("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    top = freq.orderBy(F.desc("f"), "tok").limit(1000)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("f"), "tok")
    pts = top.select(
        F.round(F.log(F.row_number().over(w)), 4).cast("decimal(18,4)").alias("x"),
        F.round(F.log("f"), 4).cast("decimal(18,4)").alias("y"),
    )
    sums = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("zipf_slope"),
    )


def _hash64(col: F.Column) -> F.Column:
    """Engine-portable 60-bit token hash: leading 15 hex digits of md5,
    parsed base-16 (the same token hash as operators/dedup.simhash —
    DuckDB computes the identical value with
    ``('0x' || substr(md5(s),1,15))::BIGINT``). Always non-negative."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_HASH64_SQL = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"


@register(
    "text_feature_hash_vectors",
    f"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                    '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok
      FROM documents
    )
    SELECT {_HASH64_SQL.format(s="tok")} % 64 AS bucket,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
           CAST(count(*) AS BIGINT) AS total_cnt
    FROM toks GROUP BY bucket ORDER BY bucket
    """,
)
def text_feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (the count-vectorizer of fastText /
    Vowpal Wabbit): every token maps to one of D=64 buckets by a portable
    md5-derived hash, so the feature space is FIXED-width no matter how
    the vocabulary grows — no vocabulary dictionary to build, broadcast,
    or keep consistent across batches. Output is the bucket-level audit
    (distinct tokens per bucket = collision load, total counts): the
    per-doc sparse vectors are this same frame grouped one level finer.

    Scale: one explode + one map-side-combinable groupBy on a key with
    64 values — the aggregate state is O(64 × partitions) regardless of
    corpus size. No vocabulary table exists at all (THE reason the
    hashing trick survives 100 TB where a dictionary-based vectorizer
    needs a consistent, ever-growing broadcast)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize(F.lower("text"))).alias("tok"))
        .select((_hash64(F.col("tok")) % 64).alias("bucket"), "tok")
        .groupBy("bucket")
        .agg(
            F.count_distinct("tok").alias("n_terms"),
            F.count("*").alias("total_cnt"),
        )
        .orderBy("bucket")
    )


@register(
    "text_tfidf_doc_similarity",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text),
                    '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfreq AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY tok
      HAVING count(*) BETWEEN 2 AND 20
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.tok,
             CAST(tf.tf AS DECIMAL(9,4))
               * CAST(round(ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4)
                      AS DECIMAL(9,4)) AS w
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    ),
    norms AS (SELECT doc_id, sum(w * w) AS nsq FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb,
             CAST(count(*) AS BIGINT) AS n_shared, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT ida, idb, n_shared,
           floor((CAST(dot AS DOUBLE)
                  / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))))
                 * 1000000.0 + 1e-6) / 1000000.0 + 0.0 AS cos_sim
    FROM dots JOIN norms na ON na.doc_id = ida JOIN norms nb ON nb.doc_id = idb
    ORDER BY cos_sim DESC, ida, idb LIMIT 20
    """,
)
def text_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most similar document PAIRS by TF-IDF cosine, computed
    sparsely through the inverted index: two docs only ever meet on a
    term they share, so there is no dense doc×doc matmul anywhere. Terms
    are df-banded (2 ≤ df ≤ 20): df<2 cannot form a pair, and df above
    the cap carries near-zero idf while contributing the quadratic
    fan-out — dropping it bounds the per-term pair blow-up at cap²
    (exactly the trick MinHash banding uses for dedup, here for scoring).
    Engine parity: idf = round(ln(N/df), 4) fixed as DECIMAL (repo ln
    rule; N is a broadcast one-row aggregate), tf exact — so weights,
    dots, and squared norms are exact decimal arithmetic; the ONLY float
    math is the final dot/(√na·√nb), stable_round'ed on both sides.

    Scale: tf and df are map-side-combinable aggregates; the self-join
    shuffles the df-banded weight frame once on the term key; per-term
    fan-out ≤ C(20,2); top-20 is TakeOrdered, never a global sort. At
    100 TB you tighten the df band (or sample per term) — the plan
    shape is unchanged."""
    from wordcount_spark.operators.relational import stable_round

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize(F.lower("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = (
        tf.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 20))
    )
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    w = tf.join(dfreq, "tok").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "tok",
        (
            F.col("tf").cast("decimal(9,4)")
            * F.round(F.log(F.col("n_docs") / F.col("df")), 4).cast(
                "decimal(9,4)"
            )
        ).alias("w"),
    )
    # pinned: the pair join consumes it twice and the norms once
    w = bounded_cache(w)
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nsq"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .agg(
            F.count("*").alias("n_shared"),
            F.sum(F.col("a.w") * F.col("b.w")).alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("ida"), F.col("nsq").alias("nsqa"))
    nb = norms.select(F.col("doc_id").alias("idb"), F.col("nsq").alias("nsqb"))
    return (
        dots.join(na, "ida")
        .join(nb, "idb")
        .select(
            "ida",
            "idb",
            "n_shared",
            stable_round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nsqa").cast("double"))
                    * F.sqrt(F.col("nsqb").cast("double"))
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "ida", "idb")
        .limit(20)
    )


@register(
    "text_winnowing_fingerprints",
    """
    WITH base AS (
      SELECT doc_id, text, length(text) AS len FROM documents
      WHERE length(text) >= 11
    ),
    pos AS (
      SELECT doc_id, len, text, unnest(range(1, len - 6)) AS p FROM base
    ),
    g AS (
      SELECT doc_id, len, p,
             CAST(('0x' || substr(md5(substr(text, CAST(p AS INT), 8)), 1, 15))
                  AS BIGINT) AS h
      FROM pos
    ),
    m AS (
      SELECT doc_id, len, p,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      FROM g
    )
    SELECT doc_id,
           CAST(count(DISTINCT wmin) AS BIGINT) AS n_fp,
           CAST(max(len - 10) AS BIGINT) AS n_windows,
           floor((CAST(count(DISTINCT wmin) AS DOUBLE) / max(len - 10))
                 * 1000000.0 + 1e-6) / 1000000.0 + 0.0 AS density
    FROM m WHERE p <= len - 10
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD'03):
    hash every k=8 char-gram, slide a w=4 window over the hash sequence,
    and keep each window's minimum — the guarantee is every shared
    substring of length ≥ k+w-1 leaves at least one common fingerprint,
    at ~2/(w+1) the density of full k-gram shingling. The selected VALUE
    set is exactly the distinct window-min set, which sidesteps the
    rightmost-tie positional rule entirely (tie choices change positions,
    never values) — so the per-doc fingerprint count and density are
    tie-rule-independent and engine-portable. Companion to
    `text_fingerprint`/`text_rolling_fingerprint` (those shingle at full
    density; this is the budgeted variant you actually store at scale).

    Scale: explode is O(chars) rows but they stay put — the window min
    runs inside the per-doc sort of ONE shuffle on doc_id, and the
    distinct-count collapses to O(docs) rows. Fingerprint storage per doc
    is ~2/(w+1) of full shingling, which is the point at 100 TB."""
    from wordcount_spark.operators.relational import stable_round

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", F.length("text").alias("len")).filter(
        F.col("len") >= 11
    )
    g = base.select(
        "doc_id",
        "len",
        F.explode(F.sequence(F.lit(1), F.col("len") - 7)).alias("p"),
        "text",
    ).select(
        "doc_id",
        "len",
        "p",
        _hash64(F.col("text").substr(F.col("p"), F.lit(8))).alias("h"),
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, 3)
    m = g.select("doc_id", "len", "p", F.min("h").over(win).alias("wmin")).filter(
        F.col("p") <= F.col("len") - 10
    )
    return (
        m.groupBy("doc_id")
        .agg(
            F.count_distinct("wmin").alias("n_fp"),
            F.max(F.col("len") - 10).cast("long").alias("n_windows"),
        )
        .select(
            "doc_id",
            "n_fp",
            "n_windows",
            stable_round(
                F.col("n_fp").cast("double") / F.col("n_windows"), 6
            ).alias("density"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_ngram_novelty",
    """
    WITH d AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS a
      FROM documents),
    g AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(range(1, len(a) - 1),
                    i -> a[i] || ' ' || a[i + 1] || ' ' || a[i + 2])) AS gram
      FROM d WHERE len(a) >= 3),
    f AS (
      SELECT doc_id, source,
             CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY gram)
                  THEN 1 ELSE 0 END AS novel
      FROM g)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(novel) AS BIGINT) AS n_novel,
           floor((CAST(sum(novel) AS DOUBLE) / count(*)) * 1000000.0 + 1e-6)
             / 1000000.0 + 0.0 AS novelty_ratio
    FROM f GROUP BY source ORDER BY source
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: the fraction of each source's DISTINCT
    doc-level trigrams whose globally first occurrence (min doc_id) is in
    that very document — the "how much genuinely new text does this
    source add" curve that drives mixture weights and crawl-dedup policy
    (a source whose novelty ratio collapses is re-crawling what the
    corpus already holds). Trigram construction is pure array math on the
    split token list (transform over an index sequence — no per-doc
    window, no self-join), distinct-ed at (doc, gram) grain so a phrase
    repeated inside one doc counts once.

    Scale: two shuffles of the gram stream — the (doc,gram) distinct and
    the partitionBy(gram) first-occurrence window (min over the
    partition, O(1) state, never a global window); the per-source rollup
    is map-side-combinable into O(sources) groups. novelty_ratio is a
    ratio of small integers → stable_round (repo lattice rule)."""
    from pyspark.sql import Window

    from wordcount_spark.operators.relational import stable_round

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", tokenize(F.lower("text")).alias("a"))
    g = (
        d.filter(F.size("a") >= 3)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("a") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("a", i),
                        F.element_at("a", i + 1),
                        F.element_at("a", i + 2),
                    ),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    novel = (
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("gram"))
    ).cast("int")
    return (
        g.select("doc_id", "source", novel.alias("novel"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("novel").alias("n_novel"),
        )
        .select(
            "source",
            "n_grams",
            "n_novel",
            stable_round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 6
            ).alias("novelty_ratio"),
        )
        .orderBy("source")
    )


@register(
    "text_tokenizer_fertility",
    f"""
    WITH per_doc AS (
      SELECT lang,
             len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}'))
               AS bpe,
             len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                             x -> x <> '')) AS ws,
             n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           {stable_round_sql('CAST(sum(bpe) AS DOUBLE) / sum(ws)', 6)} AS fertility,
           {stable_round_sql('CAST(sum(n_chars) AS DOUBLE) / sum(bpe)', 6)} AS chars_per_token
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish subword tokens per
    whitespace word and characters per subword token — the per-language
    cost model every multilingual pretraining budget is built on (a
    tokenizer with fertility 2.8 on one language pays 2.8× the sequence
    length for the same text; see e.g. the XLM-R and BLOOM tokenizer
    analyses). Reuses the exact `_BPE_RE` pre-tokenizer that
    `text_bpe_token_count` counts with, aggregated to the language grain.
    Both ratios are integer-over-integer — the rounding-lattice class —
    so they go through stable_round on both sides.

    Scale: map-only regex counting in codegen feeding one
    map-side-combinable aggregation on lang (O(langs) result rows); no
    joins, the sums are exact BIGINTs so the ratios are bit-identical
    regardless of partitioning.
    """
    from wordcount_spark.operators.relational import stable_round

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("bpe"),
        F.size(tokenize("text")).alias("ws"),
        "n_chars",
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "bpe_tokens",
        "ws_tokens",
        stable_round(
            F.col("bpe_tokens").cast("double") / F.col("ws_tokens"), 6
        ).alias("fertility"),
        stable_round(
            F.col("chars").cast("double") / F.col("bpe_tokens"), 6
        ).alias("chars_per_token"),
    ).orderBy("lang")
