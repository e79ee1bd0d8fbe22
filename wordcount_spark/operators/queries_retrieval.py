"""Document retrieval operators: BM25 lexical scoring and hybrid
lexical+vector rank fusion — the QUERY side of a RAG stack (the index
side is ``pipeline_rag_corpus``). The reference has no retrieval at all
(SURVEY.md §2.7); these are the operators a user points at a curated
corpus to serve it.

Engine parity: idf carries ``ln`` → rounded to 4dp (repo ln rule); the
per-term BM25 contributions are rounded to 6dp and summed as exact
DECIMAL(18,6) so the per-doc score does not depend on float summation
order; ranks are computed over the rounded scores with doc_id tiebreaks,
so rank assignment is identical across engines; RRF adds exactly two
reciprocal terms in a fixed expression order (no aggregation) and the
sum — a ratio of small integers, the exact lattice class the repo's
rounding rule covers — goes through ``stable_round`` on both sides.

Scale: the corpus token scan is filtered to the query vocabulary BEFORE
the explode aggregates (9 terms — the tf frame is O(matching docs), not
O(tokens)); doc lengths are a narrow per-doc aggregate; N/avgdl/df are
tiny broadcast scalars. Rank fusion joins two top-k candidate POOLS
(WindowGroupLimit keeps k rows per query per mapper), never the full
per-ranker rankings — the standard candidate-pool RRF that holds at
100 TB corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wordcount_spark.functions.text import tokenize
from wordcount_spark.operators.relational import stable_round, stable_round_sql
from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table
from wordcount_spark.operators.caching import bounded_cache

K1 = 1.2
B = 0.75
RRF_K = 60
POOL = 20  # per-ranker candidate pool size for fusion
TOPK = 10

#: Fixed keyword queries over the synthetic corpus vocabulary. qids align
#: with the embedding query set (``vec_id < 3``) used by the vector side.
QUERY_TERMS: dict[int, tuple[str, ...]] = {
    0: ("join", "hash", "scan"),
    1: ("stream", "window", "batch"),
    2: ("vector", "query", "sort"),
}

_QUERY_VALUES_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, terms in QUERY_TERMS.items() for t in terms
)

_TOKS_LOWER_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')"
)

# Shared SQL chain: tokenize → doc lengths → corpus scalars → tf/df →
# per-term contribution → per-doc BM25 score → per-query ranks.
_BM25_SQL = f"""
    q(qid, term) AS (SELECT * FROM (VALUES {_QUERY_VALUES_SQL})),
    toks AS (
      SELECT doc_id, unnest({_TOKS_LOWER_SQL}) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT qid, term, doc_id, count(*) AS tf
      FROM toks JOIN q ON tok = term
      GROUP BY qid, term, doc_id
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.qid, tf.doc_id,
             CAST(round(
               round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
               * ((tf * ({K1} + 1.0))
                  / (tf + {K1} * (1.0 - {B} + {B} * dl.dl / avgdl))),
             6) AS DECIMAL(18,6)) AS c
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id), corpus
    ),
    scores AS (
      SELECT qid, doc_id, CAST(sum(c) AS DOUBLE) AS score
      FROM contrib GROUP BY qid, doc_id
    ),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      FROM scores
    )
"""


def _bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, doc_id, score DOUBLE, rnk) for every doc matching ≥1 term.

    ONE pass over the corpus: the query vocabulary is a fixed literal
    set, so per-doc term frequencies are conditional sums computed in the
    SAME aggregation as the doc length — one scan, one doc_id-keyed
    exchange; the stack() unpivot and everything after it operate on the
    per-doc frame (O(docs), then O(matching docs))."""
    docs = load_table(spark, sf_dir, "documents")
    qdf = F.broadcast(
        spark.createDataFrame(
            [(qid, t) for qid, terms in QUERY_TERMS.items() for t in terms],
            ["qid", "term"],
        )
    )
    vocab = sorted({t for terms in QUERY_TERMS.values() for t in terms})
    toks = docs.select(
        "doc_id",
        F.explode(
            tokenize(F.lower("text"))
        ).alias("tok"),
    )
    counts = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum((F.col("tok") == t).cast("long")).alias(f"tf_{i}")
            for i, t in enumerate(vocab)
        ],
    )
    # cached: the corpus-stats scalar and the unpivot both consume this
    # O(docs) frame; without the cache the token scan runs twice
    counts = bounded_cache(counts)
    corpus = counts.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    stack_expr = "stack({n}, {args}) AS (term, tf)".format(
        n=len(vocab),
        args=", ".join(f"'{t}', tf_{i}" for i, t in enumerate(vocab)),
    )
    tf = (
        counts.select("doc_id", "dl", F.expr(stack_expr))
        .where(F.col("tf") > 0)
        .join(qdf, "term")
        .select("qid", "term", "doc_id", "tf", "dl")
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.round(
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0), 4
    )
    tfnorm = (
        F.col("tf")
        * (K1 + 1.0)
        / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl")))
    )
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "qid",
            "doc_id",
            F.round(idf * tfnorm, 6).cast("decimal(18,6)").alias("c"),
        )
    )
    scores = contrib.groupBy("qid", "doc_id").agg(
        F.sum("c").cast("double").alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
    return scores.withColumn("rnk", F.row_number().over(w))


@register(
    "retrieval_bm25_topk",
    f"""
    WITH {_BM25_SQL}
    SELECT qid, rnk AS rank, doc_id, score
    FROM ranked WHERE rnk <= {TOPK}
    ORDER BY qid, rank
    """,
)
def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-10 documents for three fixed keyword
    queries — the standard lexical ranking function, expressed as pure
    relational algebra (tf/df/dl aggregates + one scoring projection).

    Scale: the only corpus-sized work is ONE token scan; everything after
    the `tf` aggregation is query-vocabulary-sized. The final top-k is a
    per-query WindowGroupLimit, not a global sort. (At 100 TB you'd keep
    the df/dl statistics as a maintained table — they're the same
    aggregates this plan computes inline.)"""
    return (
        _bm25_ranked(spark, sf_dir)
        .where(F.col("rnk") <= TOPK)
        .select("qid", F.col("rnk").alias("rank"), "doc_id", "score")
        .orderBy("qid", "rank")
    )


def _register_hybrid():
    """Closure: the oracle composes the BM25 chain with the cosine chain
    shared with the similarity module."""
    from wordcount_spark.operators.queries_similarity import _NORM_SQL

    dot = (
        "list_sum(list_transform(range(1, 65), "
        "i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))"
    )
    oracle = f"""
    WITH {_BM25_SQL},
    bpool AS (SELECT qid, doc_id, rnk AS rb FROM ranked WHERE rnk <= {POOL}),
    qe AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 3),
    sims AS (
      SELECT qe.qid, e.vec_id AS doc_id,
             {dot} / ({_NORM_SQL.format(v="qe.embedding")}
                      * {_NORM_SQL.format(v="e.embedding")}) AS cos
      FROM qe CROSS JOIN embeddings e
    ),
    cpool AS (
      SELECT qid, doc_id, rc FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rc
        FROM sims) t WHERE rc <= {POOL}
    ),
    fused AS (
      SELECT coalesce(bpool.qid, cpool.qid) AS qid,
             coalesce(bpool.doc_id, cpool.doc_id) AS doc_id,
             coalesce(rb, 0) AS bm25_rank,
             coalesce(rc, 0) AS cos_rank,
             {stable_round_sql(f"coalesce(1.0 / ({RRF_K} + rb), 0.0)"
                               f" + coalesce(1.0 / ({RRF_K} + rc), 0.0)", 6)}
               AS rrf_score
      FROM bpool FULL OUTER JOIN cpool USING (qid, doc_id)
    )
    SELECT qid, rank, doc_id, bm25_rank, cos_rank, rrf_score FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY rrf_score DESC, doc_id) AS rank
      FROM fused) t
    WHERE rank <= {TOPK} ORDER BY qid, rank
    """

    @register("retrieval_hybrid_rrf", oracle)
    def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hybrid retrieval via Reciprocal Rank Fusion: BM25 top-20 pool ∪
        embedding-cosine top-20 pool, fused as Σ 1/(60 + rank) with a
        ranker's term dropped for docs outside its pool — the standard
        lexical+vector serving combination (and the reason a corpus
        pipeline keeps BOTH a token index and an embedding column).

        Scale: each ranker reduces to a per-query candidate pool BEFORE
        the join (k rows per query per ranker), so the fusion join is
        O(queries × k) regardless of corpus size. doc_id ≡ vec_id keys
        both sides (the multiquery/IVF paths are drop-in for the scan
        here, same as pipeline_rag_corpus)."""
        from wordcount_spark.operators.queries_similarity import cosine

        bpool = (
            _bm25_ranked(spark, sf_dir)
            .where(F.col("rnk") <= POOL)
            .select("qid", "doc_id", F.col("rnk").alias("rb"))
        )
        emb = load_table(spark, sf_dir, "embeddings")
        qe = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
        )
        sims = emb.crossJoin(F.broadcast(qe)).select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
        wc = Window.partitionBy("qid").orderBy(F.desc("cos"), "doc_id")
        cpool = (
            sims.withColumn("rc", F.row_number().over(wc))
            .where(F.col("rc") <= POOL)
            .select("qid", "doc_id", "rc")
        )
        fused = (
            bpool.join(cpool, ["qid", "doc_id"], "full_outer")
            .select(
                "qid",
                "doc_id",
                F.coalesce("rb", F.lit(0)).alias("bm25_rank"),
                F.coalesce("rc", F.lit(0)).alias("cos_rank"),
                stable_round(
                    F.coalesce(1.0 / (RRF_K + F.col("rb")), F.lit(0.0))
                    + F.coalesce(1.0 / (RRF_K + F.col("rc")), F.lit(0.0)),
                    6,
                ).alias("rrf_score"),
            )
        )
        wf = Window.partitionBy("qid").orderBy(F.desc("rrf_score"), "doc_id")
        return (
            fused.withColumn("rank", F.row_number().over(wf))
            .where(F.col("rank") <= TOPK)
            .select("qid", "rank", "doc_id", "bm25_rank", "cos_rank", "rrf_score")
            .orderBy("qid", "rank")
        )


_register_hybrid()


@register(
    "retrieval_inverted_index",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_LOWER_SQL}) AS term FROM documents
    ),
    postings AS (
      SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id
    )
    SELECT term,
           count(*) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           array_to_string(list(doc_id ORDER BY doc_id)[1:20], ',') AS posting_head
    FROM postings
    GROUP BY term
    HAVING count(*) >= 50
    ORDER BY term
    """,
)
def retrieval_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index BUILD: term → (document frequency, collection
    frequency, doc_id-sorted posting list) — the index side of the BM25
    stack, emitted as a queryable table. Posting lists are materialized
    with ``sort_array(collect_list(...))`` per term; the output keeps the
    first 20 doc_ids as a comma string (array outputs stringify
    differently per engine; the head is what a hash check can pin) and
    only terms with df ≥ 50 (the segment-worthy vocabulary).

    Scale: (term, doc) tf pairs come from one map-side-combinable
    aggregate of the token explode; the per-term collect_list is the real
    index build a search engine does — posting size is bounded by df, and
    a pathological stopword term (df ≈ corpus size) is exactly the term a
    production index drops via the df ceiling / stopword list; the df
    floor here is the same guardrail in the other direction. No driver
    collect; the index is a DataFrame you write out partitioned by term
    prefix."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            tokenize(F.lower("text"))
        ).alias("term"),
    )
    postings = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    return (
        postings.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20), ","
            ).alias("posting_head"),
        )
        .where(F.col("df") >= 50)
        .orderBy("term")
    )


#: Fixed two-word phrases over the corpus vocabulary for positional match.
PHRASES: tuple[tuple[str, str], ...] = (
    ("table", "scan"),
    ("hash", "join"),
    ("sort", "merge"),
)


def _phrase_count_sql(w1: str, w2: str) -> str:
    """Occurrences of the adjacent pair (w1, w2) in the token list
    (DuckDB lists are 1-based; range(1, n) yields 1..n-1)."""
    return (
        f"len(list_filter(range(1, len(toks)), "
        f"i -> toks[i] = '{w1}' AND toks[i + 1] = '{w2}'))"
    )


_PHRASE_SQL_COLS = ",\n      ".join(
    f"CAST({_phrase_count_sql(w1, w2)} AS BIGINT) AS p{i}"
    for i, (w1, w2) in enumerate(PHRASES)
)
_PHRASE_STACK_SQL = " UNION ALL ".join(
    f"SELECT '{w1} {w2}' AS phrase, p{i} AS n FROM counted"
    for i, (w1, w2) in enumerate(PHRASES)
)


@register(
    "retrieval_phrase_match",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    counted AS (
      SELECT doc_id,
      {_PHRASE_SQL_COLS}
      FROM t
    ),
    long AS ({_PHRASE_STACK_SQL})
    SELECT phrase, CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_occurrences
    FROM long GROUP BY phrase ORDER BY phrase
    """,
)
def retrieval_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching — the positional-index query a plain
    bag-of-words inverted index cannot answer. Spark-first form: NO
    positional explode and NO self-join on (doc, pos+1) — each phrase is
    one linear array scan per document (``filter`` over the offset range
    with 1-based ``element_at``, the same formula DuckDB runs on its
    1-based lists), then the per-phrase counts unpivot via ``stack``.
    Zero joins, zero extra shuffles: one doc scan + one 3-group
    aggregation.

    Scale: per-doc work is O(tokens × phrases) inside whole-stage
    codegen; the shuffle carries 3 rows per mapper after partial
    aggregation. An adjacency self-join formulation would shuffle the
    full positional posting list (O(tokens) rows); this never leaves the
    scan. At serving scale the phrase list is the broadcast side and the
    same scan evaluates all phrases in one pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    counted = docs.select(
        "doc_id",
        *[
            F.when(
                F.size(toks) >= 2,
                F.size(
                    F.filter(
                        F.sequence(F.lit(1), F.size(toks) - 1),
                        lambda i: (F.element_at(toks, i) == F.lit(w1))
                        & (F.element_at(toks, i + 1) == F.lit(w2)),
                    )
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias(f"p{i}")
            for i, (w1, w2) in enumerate(PHRASES)
        ],
    )
    stack_expr = ", ".join(
        f"'{w1} {w2}', p{i}" for i, (w1, w2) in enumerate(PHRASES)
    )
    long = counted.select(
        F.expr(f"stack({len(PHRASES)}, {stack_expr}) AS (phrase, n)")
    )
    return (
        long.groupBy("phrase")
        .agg(
            F.count_if(F.col("n") > 0).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("n_occurrences"),
        )
        .orderBy("phrase")
    )


@register(
    "eval_bm25_mrr",
    f"""
    WITH {_BM25_SQL},
    qn AS (SELECT qid, count(*) AS n_terms FROM q GROUP BY qid),
    rel AS (
      -- relevance label: the doc contains EVERY term of the query
      -- (per-qid term count from the q CTE, not a hardcoded literal —
      -- ADVICE r3: a future query with a different term-list length
      -- would silently produce an empty/wrong relevance set)
      SELECT q.qid, t.doc_id
      FROM q JOIN (SELECT DISTINCT doc_id, tok FROM toks) t ON q.term = t.tok
      JOIN qn ON qn.qid = q.qid
      GROUP BY q.qid, t.doc_id, qn.n_terms
      HAVING count(*) = qn.n_terms
    ),
    hits AS (
      SELECT r.qid, min(r.rnk) AS first_rank
      FROM ranked r JOIN rel ON rel.qid = r.qid AND rel.doc_id = r.doc_id
      WHERE r.rnk <= {TOPK}
      GROUP BY r.qid
    )
    SELECT q.qid,
           CAST(count(*) AS BIGINT) AS n_relevant,
           CAST(coalesce(h.first_rank, -1) AS BIGINT) AS first_relevant_rank,
           CAST(CASE WHEN h.first_rank IS NULL THEN 0
                     ELSE 1000000 // h.first_rank END AS BIGINT) AS rr_ppm
    FROM rel q LEFT JOIN hits h USING (qid)
    GROUP BY q.qid, h.first_rank
    ORDER BY q.qid
    """,
)
def eval_bm25_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: reciprocal rank of the first
    RELEVANT document in each query's BM25 top-10, where relevance is a
    deterministic conjunctive label (the doc contains every query term —
    the standard pseudo-label when no human judgments exist). Reciprocal
    ranks are integer ppm (1e6 div rank), so the metric is engine-exact;
    -1/-0 sentinels mark queries whose relevant docs all fall outside
    the cutoff. Composed from the SAME ranked CTE `retrieval_bm25_topk`
    registers, so the evaluation cannot drift from the ranker it scores.

    Scale: relevance labeling is one semi-join of the query vocabulary
    against the (doc, term) distinct frame — O(matching docs); the RR
    join touches only the top-k pool.
    """
    ranked = _bm25_ranked(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            tokenize(F.lower("text"))
        ).alias("tok"),
    ).distinct()
    qdf = F.broadcast(
        spark.createDataFrame(
            [(qid, t) for qid, terms in QUERY_TERMS.items() for t in terms],
            ["qid", "term"],
        )
    )
    # per-qid term count derived from QUERY_TERMS, mirroring the oracle's
    # qn CTE (ADVICE r3: the old literal `nt == 3` would silently break
    # for a query with a different term-list length)
    qn = F.broadcast(
        spark.createDataFrame(
            [(qid, len(terms)) for qid, terms in QUERY_TERMS.items()],
            ["qid", "n_terms"],
        )
    )
    rel = (
        qdf.join(toks, qdf["term"] == toks["tok"])
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("nt"))
        .join(qn, "qid")
        .where(F.col("nt") == F.col("n_terms"))
        .select("qid", "doc_id")
    )
    hits = (
        ranked.where(F.col("rnk") <= TOPK)
        .join(rel, ["qid", "doc_id"])
        .groupBy("qid")
        .agg(F.min("rnk").alias("first_rank"))
    )
    return (
        rel.groupBy("qid")
        .agg(F.count("*").cast("long").alias("n_relevant"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            "n_relevant",
            F.coalesce("first_rank", F.lit(-1)).cast("long").alias(
                "first_relevant_rank"
            ),
            F.expr(
                "CAST(CASE WHEN first_rank IS NULL THEN 0 "
                "ELSE 1000000 div first_rank END AS BIGINT)"
            ).alias("rr_ppm"),
        )
        .orderBy("qid")
    )
