"""Registered dedup queries — every tier oracle-backed, including the full
MinHash+LSH pipeline (xxhash64 token hashes replayed in DuckDB by
operators/xxh64_sql.py — see operators/dedup.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.operators.dedup import (
    _P,
    BANDS,
    NUM_HASHES,
    ROWS,
    _affine_params,
    doc_shingle_hashes,
    doc_shingles,
    exact_dedup_keepers,
    hamming_distance,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_array,
    simhash,
)
from wordcount_spark.functions.text import TOKS_SQL, tokenize
from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table
from wordcount_spark.operators.caching import bounded_cache

# DuckDB-side shingling (must mirror doc_shingles byte-for-byte):
# tokens of lower(text), positional 3-gram join by single space, distinct.
_SHINGLES_SQL = """
  SELECT doc_id AS id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [] END)) AS shingle
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents)
"""


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY keeper_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, min-id representative.
    Scale: one shuffle on a 128-bit hash — uniform keys, no skew."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_keepers(docs).orderBy("keeper_id")


@register(
    "dedup_exact_survivors",
    """
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1 ORDER BY doc_id
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving rows after exact dedup (window formulation).

    Scale: one exchange on the content hash; the min-id survivor is a
    per-partition streaming window, state O(1) per key.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS ida, b.id AS idb, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT ida, idb, common,
           CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.id = ida
    JOIN sizes sb ON sb.id = idb
    WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
    ORDER BY ida, idb
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.5 via the inverted shingle index (no n²
    cross join — only docs sharing a shingle meet in the join).

    Scale: the inverted index join meets only shingle-sharing pairs;
    intersection counts aggregate per pair (map-side combinable). Hot
    shingles are the skew hazard — drop top-frequency shingles (stop
    shingles) before the join at corpus scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    return jaccard_pairs(sh, 0.5).orderBy("ida", "idb")


_LSH_FINAL_ALL = """
    SELECT DISTINCT a.id AS ida, b.id AS idb
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ORDER BY ida, idb
"""


def _minhash_sql(docs: str = "documents", final: str = _LSH_FINAL_ALL) -> str:
    """DuckDB rendering of the MinHash+LSH pipeline over ``docs`` (a
    relation with ``doc_id`` and ``text``), ending in ``final``: a SELECT,
    or further CTEs and a SELECT, over the ``sh`` (id, x), ``sig`` and
    ``banded`` CTEs. The generated XXH64 pipeline (operators/xxh64_sql.py
    — Spark's exact hash, validated byte-for-byte in
    tests/test_xxh64_sql.py) hashes each DISTINCT token once, per-doc hash
    arrays rebuild positionally, and the trigram polynomial combine /
    affine minhash / banding replay `dedup.doc_shingle_hashes`,
    `dedup.minhash_signatures` and `dedup.lsh_banded_index` exactly.
    Buckets group on the band's VALUE slice rather than Spark's murmur
    bucket hash — identical pair semantics up to a ~2^-32 murmur collision
    that would also be a (documented) false candidate on the Spark side."""
    from wordcount_spark.operators.xxh64_sql import xxh64_pipeline_sql

    values = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_affine_params()))
    vh = xxh64_pipeline_sql("SELECT DISTINCT tok FROM pos")
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS toks
      FROM {docs}
    ),
    pos AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM t
    ),
    vh AS (SELECT tok, th FROM ({vh})),
    arr AS (
      SELECT doc_id, list(th ORDER BY pos) AS ths
      FROM pos JOIN vh USING (tok)
      GROUP BY doc_id
    ),
    sh AS (
      SELECT doc_id AS id,
             unnest(list_distinct(
               CASE WHEN len(ths) >= 3
                    THEN list_transform(range(1, len(ths) - 1),
                         i -> ((ths[i]*8387 + ths[i+1]) % {_P} * 8387
                               + ths[i+2]) % {_P})
                    ELSE [] END)) AS x
      FROM arr
    ),
    params(i, a, b) AS (SELECT * FROM (VALUES {values})),
    m AS (
      SELECT id, i, min((a * x + b) % {_P}) AS h
      FROM sh CROSS JOIN params GROUP BY id, i
    ),
    sig AS (SELECT id, list(h ORDER BY i) AS sig FROM m GROUP BY id),
    banded AS (
      SELECT id, band,
             array_to_string(sig[band*{ROWS}+1:band*{ROWS}+{ROWS}], ',') AS bucket
      FROM sig CROSS JOIN (SELECT unnest(range({BANDS})) AS band)
    )
    {final}
    """


@register("dedup_minhash_lsh", _minhash_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands × 4 rows) candidate pairs. Tokens are
    hashed ONCE (xxhash64) and trigram shingle hashes formed by
    polynomial combination, so shingle strings are never materialized.
    DuckDB reproduces Spark's xxhash64 bit-for-bit via the generated
    pipeline in operators/xxh64_sql.py, so the exact signatures are
    differentially checked end to end.

    Scale shape: O(n·K) signature computation (one map-side-combinable
    aggregation), then a groupBy-sized bucket join — the sub-quadratic
    near-dup path for 100 TB corpora.
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(doc_shingle_hashes(docs))
    return lsh_candidate_pairs(sigs).orderBy("ida", "idb")


_SIMHASH_SQL = """
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    tw AS (SELECT id, tok, count(*) AS w FROM toks GROUP BY id, tok),
    txw AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS x, w FROM tw),
    bits AS (
      SELECT id, j,
             sum(CASE WHEN (x >> CAST(j AS INT)) & 1 = 1 THEN w ELSE -w END) AS s
      FROM txw CROSS JOIN (SELECT unnest(range(60)) AS j)
      GROUP BY id, j
    ),
    fp AS (
      SELECT id,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY id
    )
"""


@register(
    "dedup_simhash",
    _SIMHASH_SQL + "SELECT id, simhash FROM fp ORDER BY id",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (md5 token hashes — DuckDB reproduces
    every fingerprint bit-for-bit).

    Scale: fingerprinting is a map-only fold over each doc's token
    hashes (codegen); output is one 60-bit long per doc, no shuffle but
    the output sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs).orderBy("id")


@register(
    "dedup_simhash_near",
    _SIMHASH_SQL
    + """
    , banded AS (
      SELECT id, simhash, band,
             (simhash >> CAST(band * 15 AS INT)) & 32767 AS bval
      FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band)
    )
    SELECT DISTINCT a.id AS ida, b.id AS idb,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bval = b.bval AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
    ORDER BY ida, idb
    """,
)
def dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: block on 4×15-bit bands (a pair within
    hamming ≤ 4 of 60 bits must agree on ≥1 full band by pigeonhole;
    wider distances are caught probabilistically), verify hamming ≤ 12.
    Sub-quadratic: the join meets only docs sharing a band value.

    Scale: the band equi-join meets only same-band candidates
    (sub-quadratic blocking); verification is a per-pair popcount —
    the n^2 all-pairs product never materializes.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = simhash(docs)
    banded = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.shiftright(F.col("simhash"), band * 15)
                        .bitwiseAND(F.lit(32767))
                        .alias("bval"),
                    )
                    for band in range(4)
                ]
            )
        ).alias("bb"),
    ).select(
        "id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval")
    ).transform(bounded_cache)  # self-joined: pin or the 60-bit fingerprint aggregation
    # (token explode + bit sums) runs once per join side
    a, b = banded.alias("a"), banded.alias("b")
    ham = hamming_distance(F.col("a.simhash"), F.col("b.simhash"))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("ida"),
            F.col("b.id").alias("idb"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= 12)
        .distinct()
        .orderBy("ida", "idb")
    )


# Quality-gate CTE prefix (t → m → kept), shared verbatim between the
# batch pipeline oracle below and the streaming curation oracle
# (queries_streaming.streaming_doc_quality_dedup): the gate predicates
# must be bit-identical everywhere they appear.
_GATE_CTES = """
    t AS (
      SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang, text, len(toks) AS n_tokens,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
             len(list_filter(toks, x -> list_contains({stop!r}, x))) AS n_stop
      FROM t
    ),
    kept AS (
      SELECT doc_id, lang, text, n_tokens FROM m
      WHERE n_tokens >= 20
        AND CAST(n_punct AS DOUBLE) / n_chars < 0.1
        AND CAST(n_stop AS DOUBLE) / n_tokens > 0.05
    )"""

_CURATION_SQL = (
    "\n    WITH " + _GATE_CTES.strip() + ","
) + """
    keepers AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    k AS (SELECT kept.* FROM kept JOIN keepers ON kept.doc_id = keepers.doc_id),
    dupes AS (SELECT DISTINCT idb FROM ({minhash}))
    SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM k LEFT JOIN dupes ON k.doc_id = dupes.idb
    WHERE dupes.idb IS NULL
    GROUP BY lang ORDER BY lang
"""


def _register_pipeline_curation():
    """Registered via a closure so the oracle SQL can bake in STOPWORDS
    (shared with text_quality_score — the gate predicates must be
    bit-identical between the standalone query and the pipeline)."""
    from wordcount_spark.operators.queries_textstats import STOPWORDS

    @register(
        "pipeline_curation",
        _CURATION_SQL.format(stop=STOPWORDS, minhash=_minhash_sql("k")),
    )
    def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end training-data curation — the composite a 100 TB corpus
        actually runs, chaining four operators this engine already ships:

        1. quality gate (C4/Gopher-style: ≥20 tokens, punct ratio < 0.1,
           stopword ratio > 0.05) — pure map, no shuffle, prunes early so
           every later stage sees only surviving rows;
        2. exact dedup — one shuffle on md5(text), keeper = min doc_id;
        3. near-dup removal — MinHash(32)+LSH(8×4) candidate pairs on the
           exact-dedup survivors; greedy min-id survivor (doc dropped iff it
           is the larger id of a pair; the connected-components clusterer in
           operators/components.py is the transitive alternative);
        4. per-lang corpus stats over the final survivors.

        The oracle replays all four stages in SQL (the `dedup_minhash_lsh`
        rendering composed over the survivors), so the whole pipeline — not
        just its pieces — is differentially checked.
        """
        docs = load_table(spark, sf_dir, "documents")
        toks = tokenize("text")
        stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
        m = docs.select(
            "doc_id",
            "lang",
            "text",
            F.size(toks).alias("n_tokens"),
            F.length("text").alias("n_chars"),
            (
                F.length("text")
                - F.length(F.regexp_replace("text", r"\p{Punct}", ""))
            ).alias("n_punct"),
            F.size(
                F.filter(toks, lambda x: F.array_contains(stop_arr, x))
            ).alias("n_stop"),
        )
        kept = m.filter(
            (F.col("n_tokens") >= 20)
            & (F.col("n_punct").cast("double") / F.col("n_chars") < 0.1)
            & (F.col("n_stop").cast("double") / F.col("n_tokens") > 0.05)
        ).select("doc_id", "lang", "text", "n_tokens")
        # keeper = min-doc_id row per content hash, carried THROUGH the
        # aggregation with min_by — one exchange, no join-back (the
        # groupBy + semi-join formulation costs two more shuffles of the
        # corpus; doc_ids are unique so min_by is deterministic)
        k = (
            kept.groupBy(F.md5("text").alias("content_hash"))
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min_by(
                    F.struct("lang", "text", "n_tokens"), "doc_id"
                ).alias("r"),
            )
            .select("doc_id", "r.lang", "r.text", "r.n_tokens")
            # cached: the LSH branch (shingle→minhash→pairs) and the final
            # anti-join both consume the survivors — without the cache the
            # scan+gate+exact-dedup lineage runs twice
            .transform(bounded_cache)
        )
        pairs = lsh_candidate_pairs(minhash_signatures(doc_shingle_hashes(k)))
        dupes = pairs.select(F.col("idb").alias("doc_id")).distinct()
        return (
            k.join(dupes, "doc_id", "left_anti")
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
            )
            .orderBy("lang")
        )


_register_pipeline_curation()


@register(
    "text_benchmark_contamination",
    """
    WITH sh AS (
      SELECT doc_id AS id, source, unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                                        i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [] END)) AS shingle
      FROM (SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                               x -> x <> '') AS toks
            FROM documents)
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    doc AS (SELECT id, shingle FROM sh WHERE source <> 'src0')
    SELECT id AS doc_id,
           count(*) AS n_shingles,
           count(b.shingle) AS n_overlap,
           CAST(count(b.shingle) AS DOUBLE) / count(*) AS overlap_frac,
           CASE WHEN CAST(count(b.shingle) AS DOUBLE) / count(*) >= 0.5
                THEN 1 ELSE 0 END AS contaminated
    FROM doc LEFT JOIN bench b USING (shingle)
    GROUP BY id ORDER BY doc_id
    """,
)
def text_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C / Dolma style): flag
    training documents whose distinct 3-gram shingles overlap a held-out
    benchmark partition (here: source='src0') above a threshold.

    Scale shape: one shuffle keyed on shingle (the benchmark side is
    DISTINCT-reduced first, so the join input is the small shingle
    vocabulary, not benchmark docs x shingles), then one doc_id-keyed agg.
    Hot stop-shingles skew the shingle join at corpus scale — AQE skew
    split handles it, or pre-drop shingles with document frequency above a
    cap as dedup.jaccard_pairs documents."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        F.explode(shingle_array("text")).alias("shingle"),
    )
    bench = (
        sh.where(F.col("source") == "src0").select("shingle").distinct()
    )
    doc = sh.where(F.col("source") != "src0").select("id", "shingle")
    frac = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return (
        doc.join(bench.withColumn("hit", F.lit(1)), "shingle", "left")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            frac.alias("overlap_frac"),
            F.when(frac >= 0.5, 1).otherwise(0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_incremental_antijoin",
    """
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE source <> 'src0'),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE source = 'src0')
    SELECT b.doc_id
    FROM batch b LEFT JOIN corpus c ON b.h = c.h
    WHERE c.h IS NULL
    ORDER BY b.doc_id
    """,
)
def dedup_incremental_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: which documents of the incoming batch
    (source='src0' stands in for today's crawl) are NOT already in the
    corpus — the anti-join every continuously-fed training pipeline runs
    before appending. Both sides reduce to content hashes before the join,
    so the shuffle carries 16-byte keys, not documents; at 100 TB the
    corpus side stays hash-partitioned/bucketed by content hash so only
    the (small) daily batch moves, and Spark's runtime bloom filter (see
    tests/test_plans.py) prunes corpus partitions that can't match."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("source") != "src0")
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    batch = docs.filter(F.col("source") == "src0").select(
        "doc_id", F.md5("text").alias("h")
    )
    return batch.join(corpus, "h", "left_anti").select("doc_id").orderBy("doc_id")


@register(
    "dedup_edit_distance_blocked",
    """
    WITH fp AS (
      SELECT doc_id, lang, n_chars // 32 AS bucket,
             substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, 80)
               AS fp
      FROM documents
    )
    SELECT a.doc_id AS ida, b.doc_id AS idb,
           levenshtein(a.fp, b.fp) AS edit_dist
    FROM fp a JOIN fp b
      ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE levenshtein(a.fp, b.fp) <= 12
    ORDER BY ida, idb
    """,
)
def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup under blocking: Levenshtein over an
    80-char alphanumeric fingerprint, computed only WITHIN blocks of
    (lang, 32-char length bucket) — the classic blocked record-linkage
    shape (complement to MinHash: edit distance catches small in-place
    mutations that shift many shingles at once).

    Scale: Levenshtein is O(len²) per pair and the self-join is O(block²)
    per block, so both inputs are bounded up front — the fingerprint caps
    the per-pair cost at 80×80, and blocking on (lang, length-bucket) caps
    candidate sets (bucket skew would be re-split by AQE; a hot block is
    the salting case). Fingerprinting is ASCII-normalized so both engines'
    character-level Levenshtein agree byte-for-byte. Known recall
    tradeoff, as in any blocked linkage: a near-dup pair whose lengths
    straddle a bucket boundary is missed (production would also probe the
    adjacent bucket, doubling candidate pairs).
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "lang",
        F.expr("n_chars div 32").alias("bucket"),
        F.substring(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), 1, 80
        ).alias("fp"),
    ).transform(bounded_cache)  # self-joined: pin or the full-text normalize runs per side
    a, b = fp.alias("a"), fp.alias("b")
    dist = F.levenshtein(F.col("a.fp"), F.col("b.fp"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(dist <= 12)
        .select(
            F.col("a.doc_id").alias("ida"),
            F.col("b.doc_id").alias("idb"),
            dist.alias("edit_dist"),
        )
        .orderBy("ida", "idb")
    )


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS ida, b.id AS idb, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    pairs AS (
      SELECT ida, idb FROM common
      JOIN sizes sa ON sa.id = ida JOIN sizes sb ON sb.id = idb
      WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
    ),
    sym AS (
      SELECT ida AS a, idb AS b FROM pairs
      UNION SELECT idb, ida FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM sym)
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
    )
    SELECT a AS doc_id, min(b) AS component
    FROM reach GROUP BY a ORDER BY doc_id
    """,
    eager=True,  # iterative label propagation drives jobs at build time
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dedup CLUSTERS: connected components over the
    3-gram-Jaccard ≥ 0.5 edge set, component label = min reachable doc_id
    (the id every dedup survivor policy keys on). The Spark side runs
    the large-star/small-star contraction (operators/components.py —
    O(log n) alternating rounds, raising if the cap is hit; the one-hop
    propagation variant is differentially tested against it); the
    oracle computes the
    same labels as a RECURSIVE-CTE transitive closure — an independent
    algorithm, tractable because near-dup components are short chains.

    Scale: each propagation round is one edge⋈label shuffle + one min
    aggregation; the closure-style oracle would be O(component²) rows and
    is exactly what you DON'T run at 100 TB — that asymmetry (iterate on
    the engine, close on the oracle) is the point of the check.
    """
    docs = load_table(spark, sf_dir, "documents")
    from wordcount_spark.operators.components import connected_components_star

    pairs = jaccard_pairs(doc_shingles(docs), 0.5).select("ida", "idb")
    return (
        connected_components_star(pairs)
        .select(F.col("id").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


def _register_pipeline_rag():
    """Closure so the oracle can bake in the chunking stride and the
    64-dim norm SQL shared with the similarity module."""
    from wordcount_spark.operators.queries_llmprep import CHUNK_S
    from wordcount_spark.operators.queries_similarity import _NORM_SQL

    oracle = f"""
    WITH survivors AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY unhex(md5(text)) ORDER BY doc_id) AS rn
        FROM documents) t WHERE rn = 1
    ),
    toks AS (
      SELECT doc_id, list_filter({TOKS_SQL}, x -> x <> '') AS tk
      FROM survivors
    ),
    chunks AS (
      SELECT doc_id, count(*) AS n_chunks
      FROM (SELECT doc_id,
                   unnest(generate_series(0, len(tk) - 1, {CHUNK_S})) AS s
            FROM toks WHERE len(tk) > 0) c
      GROUP BY doc_id
    ),
    corpus AS (
      SELECT ch.doc_id, ch.n_chunks, e.embedding
      FROM chunks ch JOIN embeddings e ON e.vec_id = ch.doc_id
    ),
    q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 3),
    sims AS (
      SELECT q.qid, corpus.doc_id, corpus.n_chunks,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q.embedding[i] AS DOUBLE)
                    * CAST(corpus.embedding[i] AS DOUBLE)))
             / ({_NORM_SQL.format(v="q.embedding")}
                * {_NORM_SQL.format(v="corpus.embedding")}) AS cos
      FROM q CROSS JOIN corpus
    )
    SELECT qid, rn AS rank, doc_id, n_chunks, cos
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cos DESC, doc_id) AS rn
          FROM sims) r
    WHERE rn <= 5 ORDER BY qid, rank
    """

    @register("pipeline_rag_corpus", oracle)
    def pipeline_rag_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Retrieval-index build + query eval, composed from shipped
        operators: exact-dedup survivors → token-window chunking (the
        REAL chunk_windows operator, counted per doc as the provenance
        payload a serving layer returns) → embedding attach by doc id →
        top-5 cosine retrieval for a held-out query set, deterministic
        tiebreaks throughout. The oracle replays all four stages in SQL,
        so the composition — not just the pieces — is hash-checked.

        Scale — the TEXT NEVER SHUFFLES (r5 rewrite; the r4 shape ran the
        dedup as a window over md5(text) that carried the full document
        text through the content-hash exchange — 212 MB of 250 MB total
        shuffle at 200x in tools/scale_check.py): survivor ownership is
        a groupBy(hash).min(doc_id) over a (16-byte hash, id) projection
        — ~24 bytes/row — and chunk counting runs pre-dedup as narrow
        per-row work + a doc-keyed O(docs) partial-agg exchange
        (duplicates re-tokenize map-side, which at any realistic dup
        rate is far cheaper than shipping text bytes through a shuffle).
        AND THE VECTORS NEVER SHUFFLE (r7 rewrite; r5 attached the wide
        embedding column to the chunk counts BEFORE scoring, so the
        doc-id join exchanged ~520-byte vector rows — the 200x peak
        stage, 212 MB in SCALE.md §15; the r6 verdict proposed a
        bucketed-by-id layout to kill that exchange, but scoring FIRST
        dominates bucketing: cosine is computed map-side on the
        embeddings scan against the broadcast query set, so only
        24-byte (qid, doc_id, cos) score rows ever enter the attach
        exchange — no one-time clustered rewrite of the vectors, no
        pinned bucket count, and a duplicate doc merely wastes 64
        map-side FLOPs instead of shipping 520 bytes). Retrieval
        broadcasts the query set so the corpus never shuffles (for
        real query volumes, swap in the pruned
        `similarity_multiquery_topk` path or an IVF candidate feed —
        same composition, different last stage).
        """
        from pyspark.sql import Window

        from wordcount_spark.operators.queries_llmprep import chunk_windows
        from wordcount_spark.operators.queries_similarity import cosine

        docs = load_table(spark, sf_dir, "documents")
        survivor_ids = (
            docs.select(F.unhex(F.md5("text")).alias("h"), "doc_id")
            .groupBy("h")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        toks = docs.select("doc_id", tokenize("text").alias("toks"))
        chunks = chunk_windows(toks).groupBy("doc_id").agg(
            F.count("*").alias("n_chunks")
        )
        eligible = chunks.join(survivor_ids, "doc_id", "left_semi")
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
        )
        scores = emb.crossJoin(F.broadcast(q)).select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
        sims = scores.join(eligible, "doc_id").select(
            "qid", "doc_id", "n_chunks", "cos"
        )
        w_rank = Window.partitionBy("qid").orderBy(F.desc("cos"), "doc_id")
        return (
            sims.withColumn("rank", F.row_number().over(w_rank))
            .where(F.col("rank") <= 5)
            .select("qid", "rank", "doc_id", "n_chunks", "cos")
            .orderBy("qid", "rank")
        )


_register_pipeline_rag()


@register(
    "dedup_cluster_best_quality",
    f"""
    WITH RECURSIVE sh AS ({{shingles}}),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS ida, b.id AS idb, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    pairs AS (
      SELECT ida, idb FROM common
      JOIN sizes sa ON sa.id = ida JOIN sizes sb ON sb.id = idb
      WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
    ),
    sym AS (
      SELECT ida AS a, idb AS b FROM pairs
      UNION SELECT idb, ida FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM sym)
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
    ),
    labels AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
    dl AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    labeled AS (
      SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component, d.n_tokens
      FROM dl d LEFT JOIN labels l USING (doc_id)
    )
    SELECT component, doc_id AS survivor_id, n_members, n_tokens AS survivor_tokens
    FROM (
      SELECT *, row_number() OVER (PARTITION BY component
                                   ORDER BY n_tokens DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY component) AS n_members
      FROM labeled) t
    WHERE rn = 1 ORDER BY component
    """.format(shingles=_SHINGLES_SQL),
    eager=True,  # component contraction iterates at build time
)
def dedup_cluster_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted dedup SURVIVOR POLICY: within each near-dup cluster
    (3-gram Jaccard >= 0.5 components, same edge set as ``dedup_clusters``)
    keep the LONGEST document (token count; min-doc_id tiebreak) — the
    "keep the most complete duplicate" policy production curation uses
    instead of min-id, with singleton docs as their own survivors. The
    oracle replays clustering as a RECURSIVE-CTE closure and applies the
    same argmax, so policy AND clustering are differentially checked.

    Scale: component labels come from the large-star/small-star
    contraction (O(log n) rounds); the quality argmax is ONE window over
    the per-doc (component, n_tokens) frame, partitioned by component —
    no per-cluster collect, no quadratic anything. Swapping the quality
    key (length -> model score, date, source rank) is a one-column
    change."""
    from pyspark.sql import Window

    from wordcount_spark.operators.components import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(doc_shingles(docs), 0.5).select("ida", "idb")
    labels = connected_components_star(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )
    dl = docs.select("doc_id", F.size(tokenize("text")).alias("n_tokens"))
    labeled = dl.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
        "n_tokens",
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_tokens"), "doc_id")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("component")))
        .where(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("survivor_id"),
            "n_members",
            F.col("n_tokens").alias("survivor_tokens"),
        )
        .orderBy("component")
    )


@register(
    "dedup_threshold_sweep",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS ida, b.id AS idb, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    j AS (
      SELECT CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jac
      FROM common
      JOIN sizes sa ON sa.id = ida JOIN sizes sb ON sb.id = idb
    )
    SELECT CAST(floor(jac * 10) AS BIGINT) AS jaccard_decile,
           count(*) AS n_pairs,
           CAST(sum(count(*)) OVER (ORDER BY CAST(floor(jac * 10) AS BIGINT) DESC
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_pairs_at_or_above
    FROM j GROUP BY 1 ORDER BY jaccard_decile
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold TUNING curve: the histogram of n-gram Jaccard over
    every candidate pair (decile buckets) plus the reverse-cumulative
    pair count — i.e., for each threshold t, how many pairs a `jaccard ≥ t`
    dedup would kill. This is the one-pass sweep you run BEFORE picking
    the 0.5 the production pipeline hardcodes (and before choosing LSH
    band/row parameters to center the S-curve on it).

    Scale: identical plan shape to ``dedup_ngram_jaccard`` (inverted
    shingle index — pairs only exist where shingles collide) minus the
    threshold filter; the histogram is a 10-row aggregate, and the
    cumulative sum runs over those 10 rows (the window is unpartitioned
    but O(deciles) — allowlisted)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(doc_shingles(docs), 0.0)
    hist = (
        pairs.groupBy(
            F.floor(F.col("jaccard") * 10).cast("long").alias("jaccard_decile")
        )
        .agg(F.count("*").alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.desc("jaccard_decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hist.withColumn("n_pairs_at_or_above", F.sum("n_pairs").over(w).cast("long"))
        .orderBy("jaccard_decile")
    )


_SEMDEDUP_SQL = """
    WITH seeds AS (
      SELECT vec_id AS seed_id, embedding AS semb FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT e.vec_id, s.seed_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(s.semb[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(s.semb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
      FROM embeddings e CROSS JOIN seeds s
    ),
    asg AS (
      SELECT vec_id, seed_id AS cluster FROM (
        SELECT vec_id, seed_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, seed_id) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    m AS (
      SELECT e.vec_id, e.embedding, a.cluster
      FROM embeddings e JOIN asg a USING (vec_id)
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, 65),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) > 0.3
    )
    SELECT m.vec_id, m.cluster FROM m LEFT JOIN dups d ON m.vec_id = d.vec_id
    WHERE d.vec_id IS NULL ORDER BY m.vec_id
"""


@register("dedup_semantic_semdedup", _SEMDEDUP_SQL)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic cluster dedup (Abbas et al. 2023, arXiv:
    2303.09540): assign every embedding to its nearest of k deterministic
    seed centroids (the k lowest vec_ids — reproducible in plain SQL,
    unlike trained k-means), then prune WITHIN each cluster: a vector is
    a duplicate if a lower-id cluster-mate sits above cosine 0.3.
    (The paper keeps the member closest to the centroid; lower-id-wins is
    this repo's uniform survivor policy across every dedup tier.)
    Survivors come back with their cluster id.

    Engine parity: all cosines are sequential double-precision folds —
    identical in Spark (zip_with/aggregate) and DuckDB (list_transform/
    list_sum) — so the nearest-centroid argmax (row_number ordered by c
    DESC, seed_id) and the 0.3 comparison bind identically; no rounding
    needed because no float reaches the output.

    Scale: the seed frame is O(k) (broadcast, allowlisted BNLJ for the
    fan-out); assignment is one scan × k folds, no shuffle; the pairwise
    stage shuffles once on cluster id and is quadratic ONLY within a
    cluster — at 100 TB k grows ∝ N to hold E[cluster size] constant
    (SemDeDup uses k≈100k for LAION), and a skewed cluster re-splits by
    sub-clustering before the self-join.
    """
    from pyspark.sql import Window

    from wordcount_spark.operators.queries_similarity import cosine, dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("semb")
    )
    c = dot(F.col("embedding"), F.col("semb")) / (
        l2_norm(F.col("embedding")) * l2_norm(F.col("semb"))
    )
    scored = emb.crossJoin(F.broadcast(seeds)).select("vec_id", "seed_id", c.alias("c"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("c"), "seed_id")
    asg = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("seed_id").alias("cluster"))
    )
    m = emb.join(asg, "vec_id").select("vec_id", "embedding", "cluster")
    a, b = m.alias("a"), m.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cosine(F.col("a.embedding"), F.col("b.embedding")) > 0.3)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        m.join(dups, "vec_id", "left_anti").select("vec_id", "cluster").orderBy("vec_id")
    )


def _jaccard_truth_sql(threshold: float) -> str:
    return f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS ida, b.id AS idb, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT ida, idb FROM common
    JOIN sizes sa ON sa.id = ida
    JOIN sizes sb ON sb.id = idb
    WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= {threshold}
    """


@register(
    "eval_lsh_candidate_recall",
    f"""
    WITH truth AS ({_jaccard_truth_sql(0.5)}),
    cand AS (SELECT ida, idb FROM ({_minhash_sql()})),
    caught AS (SELECT * FROM truth WHERE (ida, idb) IN (SELECT (ida, idb) FROM cand))
    SELECT (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM caught) AS n_caught,
           CAST((SELECT count(*) FROM caught) AS DOUBLE)
             / (SELECT count(*) FROM truth) AS recall
    """,
)
def eval_lsh_candidate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the banded LSH candidate generator against exact
    ground truth: what fraction of true near-dup pairs (3-gram Jaccard ≥
    0.5, `dedup_ngram_jaccard`) does `dedup_minhash_lsh` (32 hashes,
    8×4 bands) actually surface? This is the measurement that justifies
    the band/row parameters before a production run trusts LSH at 100 TB
    — composed from the two REGISTERED queries on the Spark side and
    from their oracle SQL on the DuckDB side, so the audit cannot drift
    from the operators it audits.

    Scale: both inputs are the sub-quadratic pipelines themselves; the
    intersection is a left-semi join on the pair key; the final counts
    are three 1-row aggregates stitched by 1-row cross joins
    (allowlisted BNLJ)."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select("ida", "idb")
    cand = dedup_minhash_lsh(spark, sf_dir).select("ida", "idb")
    caught = truth.join(cand, ["ida", "idb"], "left_semi")
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_caught = caught.agg(F.count("*").alias("n_caught"))
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(n_caught)
        .select(
            "n_truth",
            "n_candidates",
            "n_caught",
            (F.col("n_caught").cast("double") / F.col("n_truth")).alias("recall"),
        )
    )


_LINE_W = 15  # tokens per synthetic "line" (the corpus has no newlines)


def _line_dedup_oracle() -> str:
    """Mirrors the Spark plan's 128-bit line keying: each DISTINCT line
    is hashed ONCE through the generated XXH64 pipeline (seed-42 Spark
    parity, operators/xxh64_sql.py) — twice, the second over
    ``line || chr(1)`` (the standard suffix-perturbation second hash) —
    then ownership groups on the (hh1, hh2) pair exactly like the Spark
    window."""
    from wordcount_spark.operators.xxh64_sql import xxh64_pipeline_sql

    p1 = xxh64_pipeline_sql("SELECT line FROM dl", tok="line")
    p2 = xxh64_pipeline_sql(
        "SELECT line, hh1 FROM p1", tok="(line || chr(1))", keep=("line", "hh1")
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    ln AS (
      SELECT doc_id,
             unnest(list_transform(range(0, (len(toks) + {_LINE_W - 1}) // {_LINE_W}),
                    i -> array_to_string(
                           list_slice(toks, i * {_LINE_W} + 1, i * {_LINE_W} + {_LINE_W}),
                           ' '))) AS line
      FROM t WHERE len(toks) > 0
    ),
    dl AS (SELECT DISTINCT line FROM ln),
    p1 AS (SELECT line, h64 AS hh1 FROM ({p1})),
    p2 AS (SELECT line, hh1, h64 AS hh2 FROM ({p2})),
    keyed AS (
      SELECT l.doc_id, p.hh1, p.hh2, len(l.line) AS line_len
      FROM ln l JOIN p2 p USING (line)
    ),
    own AS (SELECT hh1, hh2, min(doc_id) AS keeper
            FROM keyed GROUP BY hh1, hh2)
    SELECT k.doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (WHERE k.doc_id <> o.keeper) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN k.doc_id = o.keeper THEN k.line_len ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM keyed k JOIN own o USING (hh1, hh2)
    GROUP BY k.doc_id ORDER BY k.doc_id
    """


@register("text_line_dedup_c4", _line_dedup_oracle())
def text_line_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level dedup (Raffel et al. 2020 remove any
    three-sentence span occurring more than once in the corpus; FineWeb
    dedups lines): every document splits into fixed 15-token "lines"
    (this corpus has no newlines, so the line boundary is positional —
    the operator shape is identical), each line keeps its single corpus-
    wide survivor occurrence (min doc_id), and every other occurrence is
    removed. Output is the per-document audit: line count, removed
    count, and characters surviving — the corpus transformation a real
    pipeline applies before tokenization.

    Scale: the line frame is O(tokens/15) rows; ownership is a window
    MIN over a 128-BIT HASH of the line — the line string is hashed
    (xxhash64 twice: raw + chr(1)-suffixed, the standard second-hash
    perturbation) and DROPPED before the exchange, so the one line-keyed
    shuffle carries (doc_id, two longs, line_len int) ≈ 28 bytes/row
    instead of the ~100-byte line text, and the window sorts long pairs
    instead of strings. Survivor semantics are identical up to a 128-bit
    collision (≈ n²/2^129 — at 10^12 corpus lines that is ~10^-15,
    negligible; the oracle hashes with the SAME portable XXH64, so even
    a collision could not diverge the comparison). Then a doc-keyed
    count. History: the r3 shape was groupBy(line) + join-back (50×
    growth 4.3); r4's window-over-string form cut it to 2.56; this form
    shrinks the exchange a further ~4× in bytes. No pairwise work
    anywhere: line dedup is exact dedup on the line grain.
    """
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    w = _LINE_W
    nl = F.floor((F.size(toks) + F.lit(w - 1)) / F.lit(w)).cast("long")
    lines = (
        docs.where(F.size(toks) > 0)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0).cast("long"), nl - 1),
                    lambda i: F.array_join(
                        F.slice(toks, (i * w + 1).cast("int"), w), " "
                    ),
                )
            ).alias("line"),
        )
    )
    keyed = lines.select(
        "doc_id",
        F.xxhash64("line").alias("hh1"),
        F.xxhash64(F.concat(F.col("line"), F.lit("\x01"))).alias("hh2"),
        F.length("line").alias("line_len"),
    )
    owned = keyed.withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("hh1", "hh2"))
    )
    return (
        owned.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.count_if(F.col("doc_id") != F.col("keeper"))
            .cast("long")
            .alias("n_removed"),
            F.sum(
                F.when(F.col("doc_id") == F.col("keeper"), F.col("line_len"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_prefix_hash",
    """
    WITH p AS (
      SELECT doc_id, n_chars, md5(substr(text, 1, 64)) AS prefix_hash
      FROM documents
    )
    SELECT prefix_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS survivor_doc_id,
           CAST(sum(n_chars) - min(n_chars) AS BIGINT) AS removable_chars
    FROM p
    GROUP BY prefix_hash HAVING count(*) >= 2
    ORDER BY n_docs DESC, prefix_hash
    """,
)
def dedup_prefix_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-hash dedup candidates: documents agreeing on their first 64
    characters (the cheap URL-/boilerplate-dedup heuristic crawl
    pipelines run BEFORE full-content hashing — a scrape of the same page
    template shares its head even when tails diverge). One hash per doc,
    groups of ≥ 2 are duplicate candidates; survivor = min doc_id;
    removable_chars is the upper bound freed if the group collapses
    (every member's chars minus one kept copy — min(n_chars) is the
    conservative keep).

    Scale: strictly cheaper than exact dedup — the shuffle key is a
    16-byte md5 of a 64-byte prefix, computed without reading the
    document tail (at 100 TB with long documents, a substring scan
    reads a fraction of the bytes content-hashing must touch); one
    map-side-combinable aggregation, no joins, no pairwise step.
    """
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id", "n_chars", F.md5(F.substring("text", 1, 64)).alias("prefix_hash")
    )
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("survivor_doc_id"),
            (F.sum("n_chars") - F.min("n_chars")).cast("long").alias("removable_chars"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "prefix_hash")
    )


@register(
    "dedup_exact_normalized",
    """
    WITH aug AS (
      -- the corpus has no byte-identical dups at sf0.01, so the
      -- re-encoded copies a real crawl accumulates are INJECTED
      -- deterministically: every 7th doc reappears under a new id,
      -- uppercased or double-spaced by parity
      SELECT doc_id, text AS raw FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             CASE WHEN doc_id % 2 = 0 THEN upper(text)
                  ELSE replace(text, ' ', '  ') END
      FROM documents WHERE doc_id % 7 = 0
    ),
    norm AS (
      SELECT doc_id,
             md5(raw) AS raw_hash,
             md5(trim(regexp_replace(lower(raw), '[ \t\n]+', ' ', 'g')))
               AS norm_hash
      FROM aug
    )
    SELECT norm_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants,
           min(doc_id) AS survivor_doc_id
    FROM norm
    GROUP BY norm_hash HAVING count(*) >= 2
    ORDER BY n_docs DESC, norm_hash
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup (the FineWeb/CCNet recipe:
    lowercase + collapse whitespace BEFORE hashing): the corpus's
    byte-identical duplicates are first deterministically mangled
    (uppercasing / double-spacing by doc parity — the re-encoding noise
    real crawls accumulate), so plain content hashing no longer groups
    them; hashing the NORMALIZED text recovers every group.
    `n_raw_variants > 1` inside every group is the measured gap between
    byte-exact and normalized dedup (the sf0.01 corpus has no
    byte-identical dups, so the re-encoded copies are injected — every
    7th doc reappears re-cased/re-spaced under a new id). Same scale
    shape as `dedup_exact`: one map-side hash, one aggregation, no
    pairwise work.

    Scale: normalization is a codegen'd regexp over the scan; the
    shuffle key stays a 16-byte hash regardless of document size.
    """
    docs = load_table(spark, sf_dir, "documents")
    mangled = F.when(F.col("doc_id") % 2 == 0, F.upper("text")).otherwise(
        F.regexp_replace("text", " ", "  ")
    )
    aug = docs.select("doc_id", F.col("text").alias("raw")).unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), mangled.alias("raw")
        )
    )
    norm = aug.select(
        "doc_id",
        F.md5("raw").alias("raw_hash"),
        F.md5(
            F.trim(F.regexp_replace(F.lower("raw"), r"[ \t\n]+", " "))
        ).alias("norm_hash"),
    )
    return (
        norm.groupBy("norm_hash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("raw_hash").cast("long").alias("n_raw_variants"),
            F.min("doc_id").alias("survivor_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "norm_hash")
    )


_MINHASH_CALIB_FINAL = f"""
    , cand AS (
      SELECT DISTINCT a.id AS ida, b.id AS idb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    mtc AS (
      SELECT c.ida, c.idb,
             len(list_filter(range(1, {NUM_HASHES + 1}), i -> sa.sig[i] = sb.sig[i])) AS m
      FROM cand c
      JOIN sig sa ON sa.id = c.ida
      JOIN sig sb ON sb.id = c.idb
    ),
    ssh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT id, count(*) AS sz FROM ssh GROUP BY id),
    common AS (
      SELECT a.id AS ida, b.id AS idb, count(*) AS common
      FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT m.ida, m.idb,
           CAST(m.m * 1000000 // {NUM_HASHES} AS BIGINT) AS est_ppm,
           CAST(co.common * 1000000 // (sa.sz + sb.sz - co.common) AS BIGINT)
             AS exact_ppm,
           CAST(m.m * 1000000 // {NUM_HASHES}
                - co.common * 1000000 // (sa.sz + sb.sz - co.common)
                AS BIGINT) AS err_ppm
    FROM mtc m
    JOIN common co ON co.ida = m.ida AND co.idb = m.idb
    JOIN sizes sa ON sa.id = m.ida
    JOIN sizes sb ON sb.id = m.idb
    ORDER BY m.ida, m.idb
"""


@register("eval_minhash_jaccard_calibration", _minhash_sql(final=_MINHASH_CALIB_FINAL))
def eval_minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-calibration audit: for every LSH candidate pair, the
    MinHash Jaccard ESTIMATE (matching signature positions / 32) next to
    the EXACT shingle Jaccard, both in integer ppm, plus the signed
    error — the measurement that tells you whether 32 hashes suffice
    before a 100 TB run trusts signature similarity as a dedup verdict
    (E[est] = J; spread at K=32 is ±σ≈√(J(1-J)/32)≈9pp). Composed from
    the SAME signature/banding pipeline `dedup_minhash_lsh` registers,
    so the audit cannot drift from the operator it audits; the exact
    side stays on string shingles (`doc_shingles`). Pairs with zero
    shared shingles (possible band-hash coincidences) drop on both
    engines via the inner common-join.

    Scale: candidates come from the sub-quadratic banded join; the
    signature compare is an O(pairs) join against the O(docs) signature
    table; the exact-Jaccard join runs only over candidate-restricted
    shingles — this audit never goes all-pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    sigs = minhash_signatures(doc_shingle_hashes(docs))
    pairs = lsh_candidate_pairs(sigs)
    sa = sigs.select(F.col("id").alias("ida"), F.col("signature").alias("siga"))
    sb = sigs.select(F.col("id").alias("idb"), F.col("signature").alias("sigb"))
    mtc = (
        pairs.join(sa, "ida")
        .join(sb, "idb")
        .select(
            "ida",
            "idb",
            F.size(
                F.filter(
                    F.sequence(F.lit(1), F.lit(NUM_HASHES)),
                    lambda i: F.element_at("siga", i) == F.element_at("sigb", i),
                )
            )
            .cast("long")
            .alias("m"),
        )
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .agg(F.count("*").alias("common"))
    )
    est = F.expr(f"CAST(m * 1000000 div {NUM_HASHES} AS BIGINT)")
    exact = F.expr("CAST(common * 1000000 div (sza + szb - common) AS BIGINT)")
    return (
        mtc.join(common, ["ida", "idb"])
        .join(sizes.select(F.col("id").alias("ida"), F.col("sz").alias("sza")), "ida")
        .join(sizes.select(F.col("id").alias("idb"), F.col("sz").alias("szb")), "idb")
        .select(
            "ida",
            "idb",
            est.alias("est_ppm"),
            exact.alias("exact_ppm"),
            (est - exact).cast("long").alias("err_ppm"),
        )
        .orderBy("ida", "idb")
    )
