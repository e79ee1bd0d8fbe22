"""Deduplication operators for training-data pipelines.

Four tiers, increasing fuzziness (all absent from the reference —
SURVEY.md §2.7 — and core to the 100 TB extension surface):

1. exact        — hash-groupBy on content (md5), keep min doc_id.
2. ngram-jaccard— exact set-similarity via an inverted shingle index
                  (distributed self-join on shingle, NOT an O(n²) cross
                  join: only docs sharing a shingle ever meet).
3. MinHash+LSH  — probabilistic: per-doc signature of NUM_HASHES minhashes
                  over a deterministic affine hash family on a polynomial
                  combine of xxhash64 token hashes (shingle strings are
                  never built); banded into BANDS × ROWS buckets;
                  candidate pairs = bucket collisions. O(n·K) work + one
                  groupBy — the scale path when even the inverted index
                  is too hot. One path serves every consumer, and
                  operators/xxh64_sql.py lets DuckDB replay it exactly.
4. SimHash      — 60-bit weighted-bit fingerprint on md5 token hashes;
                  near-dups differ in few bits; bucket by rotated
                  prefixes for candidate generation.

Every step is DataFrame ops on JVM built-ins (xxhash64, aggregate,
transform, explode) — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wordcount_spark.functions.text import tokenize
from wordcount_spark.operators.caching import bounded_cache

# Mersenne prime 2^31 - 1: modulus for the affine minhash family. 31 bits
# keeps a*x+b < 2^62, so the whole pipeline runs in plain 64-bit integers —
# no DECIMAL/HUGEINT mulmod (measured 20x faster), and exactly the hash
# space Spark MLlib's own MinHashLSH uses.
_P = (1 << 31) - 1

# MinHash signature length and its LSH banding (BANDS × ROWS ==
# NUM_HASHES), shared by every MinHash consumer and the SQL oracles.
NUM_HASHES = 32
BANDS = 8
ROWS = 4


def shingle_array(text_col: str, n: int = 3) -> Column:
    """Distinct positional n-gram token shingles of a text column, as an
    array (tokens lowercased raw — dedup wants content equivalence, not the
    reference's edge-strip normalization).

    Formulation: zip the token array with its own k-shifted slices and
    concat — O(tokens) with n-1 slices total. The obvious
    ``transform(sequence(0, sz-n), i -> concat_ws(slice(toks, i+1, n)))``
    is O(tokens x n) slice copies through interpreted higher-order-function
    eval and measured 6x slower on the documents table; zip_with pads the
    shorter side with null, concat propagates the null, and the final slice
    drops the null tail, so outputs are bit-identical."""
    toks = tokenize(F.lower(text_col))
    sz = F.size(toks)
    sh = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(sz - k, F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    sh = F.slice(sh, 1, F.greatest(sz - (n - 1), F.lit(0)))
    return F.array_distinct(sh)


def doc_shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) exploded pairs — the inverted-index feed (jaccard)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_array(text_col, n)).alias("shingle"),
    )


def exact_dedup_keepers(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One representative (min id) per distinct content hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def jaccard_pairs(shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact n-gram Jaccard over an inverted index: join docs per shingle,
    count common shingles per pair, filter by similarity.

    Scale shape: one shuffle on shingle (skew-prone on hot shingles — at
    real scale drop stop-shingles by document frequency first), one shuffle
    on (a, b). Never materializes the n² cross product.
    """
    # consumed 3x (sizes + both self-join sides) — pin or the upstream
    # shingling explodes the corpus three times (MEMORY_AND_DISK)
    shingles = bounded_cache(shingles)
    sizes = shingles.groupBy("id").agg(F.count("*").alias("sz"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("ida"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("id").alias("idb"), F.col("sz").alias("szb"))
    return (
        common.join(sa, "ida")
        .join(sb, "idb")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("ida", "idb", "common", "jaccard")
    )


def _affine_params() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the minhash family (fixed seed —
    signatures must be reproducible across runs and engines)."""
    import random

    rng = random.Random(42)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(NUM_HASHES)]


def base_hash(col: Column | str) -> Column:
    """Token → xxhash64 folded into [0, P), the input domain of the affine
    minhash family. DuckDB reproduces it through operators/xxh64_sql.py
    (its ``th`` column)."""
    return (F.xxhash64(col) % _P + _P) % _P


def doc_shingle_hashes(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, x) exploded rows where x ∈ [0, P) is the shingle's hash —
    WITHOUT ever materializing shingle strings: tokens are hashed once,
    then n consecutive token hashes combine with a polynomial rolling mix
    (mod P). Skips the concat + per-shingle re-hash of a string-shingle
    path, whose cost grows with shingle width n (it re-reads each token n
    times). operators/xxh64_sql.py generates a DuckDB pipeline computing
    Spark's exact xxhash64, so the combined hash is differentially checked
    end to end (polynomial collisions, negligible at ~|shingles|²/2P per
    doc, make it a different function than hash(concat) — both engines
    compute the SAME function, collisions included)."""
    th = F.transform(tokenize(F.lower(text_col)), base_hash)
    sz = F.size(th)
    combined = th
    for k in range(1, n):
        shifted = F.slice(th, k + 1, F.greatest(sz - k, F.lit(0)))
        combined = F.zip_with(
            combined, shifted, lambda x, y: (x * 8387 + y) % _P
        )
    combined = F.slice(combined, 1, F.greatest(sz - (n - 1), F.lit(0)))
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(combined)).alias("x"),
    )


def minhash_signatures(hashes: DataFrame) -> DataFrame:
    """Per-doc minhash signature (NUM_HASHES longs) from exploded (id, x)
    shingle-hash rows: one aggregation with K min()s, map-side combinable.
    With the 31-bit modulus, a*x + b < 2^62: plain long arithmetic, no
    overflow under ANSI mode."""
    x = F.col("x")
    mins = [
        F.min((x * F.lit(a) + F.lit(b)) % F.lit(_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(_affine_params())
    ]
    sig = hashes.groupBy("id").agg(*mins)
    return sig.select(
        "id", F.array(*[f"h{i}" for i in range(NUM_HASHES)]).alias("signature")
    )


def lsh_banded_index(signatures: DataFrame) -> DataFrame:
    """(id, band, bucket) banded index rows, CACHED — this is the frame a
    production LSH pipeline materializes as its standing index table. A
    band's bucket is the murmur hash of its ROWS signature values. The pin
    lives until the next registry build (operators/caching.py)."""

    def bucket_of(bnd: int) -> Column:
        return F.hash(F.slice("signature", bnd * ROWS + 1, ROWS)).cast("string")

    return bounded_cache(
        signatures.select(
            "id",
            F.posexplode(F.array(*[bucket_of(bnd) for bnd in range(BANDS)])).alias(
                "band", "bucket"
            ),
        )
    )  # self-joined by every caller: without the pin the whole
    # shingle → minhash lineage executes once per join side (no
    # cross-branch exchange reuse). ids × bands rows — production LSH
    # materializes this anyway (MEMORY_AND_DISK, spills instead of OOM)


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Band the signature (BANDS × ROWS), bucket-join on (band, band-hash).

    Pairs agreeing on ALL rows of ≥1 band collide. For J=jaccard, collision
    prob = 1-(1-J^ROWS)^BANDS — the standard S-curve (8 bands × 4 rows
    centers ~0.55-0.65).
    """
    banded = lsh_banded_index(signatures)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .distinct()
    )


def simhash_bits(hash_col: Column, token_count: Column, nbits: int) -> Column:
    """±token_count contribution vector (nbits ints) for one token row.
    (Python-level loop: shiftright requires a literal bit count.)"""
    return F.array(
        *[
            F.when(
                F.shiftright(hash_col, j).bitwiseAND(F.lit(1)) == 1, token_count
            ).otherwise(-token_count)
            for j in range(nbits)
        ]
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document: sum ±weight per bit over token hashes,
    take sign bits. The token hash is the leading 15 hex digits of md5,
    which DuckDB computes identically (('0x' || substr(md5(s),1,15))::BIGINT).

    Distributed shape: explode tokens → per-(doc,token) weight → per-token
    ±weight vectors → elementwise array-sum per doc (one groupBy; the
    collect_list holds #distinct-tokens × nbits longs per doc transiently —
    bounded by vocabulary, not document length).
    """
    nbits = 60
    toks = tokenize(F.lower(text_col))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    tok_weights = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("w"))
        .select("id", simhash_bits(h, F.col("w"), nbits).alias("bits"))
    )
    summed = tok_weights.groupBy("id").agg(
        F.aggregate(
            F.collect_list("bits"),
            F.array_repeat(F.lit(0).cast("long"), nbits),
            lambda acc, v: F.zip_with(acc, v, lambda x, y: x + y),
        ).alias("bitsums")
    )
    fp = F.aggregate(
        F.array(
            *[
                F.when(
                    F.element_at("bitsums", j + 1) > 0,
                    F.shiftleft(F.lit(1).cast("long"), j),
                ).otherwise(F.lit(0).cast("long"))
                for j in range(nbits)
            ]
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )
    return summed.select("id", fp.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR — bit distance between two 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))

