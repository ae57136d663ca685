"""Deduplication operators for training-data pipelines.

Six strategies over a (id, text | id, vector) corpus, all
shuffle-disciplined:

  exact            hash-groupBy on a content fingerprint (one shuffle)
  minhash-LSH      shingle -> minhash -> band buckets -> bucket join
  simhash          n-bit weighted-token hash, pigeonhole-chunk blocked
  ngram-jaccard    exact jaccard on n-gram sets for blocked candidates
  embedding        cosine near-dup, hyperplane-LSH blocked by default
  cluster-survivor jaccard pairs -> connected components -> min-id keeper

Each returns either a survivors DataFrame or a duplicate-pairs DataFrame.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from information_extraction_t5_spark.functions.vectors import cosine
from information_extraction_t5_spark.operators.linking import (
    lsh_candidate_pairs,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str,
                normalize: bool = True) -> DataFrame:
    """Keep the min-id row per identical (optionally normalized) content.

    Content key is md5 — group on the digest, not the text, so the shuffle
    moves 32-byte keys instead of documents.
    """
    content = F.col(text_col)
    if normalize:
        content = F.lower(F.trim(F.regexp_replace(content, r"\s+", " ")))
    keyed = df.withColumn("_fp", F.md5(content))
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(fingerprint, n_copies, keeper) for groups with >1 copy."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper"),
        )
        .filter(F.col("n_copies") > 1)
    )


def word_ngrams(col, n: int = 3):
    """array<string> of word n-grams."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def ngram_jaccard(a, b, n: int = 3):
    """Exact Jaccard over distinct word n-grams of two text columns."""
    ga = F.array_distinct(word_ngrams(a, n))
    gb = F.array_distinct(word_ngrams(b, n))
    inter = F.size(F.array_intersect(ga, gb)).cast("double")
    union = F.size(F.array_union(ga, gb)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def jaccard_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.8, n: int = 3,
                        n_hashes: int = 16, bands: int = 8) -> DataFrame:
    """LSH-blocked pairs verified with exact n-gram Jaccard >= threshold.

    Blocking first: the quadratic verify only runs inside buckets.
    """
    cand = lsh_candidate_pairs(df, id_col, text_col, n_hashes, bands)
    texts = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    a = texts.withColumnRenamed("_id", "id_a").withColumnRenamed("_t", "text_a")
    b = texts.withColumnRenamed("_id", "id_b").withColumnRenamed("_t", "text_b")
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", ngram_jaccard(F.col("text_a"), F.col("text_b"), n))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(col, n_bits: int = 64, hash_fn: str = "xxhash64"):
    """n_bits-wide SimHash over word tokens, pure expressions.

    Per token: a 64-bit hash; per bit: +1 if set else -1; sign of the sum
    is the fingerprint bit.  aggregate() keeps the whole reduction
    JVM-side.  ``hash_fn='xxhash64'`` (default) is the fast production
    path; ``'md5'`` derives the token hash from the md5 hex prefix so a
    DuckDB oracle can replay the fingerprint bit-for-bit.
    """
    toks = F.array_distinct(F.split(F.lower(F.trim(col)), r"\s+"))
    if hash_fn == "md5" and n_bits > 32:
        # the md5 token hash is a 32-bit hex-prefix: bits 32+ of every
        # token hash are 0, so fingerprint bits 32..63 would all collapse
        # to constant 0 and pigeonhole chunk blocking over them becomes
        # non-discriminative (degenerates toward all-pairs).  Fail loud.
        raise ValueError(
            "hash_fn='md5' supports n_bits <= 32 (32-bit hex-prefix "
            "token hashes); use hash_fn='xxhash64' for wider fingerprints"
        )
    if hash_fn == "md5":
        hashes = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
            .cast("bigint"),
        )
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))

    # ONE aggregate pass with an n_bits-wide counter-array accumulator
    # (r6).  The previous form ran n_bits separate aggregate() calls,
    # and HOF lambdas have no CSE — ``hashes`` (an md5/xxhash64 per
    # token) was re-evaluated once PER BIT: 32-64x wasted hashing per
    # document.  The bit masks ride as a literal array (constant-folded,
    # free inside the lambda).
    masks = F.array(
        *[F.lit(1 << i).cast("long") for i in range(n_bits)]
    )
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1)
            .otherwise(-1),
        ),
    )
    bit_values = F.zip_with(
        counts, masks,
        lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        bit_values, F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def simhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        max_hamming: int = 3, n_bits: int = 16,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on hash bands.

    n_bits=16 keeps the expression tree small for tests; 64 (with the
    default xxhash64 token hash — md5 mode caps at 32) for production.
    Blocking: split the fingerprint into (max_hamming+1) chunks — a pair
    within the budget must agree on at least one chunk (pigeonhole), so
    the blocked result is IDENTICAL to the full O(n^2) join, not an
    approximation.  ``hash_fn='md5'`` makes the result oracle-replayable.
    """
    chunks = max_hamming + 1
    chunk_bits = max(n_bits // chunks, 1)
    fp = df.select(
        F.col(id_col).alias("id"),
        simhash64(F.col(text_col), n_bits, hash_fn=hash_fn).alias("fp"),
    )
    banded = fp.select(
        "id", "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), c * chunk_bits)
                    .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.chunk_val") == F.col("r.chunk_val"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
            F.col("l.fp").alias("fp_a"), F.col("r.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_dedup_pairs(df: DataFrame, id_col: str, vec_col: str,
                          threshold: float = 0.95,
                          bucketed: bool = True,
                          n_planes: int = 8, n_tables: int = 4,
                          seed: int = 42,
                          dim: int = 0) -> DataFrame:
    """Cosine near-dup pairs, hyperplane-LSH blocked by default.

    Each of ``n_tables`` hash tables assigns a random-hyperplane sign
    bucket (pure expression, no UDF); candidates are pairs sharing a
    bucket in ANY table — an equi-join on (table, bucket), never all
    pairs.  Only ids travel through the candidate join; vectors are
    joined back for the exact cosine verify.  Misses fall exponentially
    with ``n_tables`` (a cos>=0.95 pair agrees with one 8-plane table
    w.p. ~0.6, with at least one of 4 tables w.p. ~0.97+).

    ``bucketed=False`` is the exact all-pairs escape hatch for tiny
    inputs or recall audits — O(n^2), never the default.
    """
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    if not bucketed:
        a, b = v.alias("a"), v.alias("b")
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                cosine(F.col("a.vec"), F.col("b.vec")).alias("cos"),
            )
            .filter(F.col("cos") >= threshold)
        )

    if dim <= 0:  # probe one row for the dimension (pass dim to skip)
        dim_row = v.select(F.size("vec").alias("d")).head()
        if dim_row is None:  # empty input
            return v.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cos double"
            )
        dim = dim_row["d"]
    from information_extraction_t5_spark.functions.vectors import (
        hyperplane_sign_bits,
    )
    from information_extraction_t5_spark.operators.similarity import (
        random_hyperplanes,
    )

    buckets = F.array(
        *[
            hyperplane_sign_bits(
                F.col("vec"), random_hyperplanes(dim, n_planes, seed + t)
            )
            for t in range(n_tables)
        ]
    )
    # ids-only through the shuffle: vectors rejoin after the candidate set
    banded = v.select(
        "id", F.posexplode(buckets).alias("table", "bucket")
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.table") == F.col("r.table"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("_va"))
    vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("_vb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .select(
            "id_a", "id_b",
            cosine(F.col("_va"), F.col("_vb")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def near_dedup_survivors(df: DataFrame, id_col: str, text_col: str,
                         threshold: float = 0.8, n: int = 3,
                         n_hashes: int = 16, bands: int = 8) -> DataFrame:
    """Cluster-level near-duplicate removal: keep the min-id document per
    near-dup CLUSTER (transitive closure of verified pairs), not per pair.

    jaccard pairs (LSH-blocked, exact verify) -> star-contraction connected
    components (O(log n) rounds) -> anti-join the non-minimal members.
    Pairwise dedup under-deletes chains (a~b, b~c with a!~c); the closure
    is the semantics an LLM-training corpus wants.  Shuffles: the blocked
    candidate join + the CC rounds — ids only, never text.
    """
    from information_extraction_t5_spark.operators.canonicalize import (
        connected_components_star,
    )

    pairs = jaccard_dedup_pairs(df, id_col, text_col, threshold, n,
                                n_hashes, bands)
    comps = connected_components_star(pairs, "id_a", "id_b")
    losers = comps.filter(F.col("component") != F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
