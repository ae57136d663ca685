"""Entity linking: alias normalization, LSH blocking, salted joins.

Three scale-aware pieces:

  - alias dictionary broadcast join (the reference's variation expansion,
    highlights.py:13-58, generalized): surface form -> canonical id.
  - MinHash blocking for fuzzy candidate generation: shingle -> minhash
    signature (per row, or per group as min aggregates over exploded
    shingles) -> band buckets -> equi-join on bucket, then exact
    Levenshtein re-rank (reference semantics: highlights.py:96-174).
    Candidate generation never compares all pairs — the equi-join on
    (band, band_hash) is the blocker.
  - salted join for hot keys: explode the small side S ways, salt the big
    side with pmod(hash, S) — bounds the largest task when one entity
    dominates (beyond what AQE skew-split handles).
"""
from __future__ import annotations

from typing import List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from information_extraction_t5_spark.core.fuzzy import AREA_UNITS, STATE_NAMES


def alias_rows() -> List[dict]:
    """(alias_lower -> canonical) seeded from the reference's state/area
    variation maps; identity rows included so lookups are total."""
    rows = []
    for code, name in STATE_NAMES.items():
        rows.append({"alias": name.lower(), "canonical": code})
        rows.append({"alias": code.lower(), "canonical": code})
    for canon, variants in AREA_UNITS.items():
        rows.append({"alias": canon.lower(), "canonical": canon})
        for v in variants:
            rows.append({"alias": v.lower(), "canonical": canon})
    return rows


def alias_df(spark) -> DataFrame:
    """The alias dictionary as a local relation, built through Arrow: a
    Python list would be pickled through a Python-worker task on every
    read."""
    return spark.createDataFrame(pa.Table.from_pylist(alias_rows()),
                                 "alias string, canonical string")


def link_aliases(
    df: DataFrame,
    aliases: DataFrame,
    value_col: str = "obj",
    out_col: str = "obj",
    predicates: Optional[List[str]] = None,
    pred_col: str = "pred",
) -> DataFrame:
    """Broadcast-join alias normalization of a value column.

    Only rows whose predicate is in ``predicates`` (None = all) are
    rewritten; everything else passes through untouched. The alias table is
    broadcast — no shuffle of the big side.
    """
    pred_ok = (
        F.lit(True) if predicates is None
        else F.col(pred_col).isin(predicates)
    )
    # pure equi key (NULL when not linkable) so Catalyst picks a
    # BroadcastHashJoin — mixing non-equi predicates into a LEFT join
    # degenerates to BroadcastNestedLoopJoin
    keyed = df.withColumn(
        "_alias_key", F.when(pred_ok, F.lower(F.col(value_col)))
    )
    joined = keyed.join(
        F.broadcast(aliases),
        on=keyed["_alias_key"] == aliases["alias"],
        how="left",
    )
    return joined.withColumn(
        out_col, F.coalesce(F.col("canonical"), F.col(value_col))
    ).drop("alias", "canonical", "_alias_key")


# ---------------------------------------------------------------------------
# MinHash/LSH blocking (DataFrame-native, md5-based so oracles can replay it)
# ---------------------------------------------------------------------------


def char_shingles(col, k: int = 3):
    """array<string> of k-char shingles of lower(col)."""
    lowered = F.lower(col)
    n = F.greatest(F.length(lowered) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: F.substring(lowered, i, k)
    )


def _seeded_hash(s, seed: int, fast: bool = False):
    """The MinHash family: md5('<seed>:' || s) hex strings, engine-portable
    (DuckDB computes the identical value, oracle_sql._minhash16_sql);
    ``fast=True`` uses xxhash64(s, seed) longs (~5x cheaper)."""
    if fast:
        return F.xxhash64(s, F.lit(seed))
    return F.md5(F.concat(F.lit(f"{seed}:"), s))


def with_minhash_signature(df: DataFrame, out_col: str, text_col,
                           n_hashes: int = 16, k: int = 3,
                           fast: bool = False) -> DataFrame:
    """df + ``out_col`` = per-row minhash signature array (per seed, the
    min hash over the shingles), with the shingle array STAGED as its own
    projection first (r7): HOF lambdas have no CSE, so an inline shingle
    array is re-extracted once per hash seed.  ``lsh_buckets`` bands it
    per row; the fuzzy stage uses the aggregate form, ``minhash_bands``."""
    sh_col = f"__mh_sh_{out_col}"
    step = df.withColumn(sh_col, char_shingles(text_col, k))

    def seeded(seed: int):
        # closure factory: a 2-param lambda would receive (element, index)
        # from transform() and clobber the seed
        return lambda s: _seeded_hash(s, seed, fast)

    sig = F.array(*[F.array_min(F.transform(F.col(sh_col), seeded(i)))
                    for i in range(n_hashes)])
    return step.withColumn(out_col, sig).drop(sh_col)


def _band_keys(sig, n_hashes: int, bands: int):
    """(band, band_key) rows of a signature array: band b is the '|'-joined
    hashes b*r .. b*r+r-1 (r = n_hashes // bands)."""
    rows_per_band = n_hashes // bands
    return F.posexplode(F.array(*[
        F.concat_ws("|", F.slice(sig, b * rows_per_band + 1, rows_per_band))
        for b in range(bands)
    ])).alias("band", "band_key")


def minhash_bands(df: DataFrame, text_col: str, keys: List[str],
                  aggs=(), n_hashes: int = 16, bands: int = 4, k: int = 3,
                  fast: bool = False) -> DataFrame:
    """(*keys, *aggs, band, band_key): LSH band keys of ``text_col``'s
    minhash signature, one row per group of ``keys`` and band; equal
    band_key => candidate.  ``text_col`` must be constant within a group.

    The shingles are exploded once and each seed's hash is a plain ``min``
    aggregate of ``groupBy(keys)``: codegen'd, and computed map-side by the
    partial aggregation on every input partition — not an interpreted
    ``array_min(transform(...))`` lambda per seed.  ``aggs`` ride the same
    aggregate.  Every input row is hashed, so deduplicate first where the
    groups repeat (the fuzzy stage does).  Values equal
    ``with_minhash_signature``'s.  NULL texts get no band rows: their
    signature is a constant (NULL with md5, the seeds with xxhash64), so
    every NULL text would share one bucket per band with every other."""
    sh = F.col("__mh_sh")
    sig = [F.min(_seeded_hash(sh, i, fast)).alias(f"__mh{i}")
           for i in range(n_hashes)]
    grouped = (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("__mh_sh", F.explode(char_shingles(F.col(text_col), k)))
        .groupBy(*keys)
        .agg(*aggs, *sig)
    )
    return grouped.select(
        *[c for c in grouped.columns if not c.startswith("__mh")],
        _band_keys(F.array(*[F.col(f"__mh{i}") for i in range(n_hashes)]),
                   n_hashes, bands),
    )


def lsh_buckets(df: DataFrame, id_col: str, text_col: str,
                n_hashes: int = 16, bands: int = 4,
                k: int = 3) -> DataFrame:
    """(id, band, band_key): one row per input row and band; equal
    band_key => candidate.  Narrow: the per-row signature of
    ``with_minhash_signature``, sliced into bands.  NULL texts get no rows
    (see ``minhash_bands``); an empty text keeps its bucket, shared only
    with other empty texts."""
    step = with_minhash_signature(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__lsh"))
        .filter(F.col("__lsh").isNotNull()),
        "sig", F.col("__lsh"), n_hashes, k,
    )
    return step.select("id", _band_keys(F.col("sig"), n_hashes, bands))


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                        n_hashes: int = 16, bands: int = 4,
                        k: int = 3) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket of
    ``lsh_buckets``."""
    return bucket_pairs(lsh_buckets(df, id_col, text_col, n_hashes, bands, k))


def bucket_pairs(b: DataFrame, max_bucket: Optional[int] = None,
                 carry_value: bool = False,
                 distinct_pairs: bool = True) -> DataFrame:
    """Candidate pairs (id_a < id_b) of (id[, val], band, band_key) rows
    sharing a bucket.

    The self-join is on (band, band_key) — shuffle is hash-partitioned on
    the bucket key, never all-pairs.  Dedup across bands via distinct.

    ``max_bucket`` drops buckets with more members than the cap before the
    self-join: oversized buckets are non-discriminative (near-identical
    short texts) and their within-bucket join is quadratic — standard LSH
    hygiene for skewed corpora.

    ``carry_value=True`` adds val_a/val_b columns (the blocked texts) so
    an exact verify can run without re-joining the value table — two
    fewer joins when ids map 1:1 to values (r7).

    ``distinct_pairs=False`` skips the cross-band dedup shuffle: a pair
    sharing several band buckets is emitted once per band.  Only for
    consumers that are duplicate-insensitive (connected components);
    the default keeps the documented distinct-pairs contract.
    """
    # the bucket table feeds both self-join sides (and the bucket-size
    # window); without materialization each branch recomputes every
    # minhash signature.  Lazy (r7): the materialization folds into the
    # first consuming job instead of paying its own blocking job.
    b = b.localCheckpoint(eager=False)
    if max_bucket is not None:
        # bucket-size cap as a window count (r7): one exchange on
        # (band, band_key) that the self-join below then reuses —
        # the former groupBy+join-back form paid a separate aggregation
        # shuffle plus a join.  Row-identical filter.
        w = Window.partitionBy("band", "band_key")
        b = (
            b.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    left = b.alias("l")
    right = b.alias("r")
    cols = [F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")]
    if carry_value:
        cols += [F.col("l.val").alias("val_a"), F.col("r.val").alias("val_b")]
    out = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_key") == F.col("r.band_key"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(*cols)
    )
    return out.distinct() if distinct_pairs else out


def levenshtein_rerank(pairs: DataFrame, values: DataFrame,
                       id_col: str, value_col: str,
                       max_dist: int = 3) -> DataFrame:
    """Exact re-rank of blocked candidates: keep pairs within a Levenshtein
    budget (reference dist schedule: highlights.py:96-106). ``values`` is
    (id, value); joined twice (both sides small after blocking)."""
    v1 = values.select(F.col(id_col).alias("id_a"),
                       F.col(value_col).alias("val_a"))
    v2 = values.select(F.col(id_col).alias("id_b"),
                       F.col(value_col).alias("val_b"))
    return (
        pairs.join(v1, "id_a").join(v2, "id_b")
        # length-difference bound prunes before the O(n*m) edit distance
        .filter(
            F.abs(F.length("val_a") - F.length("val_b")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("val_a", "val_b"))
        .filter(F.col("dist") <= max_dist)
    )


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt: int = 16, how: str = "inner") -> DataFrame:
    """Skew-proof equi-join: replicate the small side ``salt`` ways and
    scatter the big side with pmod(xxhash64(key), salt).  Use when one key
    (a hot entity) would otherwise pin a single reducer."""
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    salted_big = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key)), F.lit(salt)).cast("int")
    )
    return salted_big.join(salted_small, on=[key, "_salt"], how=how).drop("_salt")
