"""The aggregate MinHash (exploded shingles, one min aggregate per seed)
gives the band keys and candidate pairs of the per-row
``array_min(transform(...))`` signature."""
import itertools
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from information_extraction_t5_spark.functions.text import normalize_answer
from information_extraction_t5_spark.operators.linking import (
    bucket_pairs,
    lsh_buckets,
    lsh_candidate_pairs,
    minhash_bands,
    with_minhash_signature,
)
from information_extraction_t5_spark.pipeline import (
    _name_bands,
    fuzzy_name_edges,
)

N_HASHES, BANDS, K = 16, 4, 3

ROWS = [
    (1, None), (2, ""), (3, "a"), (4, "ab"), (5, "abc"),
    # repeated shingles
    (6, "aaaaaaaa"), (7, "abababab"), (8, "aaaaaaab"),
    # accented, mixed case
    (9, "JOÃO DA CONCEIÇÃO"), (10, "joão da conceição"),
    (11, "joão da conceiçao"), (12, "ÁLVARO ÉDSON"),
    # duplicate ids: same id with another text, and an exact duplicate row
    (13, "maria madalena silva"), (13, "maria madalena silvaa"),
    (14, "maria madalena silva"), (14, "maria madalena silva"),
    (15, None), (16, ""), (17, "ab"),
] + [(100 + i, f"paulo moreira lima {i % 7}") for i in range(40)]


def _names(spark):
    return spark.createDataFrame(ROWS, "id long, name string")


def _reference_buckets(df, fast):
    """(id, val, band, band_key) from the row-wise signature array; NULL
    names get no bucket."""
    rows_per_band = N_HASHES // BANDS
    sig = with_minhash_signature(df.filter(F.col("name").isNotNull()), "sig",
                                 F.col("name"), n_hashes=N_HASHES, k=K,
                                 fast=fast)
    return sig.select(
        "id", F.col("name").alias("val"),
        F.posexplode(F.array(*[
            F.concat_ws("|", F.slice("sig", b * rows_per_band + 1,
                                     rows_per_band))
            for b in range(BANDS)
        ])).alias("band", "band_key"),
    )


def _aggregate_buckets(df, fast):
    """(id, val, band, band_key) from ``minhash_bands``, one group per
    input row (a row id keeps duplicate rows apart)."""
    rows = df.select(F.monotonically_increasing_id().alias("_row"), "id",
                     F.col("name").alias("val"))
    return minhash_bands(rows, "val", ["_row", "id", "val"],
                         n_hashes=N_HASHES, bands=BANDS, k=K,
                         fast=fast).drop("_row")


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _pairs(bucket_rows, max_bucket):
    """Candidate pairs by hand: id_a < id_b sharing a (band, band_key)
    bucket of at most ``max_bucket`` rows."""
    buckets = defaultdict(list)
    for id_, val, band, key in bucket_rows:
        buckets[(band, key)].append((id_, val))
    out = set()
    for members in buckets.values():
        if max_bucket is not None and len(members) > max_bucket:
            continue
        for (ia, va), (ib, vb) in itertools.permutations(members, 2):
            if ia < ib:
                out.add((ia, ib, va, vb))
    return out


@pytest.mark.parametrize("fast", [False, True])
def test_band_keys_match_row_signature(spark, fast):
    df = _names(spark)
    ref = _rows(_reference_buckets(df, fast))
    assert _rows(_aggregate_buckets(df, fast)) == ref
    n_texts = sum(1 for _, name in ROWS if name is not None)
    assert sum(ref.values()) == n_texts * BANDS
    # NULL names (ids 1, 15) have no bucket; empty names (2, 16) keep one
    ids = {i for i, _, _, _ in ref}
    assert {1, 15}.isdisjoint(ids) and {2, 16} <= ids
    if not fast:
        drop_val = Counter()
        for (i, _, b, key), n in ref.items():
            drop_val[(i, b, key)] += n
        assert _rows(lsh_buckets(df, "id", "name", N_HASHES, BANDS,
                                 K)) == drop_val


@pytest.mark.parametrize("max_bucket", [None, 3])
@pytest.mark.parametrize("fast", [False, True])
def test_candidate_pairs_match_row_signature(spark, fast, max_bucket):
    df = _names(spark)
    want = _pairs(_reference_buckets(df, fast).collect(), max_bucket)
    assert len(want) > 0
    got = bucket_pairs(_aggregate_buckets(df, fast), max_bucket=max_bucket,
                       carry_value=True).collect()
    assert {tuple(r) for r in got} == want
    if fast:
        return
    want_ids = sorted({(a, b) for a, b, _, _ in want})
    plain = bucket_pairs(lsh_buckets(df, "id", "name", N_HASHES, BANDS, K),
                         max_bucket=max_bucket).collect()
    assert sorted(tuple(r) for r in plain) == want_ids
    if max_bucket is None:
        pairs = lsh_candidate_pairs(df, "id", "name", N_HASHES, BANDS,
                                    K).collect()
        assert sorted(tuple(r) for r in pairs) == want_ids


def test_fuzzy_name_edges_match_row_signature(spark):
    """The pipeline's fuzzy stage (minhash inside the name aggregate) keeps
    the edges of the name_rep -> row signature -> bucket join chain."""
    names = [n for _, n in ROWS]
    triples = spark.createDataFrame(
        [(f"c{i:03d}", "form.nome_completo", n) for i, n in enumerate(names)]
        + [("c900", "form.cpf", "111"), ("c901", "form.nome_completo",
                                         "MARIA MADALENA SILVA")],
        "conv_id string, pred string, obj string",
    )
    name_rep = (
        triples.filter(F.col("pred") == "form.nome_completo")
        .groupBy(normalize_answer(F.col("obj")).alias("name"))
        .agg(F.min("conv_id").alias("id"))
    )
    want = {
        (a, b) for a, b, va, vb in _pairs(
            _reference_buckets(name_rep, False).collect(), 64)
        if abs(len(va) - len(vb)) <= 2 and _lev(va, vb) <= 2
    }
    got = fuzzy_name_edges(triples, max_dist=2).collect()
    assert {tuple(r) for r in got} == want
    assert len(want) > 0


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_stage_hashes_distinct_names_on_every_core(spark):
    """The fuzzy stage dedups the names on a pinned hash partitioning of
    defaultParallelism width and hashes them in a min aggregate in the
    same stage: one exchange, no interpreted array_min(transform(...)),
    and the hashing above the name dedup."""
    triples = spark.createDataFrame(
        [(f"c{i:03d}", "form.nome_completo", n or "x")
         for i, (_, n) in enumerate(ROWS)],
        "conv_id string, pred string, obj string",
    )
    plan = _name_bands(triples)._jdf.queryExecution().executedPlan() \
        .toString().splitlines()
    text = "\n".join(plan)
    assert "array_min" not in text
    exchanges = [ln for ln in plan if "Exchange" in ln]
    assert len(exchanges) == 1, text
    width = re.search(r"hashpartitioning\(val#\d+, (\d+)\), "
                      r"REPARTITION_BY_NUM", exchanges[0])
    assert width and int(width.group(1)) == \
        spark.sparkContext.defaultParallelism, text
    hashing = min(i for i, ln in enumerate(plan) if "min(md5(" in ln)
    dedup = min(i for i, ln in enumerate(plan) if "min(id#" in ln)
    assert hashing < dedup < plan.index(exchanges[0])


def test_null_texts_get_no_bucket(spark):
    """Many NULL texts beside a planted near-duplicate pair: no candidate
    pair has a NULL side, the verify finds only the planted pair, and
    near-dedup keeps every NULL document."""
    from information_extraction_t5_spark.operators.dedup import (
        jaccard_dedup_pairs,
        near_dedup_survivors,
    )

    words = [f"palavra{i:02d}" for i in range(20)]
    near = list(words)
    near[10] = "trocada"  # kills 3 of 18 word 3-grams: Jaccard 15/21
    texts = [(1, " ".join(words)), (2, " ".join(near))]
    texts += [(10 + i, f"documento distinto numero {i} sobre assunto {i * 7}")
              for i in range(10)]
    null_ids = list(range(100, 160))
    texts += [(i, None) for i in null_ids]
    df = spark.createDataFrame(texts, "doc_id long, text string")

    pairs = lsh_candidate_pairs(df, "doc_id", "text", 16, 8).collect()
    assert (1, 2) in {tuple(r) for r in pairs}
    assert not {i for r in pairs for i in r} & set(null_ids)

    dups = jaccard_dedup_pairs(df, "doc_id", "text", threshold=0.7)
    assert [(r["id_a"], r["id_b"]) for r in dups.collect()] == [(1, 2)]

    kept = {r["doc_id"] for r in near_dedup_survivors(
        df, "doc_id", "text", threshold=0.7).collect()}
    assert kept == {i for i, _ in texts} - {2}
