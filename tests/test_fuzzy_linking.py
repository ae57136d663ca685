"""LSH-blocked fuzzy name linking inside the pipeline."""
import datetime as dt

from pyspark.sql import functions as F

from information_extraction_t5_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
)

T0 = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)


def _conv(cid, name, cpf):
    lines = [
        "Dados Básicos do Titular",
        "CPF",
        cpf,
        f"Nome Completo {name}",
        "Cidadania BRASILEIRA",
    ]
    return [
        (cid, i, "user" if i % 2 == 0 else "assistant", ln, None,
         T0 + dt.timedelta(seconds=i))
        for i, ln in enumerate(lines)
    ]


def test_typo_names_merge_without_shared_cpf(spark):
    rows = (
        _conv("c_a", "ANA MADALENA SILVEIRA ALVES", "111.222.333-44")
        + _conv("c_b", "ANA MADALENA SILVEIRA ALVEZ", "555.666.777-88")
        + _conv("c_c", "BRUNO VINICIUS FERREIRA", "999.888.777-66")
    )
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    triples = run_pipeline(spark, t, PipelineConfig(fuzzy_link=True))
    subj = {r["conv_id"]: r["subj"]
            for r in triples.select("conv_id", "subj").distinct().collect()}
    # one-char typo, different CPFs: LSH blocking + levenshtein rerank
    # still merges the two mentions
    assert subj["c_a"] == subj["c_b"]
    assert subj["c_c"] != subj["c_a"]

    # and with fuzzy linking off they stay separate
    triples_off = run_pipeline(spark, t, PipelineConfig(fuzzy_link=False))
    subj_off = {
        r["conv_id"]: r["subj"]
        for r in triples_off.select("conv_id", "subj").distinct().collect()
    }
    assert subj_off["c_a"] != subj_off["c_b"]


def test_carried_value_edges_match_rerank(spark):
    """carry_value inline Levenshtein (r7) == levenshtein_rerank joins,
    for 1:1 id->value inputs like the pipeline's name_rep frame."""
    from information_extraction_t5_spark.operators.linking import (
        bucket_pairs,
        levenshtein_rerank,
        lsh_buckets,
        minhash_bands,
    )
    from pyspark.sql import functions as F

    names = [
        "maria madalena silva", "maria madalena silvaa",
        "joao costa alves", "joao costa alvez", "joao costa azvez",
        "ana trindade reis", "completely different name",
        "ana trindade reiss", "paulo moreira lima", "paulo moreira limas",
    ] + [f"unique name number {i}" for i in range(50)]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )

    old_cand = bucket_pairs(lsh_buckets(df, "id", "name", n_hashes=16,
                                        bands=4, k=3), max_bucket=64)
    old = levenshtein_rerank(old_cand, df, "id", "name", max_dist=2)
    # the fuzzy stage's form: name-keyed aggregate bands carrying the value
    named = df.select("id", F.col("name").alias("val"))
    new_cand = bucket_pairs(minhash_bands(named, "val", ["val", "id"],
                                          n_hashes=16, bands=4, k=3),
                            max_bucket=64, carry_value=True)
    new = (
        new_cand.filter(
            F.abs(F.length("val_a") - F.length("val_b")) <= 2
        )
        .filter(F.levenshtein("val_a", "val_b") <= 2)
    )
    a = sorted((r["id_a"], r["id_b"]) for r in old.collect())
    b = sorted((r["id_a"], r["id_b"]) for r in new.collect())
    assert a == b and len(a) > 0
