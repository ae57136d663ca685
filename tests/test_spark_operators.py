"""Spark-side operator semantics: expression/kernel equivalence, shuffle
invariance, dedup/similarity/balance behavior."""
import pandas as pd
import pytest
from pyspark.sql import functions as F

from information_extraction_t5_spark.core import textnorm
from information_extraction_t5_spark.data import synth
from information_extraction_t5_spark.functions import text as tx
from information_extraction_t5_spark.functions.metrics import (
    eval_rollup,
    score,
)
from information_extraction_t5_spark.operators import dedup as dd
from information_extraction_t5_spark.operators import multimodal as mm
from information_extraction_t5_spark.operators.balance import balance
from information_extraction_t5_spark.operators.canonicalize import (
    canonical_entities,
    connected_components_star,
)
from information_extraction_t5_spark.operators.linking import (
    alias_df,
    link_aliases,
    lsh_candidate_pairs,
    salted_join,
)
from information_extraction_t5_spark.operators.postprocess import (
    explode_compound,
    top1_window,
)
from information_extraction_t5_spark.operators.similarity import (
    brute_force_topk,
)
from information_extraction_t5_spark.operators.windows import (
    assemble_documents,
)

SAMPLES = [
    "Rua PEDRO BIAGI 462 Apartamento nº 103. Sertãozinho\nSP",
    "a\nb\nc",
    "{x}\ny",
    "linha unica",
    "The  QUICK, fox! São Paulo",
]


@pytest.fixture(scope="module")
def strings_df(spark):
    return spark.createDataFrame([(s,) for s in SAMPLES], "s string")


def test_number_sentences_expr_matches_kernel(spark, strings_df):
    got = [
        r["out"]
        for r in strings_df.select(
            tx.number_sentences(F.col("s")).alias("out")
        ).collect()
    ]
    assert got == [textnorm.number_sentences(s) for s in SAMPLES]


def test_normalize_answer_expr_matches_kernel(spark, strings_df):
    got = [
        r["out"]
        for r in strings_df.select(
            tx.normalize_answer(F.col("s")).alias("out")
        ).collect()
    ]
    assert got == [textnorm.normalize_answer(s) for s in SAMPLES]


def test_sent_id_expr_matches_kernel(spark):
    ctx = "line1\nline2\nline3"
    rows = [(ctx, -1), (ctx, 0), (ctx, 6), (ctx, 13)]
    df = spark.createDataFrame(rows, "ctx string, pos int")
    got = [
        r["sid"]
        for r in df.select(
            tx.sent_id_at(F.col("ctx"), F.col("pos")).alias("sid")
        ).collect()
    ]
    assert got == [textnorm.sent_id_at(ctx, p) for _, p in rows]


def test_assemble_documents_order_invariant(spark):
    t = synth.transcripts_df(spark, 6)
    shuffled = t.orderBy(F.rand(7)).repartition(13)
    a = {r["conv_id"]: r["text"]
         for r in assemble_documents(t, clean=False).collect()}
    b = {r["conv_id"]: r["text"]
         for r in assemble_documents(shuffled, clean=False).collect()}
    assert a == b
    # per-turn equality invariant: join of ordered turns == document text
    lines = synth.document_lines("conv_000003")
    assert a["conv_000003"] == "\n".join(lines)


def test_top1_window_fewer_na_then_prob(spark):
    rows = [
        # (conv, qa, window, prediction, prob)
        ("c1", "q1", 0, "[X]: N/A [Y]: v", 0.99),
        ("c1", "q1", 1, "[X]: a [Y]: b", 0.10),   # fewer N/A wins despite prob
        ("c1", "q2", 0, "[X]: a", 0.20),
        ("c1", "q2", 1, "[X]: b", 0.90),          # same NA count: prob wins
        ("c1", "q3", 0, "[X]: a", 0.50),
        ("c1", "q3", 1, "[X]: b", 0.50),          # tie: earliest window wins
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, qa_id string, window_id int, "
              "prediction string, prob double"
    )
    got = {
        (r["conv_id"], r["qa_id"]): r["window_id"]
        for r in top1_window(df).collect()
    }
    assert got == {("c1", "q1"): 1, ("c1", "q2"): 1, ("c1", "q3"): 0}


def test_explode_compound_spark_matches_kernel(spark):
    rows = [(
        "[SENT1] [Logradouro]: Rua Abert [SENT1] [Bairro]: Cidade Universitária",
        "[SENT1] [Logradouro]: Rua 41bert [SENT1] [Bairro]: Cidade Universitaria",
        "doc_1", "form.endereco", 0.98, 7,
    )]
    df = spark.createDataFrame(
        rows, "label string, prediction string, conv_id string, "
              "qa_id string, prob double, window_id int"
    )
    out = explode_compound(df).orderBy("example_id").collect()
    assert [r["example_id"] for r in out] == [
        "form.endereco", "form.endereco~bairro", "form.endereco~bairro*",
        "form.endereco~logradouro", "form.endereco~logradouro*",
    ]
    orig = [r for r in out if r["example_id"] == "form.endereco"][0]
    assert orig["window_ids"] == [7, 7]
    assert orig["is_original"]


def test_metric_rollup(spark):
    df = spark.createDataFrame(
        [("g1", "a b", "a b"), ("g1", "x", "y"), ("g2", "k", "k")],
        "group_key string, label string, prediction string",
    )
    scored = score(df, exact_f1=False)
    out = {r["group_key"]: (r["exact"], r["total"])
           for r in eval_rollup(scored).collect()}
    assert out[None] == (pytest.approx(200 / 3), 3)
    assert out["g1"] == (50.0, 2)
    assert out["g2"] == (100.0, 1)


def test_alias_linking(spark):
    df = spark.createDataFrame(
        [("form.endereco.estado", "São Paulo"),
         ("form.endereco.estado", "BA"),
         ("form.cidade", "São Paulo")],
        "pred string, obj string",
    )
    out = link_aliases(df, alias_df(spark),
                       predicates=["form.endereco.estado"])
    got = {(r["pred"], r["obj"]) for r in out.collect()}
    assert ("form.endereco.estado", "SP") in got
    assert ("form.endereco.estado", "BA") in got
    assert ("form.cidade", "São Paulo") in got  # non-linked pred untouched


def test_connected_components_and_entities(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    comp = {r["node"]: r["component"]
            for r in connected_components_star(
                edges, driver_threshold=0).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"

    mentions = spark.createDataFrame(
        [("m1", "k1"), ("m2", "k1"), ("m2", "k2"), ("m3", "k2"),
         ("m4", "k9")],
        "conv_id string, mention_key string",
    )
    got = {r["mention"]: r["canonical_id"]
           for r in canonical_entities(mentions).collect()}
    assert got["m1"] == got["m2"] == got["m3"] == "m1"
    assert got["m4"] == "m4"


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same  text"), (2, "same text"), (3, "other")],
        "id bigint, text string",
    )
    survivors = {r["id"] for r in dd.exact_dedup(df, "id", "text").collect()}
    assert survivors == {1, 3}  # whitespace-normalized dup collapses to min id


def test_lsh_candidates_find_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base + "!"), (3, "completely different words here")],
        "id bigint, text string",
    )
    pairs = {(r["id_a"], r["id_b"])
             for r in lsh_candidate_pairs(df, "id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_and_jaccard_pairs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 2
    df = spark.createDataFrame(
        [(1, base), (2, base + " iota"), (3, "unrelated content entirely x")],
        "id bigint, text string",
    )
    sh = {(r["id_a"], r["id_b"])
          for r in dd.simhash_dedup_pairs(df, "id", "text").collect()}
    assert (1, 2) in sh
    jc = {(r["id_a"], r["id_b"])
          for r in dd.jaccard_dedup_pairs(df, "id", "text",
                                          threshold=0.5).collect()}
    assert (1, 2) in jc and (1, 3) not in jc


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    vecs = rng.rand(50, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id bigint, embedding array<double>",
    )
    qv = [float(x) for x in vecs[0]]
    got = [r["vec_id"] for r in brute_force_topk(df, qv, k=5).collect()]
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    expected = list(np.argsort(-np.round(sims, 6), kind="stable")[:5])
    assert got == [int(x) for x in expected]


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(i % 3, i) for i in range(100)], "k int, v int"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b")], "k int, name string")
    plain = set(map(tuple, big.join(small, "k").select("k", "v", "name").collect()))
    salted = set(map(tuple, salted_join(big, small, "k", salt=4)
                     .select("k", "v", "name").collect()))
    assert plain == salted


def test_balance_properties(spark):
    rows = []
    for d in ["d1", "d2"]:
        for i in range(4):
            rows.append((d, "e1", f"[X]: v{i}", 0.5))  # 4 positives
        for i in range(2):
            rows.append((d, "e1", "[X]: N/A", 0.5))    # 2 negatives
    rows.append(("d3", "e1", "[X]: N/A", 0.5))         # negative-only pair
    df = spark.createDataFrame(
        rows, "document_id string, example_id string, label string, prob double"
    )
    out = balance(df, negative_ratio=1, seed=42)
    pdf = out.toPandas()
    # all positives kept
    assert (~pdf["label"].str.contains("N/A")).sum() == 8
    # negatives resampled to n_pos per pair; negative-only pair dropped
    neg = pdf[pdf["label"].str.contains("N/A")]
    assert set(neg["document_id"]) == {"d1", "d2"}
    assert (neg.groupby("document_id").size() == 4).all()
    # deterministic
    pdf2 = balance(df, negative_ratio=1, seed=42).toPandas()
    assert sorted(map(tuple, pdf.values.tolist())) == sorted(
        map(tuple, pdf2.values.tolist())
    )


def test_multimodal_plumbing(spark):
    media = mm.synthetic_media_df(spark, n=12)
    feats = mm.extract_features(media).collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == 8 and r["ok"] for r in feats)
    # deterministic features from payload bytes
    again = mm.extract_features(media).collect()
    assert sorted(r["media_id"] for r in feats) == sorted(
        r["media_id"] for r in again
    )


def test_near_dedup_survivors_chain(spark):
    """Cluster-level dedup follows the transitive closure: a~b and b~c put
    a,b,c in ONE cluster even when a!~c directly — only min(id) survives.
    Pairwise dedup would under-delete here."""
    from information_extraction_t5_spark.operators.dedup import (
        jaccard_dedup_pairs,
        near_dedup_survivors,
    )

    # 20 distinct words; an interior word change kills exactly 3 of the 18
    # word-3grams.  mid = base w/ word5 changed (j=15/21=0.714); far = mid
    # w/ word15 changed (j(2,3)=0.714, j(1,3)=12/24=0.5 < 0.6)
    base = [f"palavra{i:02d}" for i in range(20)]
    mid = list(base); mid[5] = "trocada5"
    far = list(mid); far[15] = "trocada15"
    texts = {
        1: " ".join(base),     # ~ 2
        2: " ".join(mid),      # ~ 1 and ~ 3
        3: " ".join(far),      # ~ 2, NOT ~ 1
        4: "texto completamente diferente sobre um assunto sem relacao",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id int, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in jaccard_dedup_pairs(
            df, "doc_id", "text", threshold=0.6
        ).collect()
    }
    assert (1, 2) in pairs and (2, 3) in pairs
    assert (1, 3) not in pairs  # the chain link only exists through 2

    survivors = {
        r["doc_id"]
        for r in near_dedup_survivors(
            df, "doc_id", "text", threshold=0.6
        ).collect()
    }
    assert survivors == {1, 4}


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= w + k - 1 share at least one fingerprint; disjoint texts share
    none (with overwhelming probability)."""
    from information_extraction_t5_spark.operators.textstats import (
        winnowing_fingerprints,
        with_winnowing_fingerprints,
    )
    from pyspark.sql import functions as F

    shared = "este trecho identico aparece em ambos os documentos"
    rows = [
        (1, "prefixo um qualquer " + shared + " sufixo alfa"),
        (2, "outro comeco bem diferente " + shared + " final beta"),
        # every 5-gram of doc 3 contains a digit -> provably no 5-gram in
        # common with docs 1/2 (natural same-language text DOES share
        # occasional k-grams, which is correct winnowing behavior)
        (3, "aaa111 bbb222 ccc333 ddd444 eee555 fff666 ggg777 hhh888"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: set(r["fps"])
        for r in with_winnowing_fingerprints(
            df, "text", k=5, w=4, out_col="fps"
        ).select("doc_id", "fps").collect()
    }
    assert got[1] & got[2], "shared substring must share a fingerprint"
    assert not (got[1] & got[3])
    assert not (got[2] & got[3])
    # density: selection is a small subset of all k-gram hashes
    n_grams = len(rows[0][1]) - 4
    assert len(got[1]) < n_grams / 2
    # the expression form (short-text compatibility path) agrees exactly
    expr_got = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id",
            winnowing_fingerprints(F.col("text"), k=5, w=4).alias("fps"),
        ).collect()
    }
    assert expr_got == got


def test_weighted_sampling_bias_and_determinism(spark):
    """E-S weighted sampling: heavy rows are drawn far more often, the
    draw is identical across runs/partitionings, and per-group sampling
    caps at k per group."""
    from information_extraction_t5_spark.operators.sampling import (
        grouped_sample,
        weighted_sample,
    )

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id bigint, w double")

    got = {r["id"] for r in weighted_sample(df, 100, "id", "w").collect()}
    heavy = sum(1 for i in got if i < 50)
    # 50 heavy rows carry 5000 of 5950 total weight; near-all are drawn
    assert heavy >= 40
    again = {
        r["id"]
        for r in weighted_sample(
            df.repartition(17), 100, "id", "w"
        ).collect()
    }
    assert got == again  # partitioning-invariant determinism

    g = spark.createDataFrame(
        [(i % 5, i) for i in range(200)], "grp int, id bigint"
    )
    per = grouped_sample(g, 3, "id", ["grp"])
    counts = {r["grp"]: r["n"] for r in per.groupBy("grp")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(v == 3 for v in counts.values()) and len(counts) == 5


def test_weighted_sample_plan_is_take_ordered(spark):
    """Global sampling must compile to TakeOrdered (map-side heaps), not a
    full sort."""
    import io
    import sys

    from information_extraction_t5_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.range(10000).withColumn("w", (F.col("id") % 7 + 1).cast("double"))
    buf, old = io.StringIO(), sys.stdout
    sys.stdout = buf
    weighted_sample(df, 10, "id", "w").explain("formatted")
    sys.stdout = old
    assert "TakeOrderedAndProject" in buf.getvalue()


def test_simhash_md5_rejects_wide_fingerprints(spark):
    """md5 token hashes are a 32-bit hex prefix: n_bits>32 would silently
    zero bits 32..63 and collapse pigeonhole blocking (ADVICE r2)."""
    df = spark.createDataFrame([(1, "a b c")], "id bigint, text string")
    with pytest.raises(ValueError, match="n_bits <= 32"):
        dd.simhash_dedup_pairs(df, "id", "text", n_bits=64, hash_fn="md5")
    # 32 still fine
    assert dd.simhash_dedup_pairs(
        df, "id", "text", n_bits=32, hash_fn="md5"
    ).count() == 0


def test_weighted_sample_null_weights_never_win(spark):
    """NULL weights must not sort first (they'd silently dominate every
    sample); they collapse to +inf keys like zero weights (ADVICE r2)."""
    from information_extraction_t5_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, None if i < 20 else 1.0) for i in range(100)],
        "id bigint, w double",
    )
    got = {r["id"] for r in weighted_sample(df, 30, "id", "w").collect()}
    assert all(i >= 20 for i in got), sorted(got)[:5]
