"""choose_question paraphrase selection (reference basic_to_squad.py:16-41):
'first' parity, 'all' multiplicity, seeded-'random' determinism, and the
SQL-side expand_questions agreeing with the Python-side draw."""
import pandas as pd
from pyspark.sql import functions as F

from information_extraction_t5_spark.core.registry import DEFAULT_PREDICATES
from information_extraction_t5_spark.core.windows import WindowSpec
from information_extraction_t5_spark.operators.extraction import (
    _variant_indices,
    expand_questions,
    registry_df,
    run_extraction,
)

N_PREDICATES = len(DEFAULT_PREDICATES)
N_VARIANTS = sum(len(p.questions) for p in DEFAULT_PREDICATES)


TEXTS = [
    ("c1", "Nome Completo Ana Souza\nBairro Centro"),
    ("c2", "Data de Emissão 01/02/2020"),
]
# budget far above the texts: each document is exactly one window
SPEC = WindowSpec(max_size=700, window_overlap=0.2, max_windows=6,
                  question="Qual?", use_sentence_id=False)


def _windows(spark):
    return spark.createDataFrame(
        [(cid, 0, 0, text) for cid, text in TEXTS],
        "conv_id string, window_id int, window_offset int, "
        "window_text string",
    )


def _scored(spark, **kw):
    docs = spark.createDataFrame(TEXTS, "conv_id string, text string")
    return run_extraction(docs, SPEC, emit="scored", **kw)


def _frame(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["conv_id", "window_id", "qa_id"])
        .reset_index(drop=True)
    )


def test_first_is_default_and_unchanged(spark):
    base = _frame(_scored(spark))
    first = _frame(_scored(spark, choose_question="first"))
    pd.testing.assert_frame_equal(base, first)
    assert len(base) == 2 * N_PREDICATES


def test_all_multiplies_by_variant_count(spark):
    out = _scored(spark, choose_question="all")
    counts = {
        r["qa_id"]: r["n"]
        for r in out.groupBy("qa_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for p in DEFAULT_PREDICATES:
        assert counts[p.qa_id] == 2 * len(p.questions), p.qa_id
    assert out.count() == 2 * N_VARIANTS


def test_random_is_deterministic_and_row_parity_with_first(spark):
    a = _frame(_scored(spark, choose_question="random", question_seed=13))
    b = _frame(_scored(spark, choose_question="random", question_seed=13))
    pd.testing.assert_frame_equal(a, b)
    # the regex model is question-invariant: 'random' == 'first' row-for-row
    first = _frame(_scored(spark))
    pd.testing.assert_frame_equal(a, first)


def test_expand_questions_random_matches_python_draw(spark):
    docs = spark.createDataFrame(
        [("c%d" % i,) for i in range(20)], "conv_id string"
    )
    out = expand_questions(
        docs, registry_df(spark), choose="random", seed=13
    ).select("conv_id", "qa_id", "variant_idx", "questions")
    for r in out.collect():
        want = _variant_indices(
            r["conv_id"], r["qa_id"], r["questions"], "random", 13
        )[0]
        assert r["variant_idx"] == want, (r["conv_id"], r["qa_id"])


def test_expand_questions_all_explodes_every_variant(spark):
    docs = spark.createDataFrame([("c1",)], "conv_id string")
    out = expand_questions(docs, registry_df(spark), choose="all")
    assert out.count() == N_VARIANTS
    got = {
        (r["qa_id"], r["variant_idx"], r["question"])
        for r in out.collect()
    }
    want = {
        (p.qa_id, i, q)
        for p in DEFAULT_PREDICATES
        for i, q in enumerate(p.questions)
    }
    assert got == want


def test_pipeline_choose_all_same_triples(spark):
    """With the question-invariant regex model, 'all' paraphrases produce
    duplicate candidates that top-1 collapses — final triples identical."""
    from information_extraction_t5_spark.data import synth
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    t = synth.transcripts_df(spark, 12)
    base = run_pipeline(spark, t, PipelineConfig(fuzzy_link=False))
    alld = run_pipeline(
        spark, t,
        PipelineConfig(fuzzy_link=False, choose_question="all"),
    )
    cols = ["conv_id", "pred", "obj", "subj"]
    a = sorted(map(tuple, base.select(*cols).collect()))
    b = sorted(map(tuple, alld.select(*cols).collect()))
    assert a == b
    assert len(a) > 0


def test_seq2seq_batch_formation_matches_sql_expansion(spark):
    """expand_window_questions — the pure half of the torch-gated
    Seq2SeqExtractor.predict_windows (model-batch formation) — must pick
    exactly the (qa_id, question) pairs the SQL-side expand_questions
    emits, in every choose mode.  Shrinks the untested torch surface to
    the tensor calls alone."""
    from information_extraction_t5_spark.core.registry import (
        DEFAULT_PREDICATES,
    )
    from information_extraction_t5_spark.operators.extraction import (
        expand_window_questions,
        registry_df,
    )

    w = _windows(spark)
    spec = [(p.qa_id, p.field, tuple(p.questions), tuple(p.subfields))
            for p in DEFAULT_PREDICATES]

    for choose in ("first", "random", "all"):
        batch = expand_window_questions(
            w.toPandas(), spec, choose=choose, seed=13
        )
        sql = (
            expand_questions(w.select("conv_id"), registry_df(spark),
                             choose=choose, seed=13, doc_col="conv_id")
            .toPandas()
        )
        got = sorted(zip(batch["conv_id"], batch["qa_id"],
                         batch["question"]))
        want = sorted(zip(sql["conv_id"], sql["qa_id"], sql["question"]))
        assert got == want, f"mode {choose} diverges"
        # every expanded row carries its window payload for the GPU batch
        assert (batch["window_text"].str.len() > 0).all()


def test_probs_from_losses_formula():
    """The Seq2Seq scoring semantics — exp(-loss/len) per row, the
    reference's _compute_probs (qa_model.py:327-342) — as shared pure
    code, so only the tensor plumbing remains torch-gated."""
    import math

    from information_extraction_t5_spark.operators.extraction import (
        probs_from_losses,
    )

    losses = [0.0, 1.0, 4.0, 10.0]
    lens = [1, 2, 4, 0]  # len 0 clamps to 1 (empty decode)
    got = probs_from_losses(losses, lens)
    assert got == [
        1.0,
        round(math.exp(-0.5), 6),
        round(math.exp(-1.0), 6),
        round(math.exp(-10.0), 6),
    ]
    assert all(0.0 <= p <= 1.0 for p in got)
