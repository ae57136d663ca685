"""End-to-end pipeline: golden P/R, invariants, canonicalization, resume."""
import os

import pytest
from pyspark.sql import functions as F

from information_extraction_t5_spark.catalog import Catalog
from information_extraction_t5_spark.data import synth
from information_extraction_t5_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
)

N = 40


@pytest.fixture(scope="module")
def triples(spark):
    t = synth.transcripts_df(spark, N)
    out = run_pipeline(spark, t)
    out.cache()
    out.count()
    return out


def test_golden_precision_recall(spark, triples):
    """North rule: triple P/R >= 0.95 vs planted goldens."""
    golden = synth.golden_triples_df(spark, N)
    got = triples.select("conv_id", "pred", "obj").distinct()
    tp = got.join(golden, ["conv_id", "pred", "obj"]).count()
    precision = tp / got.count()
    recall = tp / golden.count()
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"


def test_per_turn_text_equality(spark):
    """input_hint invariant: document text == turns joined in turn_idx order,
    under adversarial partitioning/ordering."""
    from information_extraction_t5_spark.operators.windows import (
        assemble_documents,
    )

    t = synth.transcripts_df(spark, 8).orderBy(F.rand(3)).repartition(17)
    docs = {r["conv_id"]: r["text"]
            for r in assemble_documents(t, clean=False).collect()}
    for cid, text in docs.items():
        assert text == "\n".join(synth.document_lines(cid))


def test_canonicalization_shared_entities(triples):
    """Every idx%7==6 conversation shares its person with idx-1 => same subj."""
    subj = {r["conv_id"]: r["subj"]
            for r in triples.select("conv_id", "subj").distinct().collect()}
    for i in range(6, N, 7):
        a, b = f"conv_{i - 1:06d}", f"conv_{i:06d}"
        assert subj[a] == subj[b], (a, b)
    # non-shared neighbors stay distinct
    assert subj["conv_000000"] != subj["conv_000001"]


def test_alias_linking_estado(triples, spark):
    """Spelled-out state surface forms canonicalize to 2-letter codes."""
    estados = triples.filter(F.col("pred") == "form.endereco.estado")
    vals = [r["obj"] for r in estados.collect()]
    assert vals, "no estado triples extracted"
    assert all(len(v) == 2 and v.isupper() for v in vals), vals


def test_complement_raw_surface(triples):
    """Dotted doc numbers ground with an [aparece no texto] complement."""
    docs = triples.filter(
        (F.col("pred") == "form.n_doc_serie") & F.col("obj_raw").isNotNull()
    ).collect()
    assert docs, "expected some noisy-surface doc numbers in 40 convs"
    for r in docs:
        assert r["obj_raw"].replace(".", "") == r["obj"]


def test_resume_skips_committed_stages(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = synth.transcripts_df(spark, 6)
    first = run_pipeline(spark, t, catalog=cat)
    n1 = first.count()
    assert cat.exists("stage_triples") and cat.exists("stage_canonical")
    assert cat.lineage("stage_triples")["rows"] > 0

    # poison pill: resume must NOT recompute extraction
    import information_extraction_t5_spark.pipeline as pl

    orig = pl.extract_triples
    pl.extract_triples = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("extraction recomputed on resume")
    )
    try:
        again = run_pipeline(spark, t, catalog=cat)
        assert again.count() == n1
    finally:
        pl.extract_triples = orig


def _sorted_rows(df, cols):
    # repr key: NULL obj_raw / span columns must not be compared to str
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def test_catalog_run_matches_plain_run(spark, tmp_path):
    """The catalog path runs the same composition as the plain path and
    commits only the triples, canonical and graph tables."""
    wh = tmp_path / "wh"
    t = synth.transcripts_df(spark, N)
    plain = run_pipeline(spark, t)
    staged = run_pipeline(spark, t, catalog=Catalog(spark, str(wh)))
    cols = sorted(plain.columns)
    assert sorted(staged.columns) == cols
    assert _sorted_rows(staged, cols) == _sorted_rows(plain, cols)
    committed = {d for d in os.listdir(wh)
                 if os.path.exists(wh / d / "_lineage.json")}
    assert committed == {"stage_triples", "stage_canonical",
                         "graph_edges", "graph_nodes"}


def test_inline_grounding_matches_staged_reference(spark):
    """ground=True grounds inside the extraction kernel; it must equal the
    staged route built here: per-window candidates -> top1_window ->
    best_to_triples -> join window text -> ground_spans -> alias link ->
    canonicalize."""
    from information_extraction_t5_spark.operators.extraction import (
        run_extraction,
    )
    from information_extraction_t5_spark.operators.postprocess import (
        SPAN_SCHEMA,
        best_to_triples,
        ground_spans,
        top1_window,
    )
    from information_extraction_t5_spark.operators.windows import (
        assemble_documents,
        sliding_windows_exact,
    )
    from information_extraction_t5_spark.pipeline import (
        canonicalize_subjects,
        link_triples,
    )

    cfg = PipelineConfig(ground=True)
    t = synth.transcripts_df(spark, N)
    docs = assemble_documents(t).localCheckpoint()
    best = top1_window(
        run_extraction(docs, cfg.window, emit="scored")
        .select("conv_id", "qa_id", "window_id", "prediction", "prob")
    )
    texts = sliding_windows_exact(docs, cfg.window).select(
        "conv_id", "window_id", "window_text"
    )
    spans = ground_spans(
        best_to_triples(best).join(texts, ["conv_id", "window_id"], "left")
    )
    reference = canonicalize_subjects(
        link_triples(spans, cfg).localCheckpoint(), cfg
    )

    cols = [c.split()[0] for c in SPAN_SCHEMA.split(", ")] + ["subj"]
    got = _sorted_rows(run_pipeline(spark, t, cfg), cols)
    want = _sorted_rows(reference, cols)
    assert got == want
    assert any(r[cols.index("span_start")] is not None for r in got)


def test_empty_input(spark):
    out = run_pipeline(spark, synth.transcripts_df(spark, 0))
    assert out.count() == 0


def test_spans_when_grounding_enabled(spark):
    cfg = PipelineConfig(ground=True)
    t = synth.transcripts_df(spark, 4)
    out = run_pipeline(spark, t, cfg)
    rows = out.filter(F.col("span_start").isNotNull()).collect()
    assert rows, "grounding produced no spans"
    assert all(r["span_end"] > r["span_start"] for r in rows)
