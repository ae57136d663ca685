"""In-batch top-1 (r7): the extraction kernel's 'triples' mode must pick
the same winners as per-window 'scored' rows fed through top1_window.

top1_prereduce_pdf reduces each batch to the per-(conv_id, qa_id) winner
under top1_window's use_fewer_na ordering; with one document row per conv
the batch winner is the global winner.  Pin that end to end and at the
kernel level.
"""
from __future__ import annotations

import pandas as pd

from information_extraction_t5_spark.core.windows import WindowSpec
from information_extraction_t5_spark.operators.extraction import (
    run_extraction,
    top1_prereduce_pdf,
)
from information_extraction_t5_spark.operators.postprocess import top1_window
from information_extraction_t5_spark.operators.windows import (
    assemble_documents,
)


def test_prereduce_kernel_ordering():
    pdf = pd.DataFrame({
        "conv_id": ["c1"] * 4 + ["c2"] * 2,
        "window_id": [0, 1, 2, 3, 0, 1],
        "window_offset": [0] * 6,
        "qa_id": ["q"] * 6,
        "prediction": [
            "[T]: N/A",          # na=1
            "[T]: x",            # na=0, prob 0.5  <- loses on prob
            "[T]: y",            # na=0, prob 0.9  <- c1 winner
            "[T]: z",            # na=0, prob 0.9  <- tied prob, later window
            "[T]: a [T2]: N/A",  # na=1            <- c2 winner (window 0)
            "[T]: N/A [T2]: N/A",  # na=2
        ],
        "prob": [1.0, 0.5, 0.9, 0.9, 0.3, 0.2],
    })
    out = top1_prereduce_pdf(pdf)
    got = {(r.conv_id, r.window_id) for r in out.itertuples()}
    assert got == {("c1", 2), ("c2", 0)}


def test_fused_triples_match_staged(spark):
    """emit='triples' (one Python crossing) must equal the staged
    emit='scored' -> top1_window -> best_to_triples route."""
    from information_extraction_t5_spark.data import synth
    from information_extraction_t5_spark.operators.postprocess import (
        best_to_triples,
    )

    docs = assemble_documents(synth.transcripts_df(spark, 80))
    spec = WindowSpec(max_size=700, window_overlap=0.2, max_windows=6,
                      question="Qual o endereço?", use_sentence_id=True)
    scored = run_extraction(docs, spec, emit="scored")
    staged = best_to_triples(top1_window(
        scored.select("conv_id", "qa_id", "window_id", "prediction", "prob")
    ))
    fused = run_extraction(docs, spec, emit="triples")
    cols = ["conv_id", "pred", "obj", "obj_raw", "window_id", "prob",
            "sent_id"]
    a = sorted(tuple(r) for r in staged.select(*cols).collect())
    b = sorted(tuple(r) for r in fused.select(*cols).collect())
    assert a == b and len(a) > 0


def test_prereduce_kernel_trivial_batches():
    empty = pd.DataFrame({
        "conv_id": [], "window_id": [], "window_offset": [],
        "qa_id": [], "prediction": [], "prob": [],
    })
    assert len(top1_prereduce_pdf(empty)) == 0
    one = pd.DataFrame({
        "conv_id": ["c"], "window_id": [0], "window_offset": [0],
        "qa_id": ["q"], "prediction": ["[T]: v"], "prob": [1.0],
    })
    assert len(top1_prereduce_pdf(one)) == 1
