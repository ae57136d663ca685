"""Post-extraction operators: top-1 window, compound explode, triples.

  - ``top1_window``: the flagship top-k-per-group — for each
    (conv_id, qa_id) keep the window whose prediction has the fewest 'N/A's,
    then the highest probability, then the earliest window (stable
    tiebreak).  Reference: postprocess.py:249-288 with use_fewer_NA=True
    (qa_model.py:214-229).  One shuffle; window function, no self-join.
  - ``explode_compound``: mapInPandas around core/compound.explode_row —
    aligned sub-row explosion with ~/* id suffixes and ORIG/DISJOINT flags
    (reference: postprocess.py:73-246).
  - ``to_triples``: star rows -> (subj, pred, obj, obj_raw, prob, span).
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from information_extraction_t5_spark.core import compound as compound_kernel
from information_extraction_t5_spark.core import fuzzy as fuzzy_kernel
from information_extraction_t5_spark.core import parsing
from information_extraction_t5_spark.functions.text import na_count


def top1_window(scored: DataFrame,
                use_fewer_na: bool = True) -> DataFrame:
    """Keep the best-window row per (conv_id, qa_id)."""
    order = (
        [F.col("na").asc(), F.col("prob").desc(), F.col("window_id").asc()]
        if use_fewer_na
        else [F.col("prob").desc(), F.col("window_id").asc()]
    )
    w = Window.partitionBy("conv_id", "qa_id").orderBy(*order)
    return (
        scored.withColumn("na", na_count(F.col("prediction")))
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") == 1)
        .drop("_rank", "na")
    )


EXPLODED_SCHEMA = (
    "label string, prediction string, document_id string, example_id string, "
    "prob double, window_ids array<int>, sent_ids array<int>, "
    "raw_text string, is_original boolean, disjoint_class string"
)


def explode_compound(
    rows: DataFrame,
    label_col: str = "label",
    pred_col: str = "prediction",
    doc_col: str = "conv_id",
    example_col: str = "qa_id",
    prob_col: str = "prob",
    window_col: str = "window_id",
    keep_original_compound: bool = True,
    keep_disjoint_compound: bool = True,
) -> DataFrame:
    """Explode compound answers into aligned per-subanswer metric rows.

    ``window_col`` may be an int window id (replicated per prediction
    subanswer, matching the reference's cumcount string) or an already
    space-joined string column.
    """
    sel = rows.select(
        F.col(label_col).alias("_label"),
        F.col(pred_col).alias("_pred"),
        F.col(doc_col).alias("_doc"),
        F.col(example_col).alias("_ex"),
        F.col(prob_col).cast("double").alias("_prob"),
        F.col(window_col).cast("string").alias("_wid"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for lab, pred, doc, ex, prob, wid in zip(
                pdf["_label"], pdf["_pred"], pdf["_doc"], pdf["_ex"],
                pdf["_prob"], pdf["_wid"],
            ):
                n_subs = len(parsing.deconstruct(pred or "")[0])
                wids = " ".join([wid] * max(n_subs, 1))
                out.extend(
                    compound_kernel.explode_row(
                        lab or "", pred or "", doc, ex, prob, wids,
                        keep_original_compound, keep_disjoint_compound,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "label", "prediction", "document_id", "example_id",
                    "prob", "window_ids", "sent_ids", "raw_text",
                    "is_original", "disjoint_class",
                ],
            )

    return sel.mapInPandas(gen, schema=EXPLODED_SCHEMA)


def group_keys_expr(ex, group_by_typenames: bool = True):
    """Metric group keys as a pure expression array<string> — the
    whole-stage-codegen form of core/compound.group_keys (reference
    group_qas, postprocess.py:16-70); equivalence is pinned by
    tests/test_compound.py.

    Keys, in kernel order: the document class (ids without '~'), the id
    itself, and — when the id carries a numeric ``_N`` chunk suffix — the
    suffix-stripped id with its ``~typename`` / ``*`` marker preserved.
    """
    if not group_by_typenames:
        return F.array(ex)
    has_tilde = ex.contains("~")
    class_key = F.when(~has_tilde, F.split(ex, r"\.").getItem(0))

    base = F.when(has_tilde, F.regexp_replace(ex, r"~[^~]*$", "")).otherwise(ex)
    comp = F.when(has_tilde, F.substring_index(ex, "~", -1))
    tail = F.substring_index(base, "_", -1)
    starred = tail.endswith("*")
    # tail[:-1] only strips the star on non-'~' ids (kernel semantics); a
    # starred tail under '~' keeps the '*' and fails the numeric check
    tail_num = F.when(
        ~has_tilde & starred, F.substring(tail, 1, F.length(tail) - 1)
    ).otherwise(tail)
    is_numeric = tail_num.rlike(r"^\s*[+-]?[0-9]+\s*$")
    stem = F.regexp_replace(base, r"_[^_]*$", "")
    stripped = F.concat(
        stem,
        F.when(has_tilde, F.concat(F.lit("~"), comp))
        .when(starred, F.lit("*"))
        .otherwise(F.lit("")),
    )
    stripped_key = F.when(base.contains("_") & is_numeric, stripped)
    # duplicates are intentional (the kernel keeps them); only drop nulls
    return F.filter(
        F.array(class_key, ex, stripped_key), lambda k: k.isNotNull()
    )


def with_group_keys(exploded: DataFrame,
                    example_col: str = "example_id",
                    group_by_typenames: bool = True) -> DataFrame:
    """Explode metric group keys (reference group_qas index lists become
    rows; postprocess.py:16-70).  Pure expressions — no Python in the
    plan (no BatchEvalPython; pinned by tests/test_plan_properties.py)."""
    return exploded.withColumn(
        "group_key",
        F.explode(group_keys_expr(F.col(example_col), group_by_typenames)),
    )


TRIPLE_SCHEMA = (
    "conv_id string, pred string, obj string, obj_raw string, "
    "window_id int, prob double, sent_id int"
)


def to_triples(exploded: DataFrame) -> DataFrame:
    """Star rows (clue-stripped subanswers) -> candidate triples.

    Star rows carry '[typename]: value' labels/predictions; the predicate is
    the example_id with '~typename*' folded into a dotted path and the
    object is the clean value (reference: sentences.py:281-299).
    N/A and empty objects are dropped.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "conv_id": [], "pred": [], "obj": [], "obj_raw": [],
                "window_id": [], "prob": [], "sent_id": [],
            }
            for doc, ex, pred_sa, prob, wids, sids, raw in zip(
                pdf["document_id"], pdf["example_id"], pdf["prediction"],
                pdf["prob"], pdf["window_ids"], pdf["sent_ids"],
                pdf["raw_text"],
            ):
                if not ex.endswith("*"):
                    continue
                base = ex[:-1]
                if "~" in base:
                    stem, tn = base.rsplit("~", 1)
                    predicate = f"{stem}.{tn}"
                else:
                    predicate = base
                values = parsing.clean_answers(pred_sa or "")
                obj = values[0] if values else ""
                if not obj or obj == "N/A":
                    continue
                wid_list = list(wids) if wids is not None else []
                sid_list = list(sids) if sids is not None else []
                out["conv_id"].append(doc)
                out["pred"].append(predicate)
                out["obj"].append(obj)
                out["obj_raw"].append(raw)
                out["window_id"].append(int(wid_list[0]) if wid_list else -1)
                out["prob"].append(float(prob))
                out["sent_id"].append(int(sid_list[0]) if sid_list else -1)
            yield pd.DataFrame(out)

    return exploded.mapInPandas(gen, schema=TRIPLE_SCHEMA)


def best_to_triples(best: DataFrame) -> DataFrame:
    """Fused explode_compound + to_triples for the inference path: one Arrow
    crossing, emitting only the star-row triples (metric cohort rows are a
    training/eval concern — use the standalone operators there).

    Input: top-1 rows (conv_id, qa_id, window_id, prediction, prob).
    r7: per-row work runs through compound.star_triple_rows — one
    deconstruct per prediction instead of three, no discarded metric rows
    (row-for-row parity pinned by tests/test_star_triple_rows.py).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield triples_pdf_from_best(pdf)

    return best.select(
        "conv_id", "qa_id", "window_id", "prediction", "prob"
    ).mapInPandas(gen, schema=TRIPLE_SCHEMA)


def triples_pdf_from_best(pdf: pd.DataFrame) -> pd.DataFrame:
    """Row kernel of best_to_triples, shared with the fused extraction
    kernel (extraction.run_extraction, emit='triples'/'spans')."""
    out = {
        "conv_id": [], "pred": [], "obj": [], "obj_raw": [],
        "window_id": [], "prob": [], "sent_id": [],
    }
    for doc, ex, pred_sentence, prob, wid in zip(
        pdf["conv_id"], pdf["qa_id"], pdf["prediction"],
        pdf["prob"], pdf["window_id"],
    ):
        for base, obj, raw, w, p, sid in (
            compound_kernel.star_triple_rows(
                pred_sentence or "", ex, float(prob), int(wid),
            )
        ):
            if "~" in base:
                stem, tn = base.rsplit("~", 1)
                predicate = f"{stem}.{tn}"
            else:
                predicate = base
            out["conv_id"].append(doc)
            out["pred"].append(predicate)
            out["obj"].append(obj)
            out["obj_raw"].append(raw)
            out["window_id"].append(w)
            out["prob"].append(p)
            out["sent_id"].append(int(sid))
    return pd.DataFrame(out)


SPAN_SCHEMA = (
    "conv_id string, pred string, obj string, obj_raw string, "
    "window_id int, prob double, sent_id int, "
    "span_start int, span_end int, grounded string"
)


def ground_spans(triples_with_windows: DataFrame,
                 sentence_expansion: int = 1) -> DataFrame:
    """Fuzzy span grounding: locate each object's surface form in its window
    (reference: highlights.py:177-232).  Input must carry window_text."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield spans_pdf(pdf, pdf["window_text"], sentence_expansion)

    return triples_with_windows.mapInPandas(gen, schema=SPAN_SCHEMA)


def spans_pdf(triples: pd.DataFrame, window_texts,
              sentence_expansion: int = 1) -> pd.DataFrame:
    """Row kernel of ground_spans, shared with the fused extraction kernel
    (extraction.run_extraction, emit='spans'): ``window_texts`` holds the
    text of each triple's window, None when it is unknown."""
    ss, ee, hh = [], [], []
    for obj, raw, sid, wtext in zip(
        triples["obj"], triples["obj_raw"], triples["sent_id"], window_texts,
    ):
        target = raw if raw else obj
        if sid is None or sid < 1 or not wtext:
            ss.append(None); ee.append(None); hh.append(None)
            continue
        s, e, h = fuzzy_kernel.ground_answer(
            target, int(sid), wtext, sentence_expansion=sentence_expansion,
        )
        ss.append(s); ee.append(e); hh.append(h)
    out = triples.copy()
    out["span_start"] = pd.array(ss, dtype="Int64")
    out["span_end"] = pd.array(ee, dtype="Int64")
    out["grounded"] = hh
    return out[
        ["conv_id", "pred", "obj", "obj_raw", "window_id", "prob",
         "sent_id", "span_start", "span_end", "grounded"]
    ]
