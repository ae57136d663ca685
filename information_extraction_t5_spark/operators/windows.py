"""Conversation assembly + sliding-window operators.

Stable-ordered document reconstruction from turns, then budgeted window
assembly.  Two paths:

  - ``sliding_windows_exact``: Arrow UDF around the char-budget kernel
    (core/windows.py) — reference-parity boundaries (snap-to-space,
    ellipses, SENT budget shrink; reference: context.py:133-173).
  - ``sliding_windows_sql``: pure-expression fixed-stride windows
    (sequence -> transform -> posexplode -> substring) — no Python, used
    when exact reference boundaries aren't required and as the oracle-
    checkable [Q] variant.

Scale notes: assembly is ONE shuffle (groupBy conv_id); window explosion is
narrow.  Conversations are the unit of parallelism; per-conversation cost is
bounded by max_windows (skew bound).  Window rows carry (conv_id, window_id,
window_text, window_offset) so every later stage joins/partitions on
conv_id without re-reading turns.
"""
from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from information_extraction_t5_spark.core.windows import WindowSpec, sliding_windows
from information_extraction_t5_spark.functions.text import clean_document_text


def assemble_documents(transcripts: DataFrame,
                       clean: bool = True) -> DataFrame:
    """(conv_id, text): concat turn texts in turn_idx order.

    Deterministic under ANY partitioning: order comes from array_sort over
    (turn_idx, text) structs, never from input order — this is what makes
    the per-turn text-equality invariant hold on a cluster.
    (reference analogue: the raw 'text' blob, sample_train.json)
    """
    doc = (
        transcripts.groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("turn_idx", "text"))
            ).alias("turns")
        )
        .select(
            "conv_id",
            F.array_join(
                F.transform("turns", lambda t: t["text"]), "\n"
            ).alias("text"),
            F.size("turns").alias("n_turns"),
        )
    )
    if clean:
        doc = doc.withColumn("text", clean_document_text(F.col("text")))
    return doc


WINDOW_ROW_SCHEMA = (
    "conv_id string, window_id int, window_text string, window_offset int"
)


def sliding_windows_exact(
    documents: DataFrame, spec: Optional[WindowSpec] = None
) -> DataFrame:
    """Reference-parity char-budget windows via mapInPandas.

    Input (conv_id, text); output one row per window.  The kernel is
    sequential *within* a document but the operator is embarrassingly
    parallel across conversations.
    """
    spec = spec or WindowSpec()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"conv_id": [], "window_id": [], "window_text": [],
                   "window_offset": []}
            for cid, text in zip(pdf["conv_id"], pdf["text"]):
                for w in sliding_windows(text or "", spec):
                    out["conv_id"].append(cid)
                    out["window_id"].append(w.window_id)
                    out["window_text"].append(w.text)
                    out["window_offset"].append(w.offset)
            yield pd.DataFrame(out)

    return documents.select("conv_id", "text").mapInPandas(
        gen, schema=WINDOW_ROW_SCHEMA
    )


def sliding_windows_token_exact(
    documents: DataFrame,
    max_tokens: int = 512,
    window_overlap: float = 0.5,
    max_windows: int = 3,
    question: str = "Qual?",
    use_sentence_id: bool = False,
    tokenizer_name: Optional[str] = None,
) -> DataFrame:
    """Token-budgeted sliding windows (reference windows_token mode,
    context.py:296-341) via mapInPandas.

    tokenizer_name loads a HuggingFace tokenizer once per worker (the
    production path); None uses the deterministic regex tokenizer so tests
    run without model downloads (SURVEY §7 hard part 3).
    """
    from information_extraction_t5_spark.core.windows import (
        default_token_spans,
        hf_token_spans,
        sliding_windows_token,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if tokenizer_name:
            from transformers import AutoTokenizer  # gated: not in sandbox

            tok = hf_token_spans(AutoTokenizer.from_pretrained(tokenizer_name))
        else:
            tok = default_token_spans
        for pdf in batches:
            out = {"conv_id": [], "window_id": [], "window_text": [],
                   "window_offset": []}
            for cid, text in zip(pdf["conv_id"], pdf["text"]):
                for w in sliding_windows_token(
                    text or "", max_tokens, window_overlap, max_windows,
                    question, use_sentence_id, tokenizer=tok,
                ):
                    out["conv_id"].append(cid)
                    out["window_id"].append(w.window_id)
                    out["window_text"].append(w.text)
                    out["window_offset"].append(w.offset)
            yield pd.DataFrame(out)

    return documents.select("conv_id", "text").mapInPandas(
        gen, schema=WINDOW_ROW_SCHEMA
    )


def sliding_windows_sql(
    documents: DataFrame,
    window_size: int,
    stride: int,
    max_windows: int = -1,
    text_col: str = "text",
    id_col: str = "conv_id",
) -> DataFrame:
    """Fixed-stride sliding windows as pure expressions (no Python).

    sequence(0, len-1, stride) generates window starts; posexplode +
    substring materializes them.  Filter-pushdown and codegen apply end to
    end (reference analogue: context.py:133-173 without snap-to-space).
    """
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length(text_col) - 1, F.lit(0)),
        F.lit(stride),
    )
    if max_windows > 0:
        starts = F.slice(starts, 1, max_windows)
    return (
        documents.select(
            F.col(id_col),
            F.posexplode(starts).alias("window_id", "window_offset"),
            F.col(text_col),
        )
        .select(
            id_col,
            "window_id",
            F.substring(
                F.col(text_col), F.col("window_offset") + 1, F.lit(window_size)
            ).alias("window_text"),
            "window_offset",
        )
    )
