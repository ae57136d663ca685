"""SQuAD-format (R2) source/sink.

The reference's preprocess stage emits SQuAD-style JSON
(``{data: [{title, paragraphs: [{context, qas: [{question, id,
answers: [{answer_start, text}]}]}]}], version}``; reference:
basic_to_squad.py:196-319, README.md:105-169).  This module converts
between that nested format and the engine's flat qa_windows table
(FIXTURES.md F3):

    doc_id, window_id, window_text, qa_id, question,
    answer_text, answer_start

Writing groups rows back with collect_list into one nested document per
JSON line; reading uses spark.read.json with an explicit nested schema +
explode — distributed, schema-checked.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QA_WINDOWS_COLUMNS = [
    "doc_id", "window_id", "window_text", "qa_id", "question",
    "answer_text", "answer_start",
]


def to_squad_frame(qa_windows: DataFrame,
                   version: str = "ie-t5-spark") -> DataFrame:
    """Flat qa_windows rows -> one nested SQuAD document per row.

    When the input carries ``qa_idx`` (the paragraph-order position the
    R1->R2 conversion emits), qas are restored to that exact order —
    matching the reference's paragraph layout (annotated qa_ids in
    type_names order, then the forced-N/A block sorted); otherwise
    collect order is whatever the shuffle delivered."""
    qa_struct = F.struct(
        F.col("question"),
        F.col("qa_id").alias("id"),
        F.array(
            F.struct(
                F.col("answer_start"),
                F.col("answer_text").alias("text"),
            )
        ).alias("answers"),
    )
    if "qa_idx" in qa_windows.columns:
        collected = F.array_sort(
            F.collect_list(F.struct(F.col("qa_idx"), qa_struct.alias("qa")))
        )
        qas_col = F.transform(collected, lambda s: s["qa"])
    else:
        qas_col = F.collect_list(qa_struct)
    qas = qa_windows.groupBy("doc_id", "window_id", "window_text").agg(
        qas_col.alias("qas")
    )
    paragraphs = qas.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("window_id"),
                    F.struct(
                        F.col("window_text").alias("context"), F.col("qas")
                    ).alias("para"),
                )
            )
        ).alias("ordered")
    )
    return paragraphs.select(
        F.col("doc_id").alias("title"),
        F.transform("ordered", lambda o: o["para"]).alias("paragraphs"),
    )


def write_squad_json(qa_windows: DataFrame, path: str,
                     version: str = "ie-t5-spark") -> None:
    """Write the nested SQuAD docs as JSON lines (one document per line —
    the distributed-friendly layout; the reference's single-object file is
    the degenerate single-partition case)."""
    to_squad_frame(qa_windows, version).write.mode("overwrite").json(path)


def read_squad_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read back the JSON-lines layout written by write_squad_json."""
    doc_schema = (
        "title string, paragraphs array<struct<"
        "  context: string,"
        "  qas: array<struct<"
        "    question: string, id: string,"
        "    answers: array<struct<answer_start: int, text: string>>"
        "  >>"
        ">>"
    )
    raw = spark.read.schema(doc_schema).json(path)
    paragraphs = raw.select(
        F.col("title").alias("doc_id"),
        F.posexplode("paragraphs").alias("window_id", "para"),
    )
    qas = paragraphs.select(
        "doc_id", "window_id",
        F.col("para.context").alias("window_text"),
        F.explode("para.qas").alias("qa"),
    )
    first_answer = F.element_at(F.col("qa.answers"), 1)
    return qas.select(
        "doc_id", "window_id", "window_text",
        F.col("qa.id").alias("qa_id"),
        F.col("qa.question").alias("question"),
        first_answer["text"].alias("answer_text"),
        first_answer["answer_start"].alias("answer_start"),
    )
