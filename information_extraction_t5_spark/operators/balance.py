"""Negative/positive dataset balancing (training-side operator).

Reference semantics (utils/balance_data.py:8-98): count positives per
(document_id, example_id), keep all positives, resample negatives *with
replacement* to ``n_pos * negative_ratio`` per pair, dropping pairs that
have no positive at all.

Spark form: one groupBy for the counts, an inner equi-join back to the
negatives (the reference's outer-merge + dropna collapses to inner), then
replacement sampling via explode(sequence) + deterministic pseudo-random
pick — seeded, partition-stable, no driver loop.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def is_negative(label_col) -> "F.Column":
    """'N/A' anywhere in the label marks a negative example
    (reference: balance_data.py:22,44-48)."""
    return F.col(label_col).contains("N/A")


def balance(df: DataFrame, negative_ratio: int = 1, seed: int = 42,
            label_col: str = "label", doc_col: str = "document_id",
            ex_col: str = "example_id") -> DataFrame:
    """All positives + per-group resampled negatives (with replacement).

    Replacement sampling without a driver loop: each (doc, ex) group needs
    ``n_pos * ratio`` negative draws; we explode a sequence of draw slots on
    the group's count row and join each slot to a pseudo-random negative via
    ``pmod(xxhash64(slot, seed), n_neg)`` against a row_number index —
    deterministic for a given seed regardless of partitioning.
    """
    neg_mark = is_negative(label_col)
    positives = df.filter(~neg_mark)
    negatives = df.filter(neg_mark)

    pos_counts = (
        positives.groupBy(doc_col, ex_col)
        .agg(F.count(F.lit(1)).alias("n_pos"))
    )

    neg_w = Window.partitionBy(doc_col, ex_col).orderBy(label_col, "prob") \
        if "prob" in df.columns else \
        Window.partitionBy(doc_col, ex_col).orderBy(label_col)
    neg_indexed = negatives.withColumn(
        "_neg_idx", F.row_number().over(neg_w) - 1
    )
    neg_sizes = neg_indexed.groupBy(doc_col, ex_col).agg(
        F.count(F.lit(1)).alias("n_neg")
    )

    draws = (
        pos_counts.join(neg_sizes, on=[doc_col, ex_col])  # inner: drops
        # pairs without both positives and negatives (merge+dropna)
        .withColumn(
            "_slot",
            F.explode(
                F.sequence(F.lit(0), F.col("n_pos") * negative_ratio - 1)
            ),
        )
        .withColumn(
            "_neg_idx",
            F.pmod(
                F.xxhash64(F.col(doc_col), F.col(ex_col), F.col("_slot"),
                           F.lit(seed)),
                F.col("n_neg"),
            ).cast("int"),
        )
        .select(doc_col, ex_col, "_neg_idx")
    )

    sampled_negatives = draws.join(
        neg_indexed, on=[doc_col, ex_col, "_neg_idx"]
    ).drop("_neg_idx")

    return positives.unionByName(sampled_negatives, allowMissingColumns=True)
