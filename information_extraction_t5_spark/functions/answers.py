"""Model-answer parsing as column expressions.

Expression-side equivalents of ``core/parsing.py`` built on
``regexp_extract_all`` (Spark >= 3.4) — the grammar regexes are shared with
the row kernels (reference: sentences.py:7-9).
"""
from __future__ import annotations

from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F

from information_extraction_t5_spark.core.registry import TYPE_TO_TYPENAME

SENT_ID_PATTERN = r"\[SENT(.*?)\]"
FRAGMENT_PATTERN = r"([^\[\]]+)(?:$|\[)"
TYPE_CLUE_PATTERN = (
    r"\[([A-Za-záàâãéèêíïóôõöúçñÁÀÂÃÉÈÍÏÓÔÕÖÚÇÑºª_ \/]*?)\]"
)


def sent_ids(col: Column) -> Column:
    """array<int> of SENT ids in order (reference: sentences.py:55-74)."""
    raw = F.regexp_extract_all(col, F.lit(SENT_ID_PATTERN), 1)
    return F.transform(raw, lambda s: s.cast("int"))


def fragments(col: Column) -> Column:
    """array<string> of cleaned answer fragments
    (reference: sentences.py:36-52): non-blank matches, ':' dropped, trimmed.
    """
    raw = F.regexp_extract_all(col, F.lit(FRAGMENT_PATTERN), 1)
    nonblank = F.filter(raw, lambda s: F.trim(s) != "")
    return F.transform(nonblank, lambda s: F.trim(F.regexp_replace(s, ":", "")))


def type_clues(col: Column) -> Column:
    """array<string> of bracketed display-type clues, unmapped
    (reference: sentences.py:89-107 with map_type=False)."""
    return F.regexp_extract_all(col, F.lit(TYPE_CLUE_PATTERN), 1)


def type_map_expr() -> Column:
    """The display-type -> typename registry as a map literal; resolves via
    broadcast-free constant folding (reference: sentences.py:77-86)."""
    pairs = list(chain.from_iterable(TYPE_TO_TYPENAME.items()))
    return F.create_map(*[F.lit(p) for p in pairs])


def typenames(col: Column) -> Column:
    """Mapped type clues; unknown clues become NULL entries (the Arrow-UDF
    path raises instead, matching the reference strictly)."""
    m = type_map_expr()
    return F.transform(type_clues(col), lambda c: m[c])


def split_context_sentences(col: Column) -> Column:
    """Reference: sentences.py:110-117."""
    return F.split(col, r"\n", -1)


def sent_id_is_valid(context: Column, sid: Column) -> Column:
    """0 <= sid <= n_sentences (reference: sentences.py:156-171)."""
    return (sid >= 0) & (F.size(split_context_sentences(context)) >= sid)
