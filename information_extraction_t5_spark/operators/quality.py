"""Corpus-quality operators for LLM training-data curation: Gopher-style
repetition signals, PII detection/redaction, and URL normalization.

All three families are PURE EXPRESSIONS — per-row higher-order functions
and regexes that run inside whole-stage codegen with no shuffle, no
Python, and no state.  At 100 TB they execute at scan speed: the plan is
a single map over the parquet scan, filters on the emitted fractions
push down to the same stage, and the only cost is CPU per row.  The
per-row loops (distinct-gram counting) are O(|distinct| * |items|) in
the document's own arrays, which is bounded by document length — never
by corpus size.

Extends ``operators/textstats.py`` (length/stopword/language/quality
heuristics) with the duplicate-content axis of quality filtering
(Gopher / Rae et al. 2021, table A1; same signals used by C4/Dolma
cleaning): documents dominated by repeated lines or n-grams are
low-quality boilerplate even when their token statistics look fine.

Definitions are pinned exactly so the DuckDB oracle can replay them
(the driver gates ``repetition_stats``, ``pii_redaction`` and
``url_domains`` in ``__spark_entry__``):

- ``dup_line_frac``      — duplicated line OCCURRENCES (beyond each
                           first) / total lines.
- ``dup_line_char_frac`` — characters in those duplicated occurrences /
                           characters in all lines.
- ``top_2gram_char_frac``— max over distinct word 2-grams of
                           occurrences * gram_length, / text length
                           (gram length includes its internal space).
                           Upper bound of Gopher's "chars in the most
                           frequent 2-gram" — ties need no tiebreak.
- ``dup_5gram_char_frac``— sum over word 5-grams occurring >= 2 times of
                           occurrences * gram_length, / text length,
                           capped at 1.0 (overlaps can exceed it).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# repetition
# ---------------------------------------------------------------------------


def _words(col: Column) -> Column:
    return F.when(
        F.length(F.trim(col)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(col), r"\s+"))


def word_ngrams_from(words: Column, n: int) -> Column:
    """Space-joined word n-grams from a words ARRAY; empty array when
    there are < n words.  Pass an attribute (materialized column): the
    lambda slices ``words`` per position, and Spark evaluates HOF lambda
    bodies on the interpreted path with no CSE — an inline split here
    would re-split the text once per gram position (O(n^2); the r6
    winnowing lesson, same mechanism)."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(col: Column, n: int) -> Column:
    """Compatibility wrapper over TEXT input — short/capped text only
    (the inline words array is re-evaluated per gram position inside the
    HOF lambda).  Scale path: materialize ``_words(col)`` as a column
    and call ``word_ngrams_from``."""
    return word_ngrams_from(_words(col), n)


def _run_stats(items: Column) -> Column:
    """struct<best:bigint, dup:bigint, extra:bigint> over array<string>
    in ONE sorted pass: per distinct value v with count c and length L,
    best = max(c*L), dup = sum(c*L | c >= 2), extra = sum((c-1)*L).

    Replaces the nested count-by-filter form (size(filter(items, == v))
    per distinct v — O(n^2) comparisons per document, and O(n^3)-ish
    when ``items`` is itself an inline n-gram expression re-evaluated
    inside the lambda).  Values are identical: both enumerate the same
    (value, count) multiset."""
    s = F.array_sort(items)
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("extra"),
    )

    def _contrib(acc):
        return acc["cnt"] * F.length(acc["prev"]).cast("long")

    def _best(acc):
        return F.greatest(acc["best"], _contrib(acc))

    def _dup(acc):
        return acc["dup"] + F.when(
            acc["cnt"] >= 2, _contrib(acc)
        ).otherwise(F.lit(0).cast("long"))

    def _extra(acc):
        return acc["extra"] + (
            (acc["cnt"] - 1) * F.length(acc["prev"]).cast("long")
        )

    def merge(acc, g):
        return F.when(
            g == acc["prev"],
            F.struct(
                g.alias("prev"), (acc["cnt"] + 1).alias("cnt"),
                acc["best"].alias("best"), acc["dup"].alias("dup"),
                acc["extra"].alias("extra"),
            ),
        ).otherwise(
            F.struct(
                g.alias("prev"), F.lit(1).cast("long").alias("cnt"),
                _best(acc).alias("best"), _dup(acc).alias("dup"),
                _extra(acc).alias("extra"),
            )
        )

    def finish(acc):
        return F.struct(
            _best(acc).alias("best"), _dup(acc).alias("dup"),
            _extra(acc).alias("extra"),
        )

    return F.aggregate(s, zero, merge, finish)


def dup_line_stats_from(lines: Column) -> tuple[Column, Column, Column]:
    """(n_lines, dup_line_frac, dup_line_char_frac) from a materialized
    lines ARRAY attribute — single sorted pass (see _run_stats)."""
    n = F.size(lines)
    dup_frac = (n - F.size(F.array_distinct(lines))).cast("double") / n
    line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    extra_chars = _run_stats(lines)["extra"]
    dup_char_frac = F.when(line_chars == 0, F.lit(0.0)).otherwise(
        extra_chars.cast("double") / line_chars
    )
    return n, dup_frac, dup_char_frac


def top_ngram_char_frac_from(grams: Column, text_len: Column) -> Column:
    """max over distinct n-grams of count*length, / text length — from a
    materialized grams array."""
    best = _run_stats(grams)["best"]
    return F.when(
        (F.size(grams) == 0) | (text_len == 0), F.lit(0.0)
    ).otherwise(best.cast("double") / text_len)


def dup_ngram_char_frac_from(grams: Column, text_len: Column) -> Column:
    """sum over n-grams with count>=2 of count*length, / text length,
    capped at 1.0 — from a materialized grams array."""
    dup_chars = _run_stats(grams)["dup"]
    return F.when(text_len == 0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0), dup_chars.cast("double") / text_len)
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition profile — narrow maps, no shuffle.

    Staged projections (r6): words/lines/grams materialize as real
    columns before the stats that consume them, so every array is built
    once per row — the single-projection form re-evaluated the split and
    the n-gram construction inside HOF lambdas (no CSE there), going
    quadratic-to-cubic in document length."""
    col = F.col(text_col)
    step1 = df.select(
        id_col,
        F.length(col).alias("__q_len"),
        _words(col).alias("__q_words"),
        F.split(col, "\n").alias("__q_lines"),
    )
    step2 = step1.select(
        id_col, "__q_len", "__q_lines",
        word_ngrams_from(F.col("__q_words"), 2).alias("__q_g2"),
        word_ngrams_from(F.col("__q_words"), 5).alias("__q_g5"),
    )
    n_lines, dup_line_frac, dup_line_char_frac = dup_line_stats_from(
        F.col("__q_lines")
    )
    return step2.select(
        id_col,
        n_lines.cast("bigint").alias("n_lines"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(dup_line_char_frac, 6).alias("dup_line_char_frac"),
        F.round(
            top_ngram_char_frac_from(F.col("__q_g2"), F.col("__q_len")), 6
        ).alias("top_2gram_char_frac"),
        F.round(
            dup_ngram_char_frac_from(F.col("__q_g5"), F.col("__q_len")), 6
        ).alias("dup_5gram_char_frac"),
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mwl: float = 3.0,
    max_mwl: float = 10.0,
    max_dup_line_char_frac: float = 0.20,
    max_dup_5gram_char_frac: float = 0.15,
) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021, table A1
    subset): per-rule booleans plus the conjunction ``keep``.

    One narrow map — every rule is a pure expression over this module's
    repetition signals and simple word stats, so the filter runs at scan
    speed and ``filter(keep)`` pushes into the same stage.  Rule
    comparisons divide integers (counts, char totals), so the doubles are
    IEEE-identical across engines and the booleans replay exactly in the
    DuckDB oracle (the repo's integer-exact convention).
    """
    col = F.col(text_col)
    # staged projections (r6): words/lines/grams are materialized columns
    # so no array is rebuilt inside a HOF lambda (see repetition_stats)
    step1 = df.select(
        id_col,
        F.length(col).alias("__q_len"),
        _words(col).alias("__q_words"),
        F.split(col, "\n").alias("__q_lines"),
    )
    step2 = step1.select(
        id_col, "__q_len", "__q_lines", "__q_words",
        word_ngrams_from(F.col("__q_words"), 5).alias("__q_g5"),
    )
    words = F.col("__q_words")
    n_words = F.size(words)
    word_chars = F.aggregate(
        words, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    mwl = F.when(n_words == 0, F.lit(0.0)).otherwise(
        word_chars.cast("double") / n_words
    )
    _, _, dup_line_cf = dup_line_stats_from(F.col("__q_lines"))
    dup5_cf = dup_ngram_char_frac_from(F.col("__q_g5"), F.col("__q_len"))
    words_ok = (n_words >= min_words) & (n_words <= max_words)
    mwl_ok = (mwl >= min_mwl) & (mwl <= max_mwl)
    dup_line_ok = dup_line_cf <= max_dup_line_char_frac
    dup_5gram_ok = dup5_cf <= max_dup_5gram_char_frac
    return step2.select(
        id_col,
        n_words.cast("bigint").alias("n_words"),
        words_ok.alias("words_ok"),
        mwl_ok.alias("mwl_ok"),
        dup_line_ok.alias("dup_line_ok"),
        dup_5gram_ok.alias("dup_5gram_ok"),
        (words_ok & mwl_ok & dup_line_ok & dup_5gram_ok).alias("keep"),
    )


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround; \b is ASCII-safe
# on the ASCII-delimited matches below.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\+?\d[\d()\- ]{6,}\d"

_REDACTIONS = [
    (EMAIL_RE, "<EMAIL>"),
    (IPV4_RE, "<IP>"),
    (PHONE_RE, "<PHONE>"),
]


def redact_pii(col: Column) -> Column:
    """Sequential redaction: emails, then IPv4s, then phone-like digit
    runs (order matters — an un-redacted IP is digit-rich).  Counts are
    computed on the ORIGINAL text by ``pii_stats``; the patterns cannot
    overlap each other's matches (dots break the phone class, '@' breaks
    both number classes)."""
    out = col
    for pattern, token in _REDACTIONS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, email_count, ipv4_count, phone_like_count, redacted).

    ``phone_like_count`` is deliberately permissive (8+ chars of digits,
    spaces, parens, dashes) — curation pipelines over-redact numbers
    rather than leak them; precision comes from the email/IP passes
    running first."""
    col = F.col(text_col)
    return df.select(
        id_col,
        F.regexp_count(col, F.lit(EMAIL_RE)).alias("email_count"),
        F.regexp_count(col, F.lit(IPV4_RE)).alias("ipv4_count"),
        F.regexp_count(col, F.lit(PHONE_RE)).alias("phone_like_count"),
        redact_pii(col).alias("redacted"),
    )


# ---------------------------------------------------------------------------
# URLs
# ---------------------------------------------------------------------------

URL_RE = r"(?i)https?://\S+"
_HEAD_RE = r"(?i)^(https?://[^/]*)"


def normalize_url(u: Column) -> Column:
    """Lowercase scheme+authority, strip #fragment, default :80/:443
    ports, and a trailing slash.  Path case is preserved (paths are
    case-sensitive; hosts are not)."""
    u = F.regexp_replace(u, "#.*", "")
    head = F.regexp_extract(u, _HEAD_RE, 1)
    rest = F.substring(u, F.length(head) + 1, F.length(u))
    head = F.regexp_replace(F.lower(head), ":(80|443)$", "")
    return F.regexp_replace(F.concat(head, rest), "/$", "")


def url_domain(u: Column) -> Column:
    return F.regexp_extract(u, r"^https?://([^/:]+)", 1)


def extract_urls(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(URL_RE), 0)


def url_domain_stats(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Explode -> normalize -> per-domain rollup.  One shuffle on the
    domain key; at 100 TB the explode stays narrow (matches only) and
    the groupBy partial-aggregates map-side, so the shuffle carries
    (domain, count) pairs, not documents."""
    urls = df.select(
        F.explode(extract_urls(F.col(text_col))).alias("raw_url")
    ).select(normalize_url(F.col("raw_url")).alias("url"))
    return (
        urls.select(url_domain(F.col("url")).alias("domain"), "url")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("url").alias("n_distinct_urls"),
        )
    )
