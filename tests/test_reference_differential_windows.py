"""Differential fuzzing of the char-mode window kernels against the
reference's own get_max_size_context / get_position_context /
get_windows_context (reference features/context.py:26-173).

context.py imports transformers at module top (absent here), but these
three functions depend only on ``math`` — so they are extracted from the
reference source with ``ast`` and exec'd in an isolated namespace, then run
side-by-side with core/windows.py on hypothesis-generated documents.
Window boundaries feed the per-turn text-equality invariant, so byte
parity here is load-bearing.
"""
from __future__ import annotations

import ast
import math
import os
from typing import Dict, List, Optional, Tuple, Union

import pytest
from hypothesis import given, settings, strategies as st

from information_extraction_t5_spark.core.windows import (
    WindowSpec,
    head_window,
    sliding_windows,
    window_at,
)

_CONTEXT_PY = os.path.join(
    os.environ.get("SPARK_GRAFT_REFERENCE", "/root/reference"),
    "information_extraction_t5", "features", "context.py",
)

_HAVE_CONTEXT_PY = os.path.exists(_CONTEXT_PY)

pytestmark = pytest.mark.skipif(
    not _HAVE_CONTEXT_PY,
    reason=(f"reference checkout not available at {_CONTEXT_PY} "
            "(set SPARK_GRAFT_REFERENCE)"),
)

SETTINGS = settings(max_examples=200, deadline=None)


def _load_reference_kernels():
    """exec the char- and token-mode window functions from the reference
    source (everything except the module-top transformers import)."""
    import numpy as np

    with open(_CONTEXT_PY, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    wanted = {
        "get_max_size_context", "get_position_context", "get_windows_context",
        "get_tokens_and_offsets", "get_token_id_from_position",
        "get_token_context", "get_position_token_context",
        "get_windows_token_context",
    }
    defs = [n for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name in wanted]
    assert {d.name for d in defs} == wanted
    module = ast.Module(body=defs, type_ignores=[])
    ns = {
        "math": math, "np": np, "Any": object, "Dict": Dict, "List": List,
        "Tuple": Tuple, "Union": Union, "Optional": Optional,
        "PreTrainedTokenizerBase": object,
    }
    exec(compile(module, _CONTEXT_PY, "exec"), ns)  # noqa: S102 — oracle load
    return ns


class _FakeSentencePiece:
    """Tokenizer stand-in shaped like sentencepiece for the reference's
    offset math: ``get_tokens_and_offsets`` subtracts 1 from the first
    token's length (the '▁' marker char), so the fake prepends one — the
    resulting (start, end) spans equal ``default_token_spans`` exactly."""

    def tokenize(self, text: str):
        from information_extraction_t5_spark.core.windows import (
            default_token_spans,
        )

        spans = default_token_spans(text)
        if not spans:
            return []
        toks = ["▁" + text[spans[0][0]:spans[0][1]]]
        toks += [text[s:e] for s, e in spans[1:]]
        return toks


# loaded at import for the tests below; empty where the skip mark applies
REF = _load_reference_kernels() if _HAVE_CONTEXT_PY else {}

# Documents: words + newlines, long enough that windows/shrink paths fire.
doc_text = st.text(
    alphabet="abcdefghij ãç.\n", min_size=0, max_size=400
)
question = st.sampled_from([
    "Qual?", "Qual o endereço?",
    "Qual o tipo, a classe, o órgão emissor, a localização e a abrangência?",
])
# budget (max_size - len question prefix) stays >= ~25 so the reference's
# windows loop always advances (a zero-size window would loop it forever —
# an input the real pipeline never builds)
max_size = st.integers(min_value=120, max_value=300)


@SETTINGS
@given(doc_text, max_size, question)
def test_head_window_matches_reference(text, size, q):
    assert head_window(text, size, q) == REF["get_max_size_context"](
        {"text": text}, max_size=size, question=q
    )


@SETTINGS
@given(
    doc_text,
    max_size,
    question,
    st.integers(min_value=0, max_value=400),
    st.sampled_from([0.0, 0.2, 0.5]),
    st.booleans(),
)
def test_position_window_matches_reference(text, size, q, pos, prop, use_sid):
    pos = min(pos, len(text))
    ref_ctx, ref_off = REF["get_position_context"](
        {"text": text}, max_size=size, start_position=pos,
        proportion_before=prop, question=q, use_sentence_id=use_sid,
    )
    w = window_at(text, pos, size, q, use_sid, proportion_before=prop)
    assert (w.text, w.offset) == (ref_ctx, ref_off)


@SETTINGS
@given(
    doc_text,
    max_size,
    question,
    st.sampled_from([0.2, 0.5]),
    st.sampled_from([-1, 2, 3]),
    st.booleans(),
)
def test_sliding_windows_match_reference(text, size, q, overlap, max_w, use_sid):
    ref_ctxs, ref_offs = REF["get_windows_context"](
        {"text": text}, max_size=size, window_overlap=overlap,
        max_windows=max_w, question=q, use_sentence_id=use_sid,
    )
    spec = WindowSpec(max_size=size, window_overlap=overlap,
                      max_windows=max_w, question=q,
                      use_sentence_id=use_sid)
    ws = sliding_windows(text, spec)
    assert [w.text for w in ws] == ref_ctxs
    assert [w.offset for w in ws] == ref_offs


# ---------------------------------------------------------------------------
# token-mode kernels (reference context.py:176-341) via the fake tokenizer
# ---------------------------------------------------------------------------

_FAKE_TOK = _FakeSentencePiece()

# token-mode docs must tokenize to >=1 span (the reference crashes on
# empty token lists: token_lens[0] -= 1 / tokens_and_offsets[-1])
token_doc = st.text(
    alphabet="abcdefghij ãç.\n", min_size=1, max_size=300
).filter(lambda s: s.strip())

max_tokens = st.integers(min_value=40, max_value=90)
token_question = st.sampled_from(["Qual?", "Qual o endereço?"])


def _spark_spans(text):
    from information_extraction_t5_spark.core.windows import (
        default_token_spans,
    )

    return default_token_spans(text)


def test_fake_tokenizer_matches_default_spans():
    from information_extraction_t5_spark.core.windows import (
        default_token_spans,
    )

    for text in ["abc def\nghi", " leading", "um só", "x"]:
        tao = REF["get_tokens_and_offsets"](text, _FAKE_TOK)
        assert [(s, e) for _, s, e in tao] == default_token_spans(text)
        assert tao[-1][2] == len(text)


@SETTINGS
@given(token_doc, max_tokens, token_question,
       st.integers(min_value=0, max_value=300),
       st.sampled_from([0.0, 0.2, 0.5]), st.booleans())
def test_position_token_window_matches_reference(
    text, mtok, q, pos, prop, use_sid
):
    from information_extraction_t5_spark.core.windows import token_window_at

    pos = min(pos, len(text))
    ref_ctx, ref_off = REF["get_position_token_context"](
        {"text": text, "uuid": "t"}, start_position=pos,
        proportion_before=prop, tokenizer=_FAKE_TOK, max_tokens=mtok,
        question=q, use_sentence_id=use_sid,
    )
    w = token_window_at(text, pos, mtok, q, use_sid, proportion_before=prop)
    assert (w.text, w.offset) == (ref_ctx, ref_off)


@SETTINGS
@given(token_doc, max_tokens, token_question,
       st.sampled_from([0.2, 0.5]), st.sampled_from([-1, 2, 3]),
       st.booleans())
def test_sliding_token_windows_match_reference(
    text, mtok, q, overlap, max_w, use_sid
):
    from information_extraction_t5_spark.core.windows import (
        sliding_windows_token,
    )

    ref_ctxs, ref_offs = REF["get_windows_token_context"](
        {"text": text, "uuid": "t"}, window_overlap=overlap,
        max_windows=max_w, tokenizer=_FAKE_TOK, max_tokens=mtok,
        question=q, use_sentence_id=use_sid,
    )
    ws = sliding_windows_token(
        text, max_tokens=mtok, window_overlap=overlap, max_windows=max_w,
        question=q, use_sentence_id=use_sid,
    )
    assert [w.text for w in ws] == ref_ctxs
    assert [w.offset for w in ws] == ref_offs
