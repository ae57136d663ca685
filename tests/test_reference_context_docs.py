"""The reference's own context.py smoke documents as fixed kernel cases.

The reference ships a runnable smoke harness (context.py:457-506 main())
that builds windows over two embedded Brazilian documents and self-checks
offset alignment: ``document['text'][offset:offset+len(context)]`` must
reproduce the returned context (context.py:498-502; the in-kernel assert is
context.py:318-319).  The reference harness needs a sentencepiece tokenizer
(absent here), but the documents and the alignment invariant port directly
to the char and deterministic-token kernels.

The document literals are extracted from the reference source with ``ast``
at test time (no copied blob in the repo); the tests skip when the
reference checkout is absent.
"""
from __future__ import annotations

import ast
import os

import pytest

from information_extraction_t5_spark.core.textnorm import clean_document_text
from information_extraction_t5_spark.core.windows import (
    WindowSpec,
    sliding_windows,
    sliding_windows_token,
    token_window_at,
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

# parameters of the reference smoke main() (context.py:469-481)
QUESTION = (
    "Qual o tipo, a classe, o órgão emissor, a localização e a abrangência?"
)
START_POSITION = 158
MAX_SIZE = 200
MAX_TOKENS = 150
OVERLAP = 0.5
MAX_WINDOWS = 3


def _smoke_documents():
    """All string literals assigned to document['text'] inside main()."""
    with open(_CONTEXT_PY, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    docs = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.FunctionDef) and node.name == "main"):
            continue
        for stmt in ast.walk(node):
            if (
                isinstance(stmt, ast.Assign)
                and isinstance(stmt.targets[0], ast.Subscript)
                and isinstance(stmt.value, ast.Constant)
                and isinstance(stmt.value.value, str)
                and len(stmt.value.value) > 100
            ):
                docs.append(stmt.value.value)
    return docs


# loaded at import for the tests below; empty where the skip mark applies
DOCS = _smoke_documents() if _HAVE_CONTEXT_PY else []


def _aligned(text: str, w) -> None:
    """The reference's offset self-check: the window re-slices out of the
    document at its offset (ellipses replace exactly 3 document chars)."""
    core = w.text
    lead = 3 if core.startswith("...") else 0
    core = core[lead:]
    if core.endswith("..."):
        core = core[:-3]
    start = w.offset + lead
    assert start >= 0
    assert text[start:start + len(core)] == core


def test_reference_embeds_two_smoke_documents():
    assert len(DOCS) == 2
    # sanity: these are the documents from context.py:460-466
    assert DOCS[0].startswith("Que tal fazer uma poc")
    assert "PREFEITURA DE CAUCAIA" in DOCS[1]


@pytest.mark.parametrize("doc_idx", [0, 1])
def test_position_window_alignment(doc_idx):
    text = clean_document_text(DOCS[doc_idx])
    for use_sid in (False, True):
        w = window_at(text, START_POSITION, MAX_SIZE, QUESTION, use_sid,
                      proportion_before=0.2)
        assert w.text
        _aligned(text, w)


@pytest.mark.parametrize("doc_idx", [0, 1])
def test_sliding_char_windows_alignment(doc_idx):
    text = clean_document_text(DOCS[doc_idx])
    spec = WindowSpec(max_size=MAX_SIZE, window_overlap=OVERLAP,
                      max_windows=MAX_WINDOWS, question=QUESTION,
                      use_sentence_id=True)
    ws = sliding_windows(text, spec)
    assert 1 <= len(ws) <= MAX_WINDOWS
    assert ws[0].offset == 0
    for w in ws:
        _aligned(text, w)
    # both smoke documents are far longer than 3 windows x ~100 net chars:
    # the max_windows cap must bind (context.py:171)
    assert len(ws) == MAX_WINDOWS


@pytest.mark.parametrize("doc_idx", [0, 1])
def test_position_token_window_alignment(doc_idx):
    text = clean_document_text(DOCS[doc_idx])
    for use_sid in (False, True):
        w = token_window_at(text, START_POSITION, MAX_TOKENS, QUESTION,
                            use_sid, proportion_before=0.2)
        assert w.text
        _aligned(text, w)


@pytest.mark.parametrize("doc_idx", [0, 1])
def test_sliding_token_windows_alignment(doc_idx):
    """The windows_token configuration the reference main() actually runs
    (context.py:469-473), including its last-window offset self-check
    (context.py:498-502), on the deterministic tokenizer."""
    text = clean_document_text(DOCS[doc_idx])
    ws = sliding_windows_token(
        text, max_tokens=MAX_TOKENS, window_overlap=OVERLAP,
        max_windows=MAX_WINDOWS, question=QUESTION, use_sentence_id=True,
    )
    assert 1 <= len(ws) <= MAX_WINDOWS
    for w in ws:
        _aligned(text, w)
    last = ws[-1]
    _aligned(text, last)
    # determinism: same input -> same windows (stable-order invariant)
    again = sliding_windows_token(
        text, max_tokens=MAX_TOKENS, window_overlap=OVERLAP,
        max_windows=MAX_WINDOWS, question=QUESTION, use_sentence_id=True,
    )
    assert [(w.window_id, w.text, w.offset) for w in ws] == [
        (w.window_id, w.text, w.offset) for w in again
    ]
