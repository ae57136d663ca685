"""Batched question-conditioned extraction (the model surface).

The per-row inference loop of the reference (reference: models/qa_model.py:
140-171, one driver-side batch at a time) becomes ONE distributed lineage:

    documents -> mapInPandas(windows x question registry -> batched model)

``run_extraction`` is the only kernel; its ``emit`` mode picks per-window
candidates, top-1 triples, or grounded spans.

The extractor is pluggable and loaded once per executor Python worker
(module-level cache), consuming Arrow record batches — no per-row Python in
the hot path.  Two implementations:

  - RegexFormExtractor: deterministic, dependency-free; stands in for T5 so
    tests/bench run without GPU or weights (SURVEY.md §5 target strategy).
  - Seq2SeqExtractor: the real GPU inner loop (batched generate + in-batch
    probability scoring, exp(-loss/len); reference: qa_model.py:154-163,
    327-342). Gated behind transformers/torch availability.
"""
from __future__ import annotations

import math
import re
from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from information_extraction_t5_spark.core.registry import (
    DEFAULT_PREDICATES,
    Predicate,
    TYPENAME_TO_TYPE,
    registry_rows,
)
from information_extraction_t5_spark.core.textnorm import sent_id_at

# ---------------------------------------------------------------------------
# QA expansion: every window asks every registry question
# ---------------------------------------------------------------------------


def registry_df(spark, predicates: Optional[List[Predicate]] = None):
    return spark.createDataFrame(
        registry_rows(predicates or DEFAULT_PREDICATES),
        "qa_id string, project string, field string, question string, "
        "questions array<string>, subfields array<string>, is_compound boolean",
    )


def expand_questions(windows: DataFrame, registry: DataFrame,
                     choose: str = "first", seed: int = 13,
                     doc_col: str = "conv_id") -> DataFrame:
    """Broadcast cross join window x predicate (reference loop:
    basic_to_squad.py:253-317).  The registry is tiny — always broadcast;
    the result keeps the windows' partitioning (narrow).

    ``choose`` selects among question paraphrases per predicate
    (reference choose_question, basic_to_squad.py:16-41):

      first   the registry's canonical question (default; no new column)
      all     one row per variant (adds ``variant_idx``)
      random  a per-(document, predicate) seeded md5 draw (adds
              ``variant_idx``) — deterministic, engine-portable
    """
    x = windows.crossJoin(F.broadcast(registry))
    if choose == "first":
        return x
    if choose == "all":
        cols = [c for c in x.columns if c != "question"]
        return x.select(
            *cols, F.posexplode("questions").alias("variant_idx", "question")
        )
    if choose == "random":
        idx = F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col(doc_col).cast("string"),
                            F.col("qa_id"), F.lit(str(seed)),
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint"),
            F.size("questions").cast("bigint"),
        ).cast("int")
        return (
            x.withColumn("variant_idx", idx)
            .withColumn(
                "question",
                F.element_at("questions", F.col("variant_idx") + 1),
            )
        )
    raise ValueError(f"unknown choose_question mode: {choose}")


# ---------------------------------------------------------------------------
# Extractors
# ---------------------------------------------------------------------------


class RegexFormExtractor:
    """Deterministic stand-in model for the synthetic form transcripts.

    Emits exactly the reference answer grammar: '[SENTi] [Type]: value'
    per subanswer, '[Type]: N/A' for absent fields, and an
    '[aparece no texto]' complement when the canonical value differs from
    the surface form (dotted document numbers).
    """

    FIELD_PATTERNS = {
        "etiqueta": r"^(ID\d{5})$",
        "conta_corrente": r"Conta Corrente (\S+)",
        "cpf": r"^(\d{3}\.\d{3}\.\d{3}-\d{2})$",
        "nome_completo": r"Nome Completo (.+)$",
        "orgao_emissor": r"Órgão Emissor (\S+)",
        "data_emissao": r"Data de Emissão (\d{2}/\d{2}/\d{4})",
        "data_nascimento": r"Data de Nascimento (\d{2}/\d{2}/\d{4})",
        "nome_mae": r"Nome da Mãe (.+)$",
        "nome_pai": r"Nome do Pai (.+)$",
        "logradouro": r"Rua/Av/Pça/Estrada (.+)$",
        "bairro": r"^Bairro (.+)$",
        "cidade": r"Município (.+)$",
        "estado": r"^UF (.+?)(?: País.*)?$",
        "cep": r"^(\d{5}-\d{3})$",
    }

    def __init__(self, cost_ms: float = 0.0):
        """cost_ms: deterministic CPU burn per window, emulating the
        per-window latency of a real seq2seq model (regex matching is
        ~1000x cheaper than batched T5 generation; without the calibrated
        cost a local scaling test measures scheduler overhead, not the
        engine).  0 disables it."""
        self._compiled = {
            k: re.compile(v, re.MULTILINE) for k, v in self.FIELD_PATTERNS.items()
        }
        self.cost_ms = cost_ms

    def _burn(self) -> None:
        if self.cost_ms <= 0:
            return
        import time as _time

        end = _time.perf_counter() + self.cost_ms / 1000.0
        x = 0
        while _time.perf_counter() < end:
            x += 1

    @staticmethod
    def _core_span(text: str) -> Tuple[int, int]:
        """Trustworthy region of a window: windows snap to spaces mid-line,
        so a leading/trailing '...' means the first/last line may be a cut
        fragment — never match inside it (the overlapping neighbor window
        sees the complete line)."""
        start, end = 0, len(text)
        if text.startswith("..."):
            nl = text.find("\n")
            start = nl + 1 if nl != -1 else len(text)
        if text.endswith("..."):
            nl = text.rfind("\n")
            end = nl if nl != -1 else start
        return start, max(start, end)

    @staticmethod
    def _window_ctx(text: str) -> Tuple[int, str, list, list]:
        """Per-window parse context computed ONCE (r7): (lo, core, lines,
        line start offsets).  _find previously re-sliced and re-split the
        core per FIELD lookup — ~18x per window."""
        start, end = RegexFormExtractor._core_span(text)
        core = text[start:end]
        lines = core.split("\n")
        starts, acc = [], 0
        for ln in lines:
            starts.append(acc)
            acc += len(ln) + 1
        return start, core, lines, starts

    def _find(self, field: str, ctx: Tuple[int, str, list, list]
              ) -> Tuple[Optional[str], int, Optional[str]]:
        """(canonical value, char pos in full window, raw surface if it
        differs). Only matches within the core span of ``ctx``."""
        lo, core, lines, starts = ctx
        if field == "agencia":
            for i in range(len(lines) - 1):
                if lines[i].strip().endswith("Agência Nº"):
                    m = re.match(r"^(\d{4})$", lines[i + 1].strip())
                    if m:
                        return m.group(1), lo + starts[i + 1], None
            return None, -1, None
        if field == "numero":
            for i in range(len(lines) - 1):
                if lines[i].strip() == "Número":
                    m = re.match(
                        r"^(\d+)(?: Complemento.*)?$", lines[i + 1].strip()
                    )
                    if m:
                        return m.group(1), lo + starts[i + 1], None
            return None, -1, None
        if field == "n_doc_serie":
            m = re.search(r"^([\d.]+) Órgão Emissor", core, re.MULTILINE)
            if not m:
                return None, -1, None
            raw = m.group(1)
            canon = raw.replace(".", "")
            return canon, lo + m.start(1), (raw if raw != canon else None)
        if field == "complemento":
            m = re.search(r"Complemento (.+)$", core, re.MULTILINE)
            if m:
                return m.group(1), lo + m.start(1), None
            return None, -1, None
        pat = self._compiled.get(field)
        if pat is None:
            return None, -1, None
        m = pat.search(core)
        if not m:
            return None, -1, None
        return m.group(1), lo + m.start(1), None

    def _subanswer(self, field: str, window_text: str,
                   ctx: Tuple[int, str, list, list]) -> Tuple[str, bool]:
        value, pos, raw = self._find(field, ctx)
        dtype = TYPENAME_TO_TYPE[field]
        if value is None:
            return f"[{dtype}]: N/A", False
        sid = sent_id_at(window_text, pos)
        piece = f"[SENT{sid}] [{dtype}]: {value}"
        if raw:
            piece += f" [aparece no texto] {raw}"
        return piece, True

    def answer(self, window_text: str, field: str, is_compound: bool,
               subfields) -> Tuple[str, float]:
        """One (window, predicate) answer + deterministic pseudo-probability
        (higher when more subfields ground in this window — the analogue of
        exp(-loss/len); reference: qa_model.py:327-342)."""
        text = window_text or ""
        ctx = self._window_ctx(text)
        if is_compound:
            pieces, found = [], 0
            for sf in list(subfields):
                piece, hit = self._subanswer(sf, text, ctx)
                pieces.append(piece)
                found += int(hit)
            pred = " ".join(pieces)
            n_asked = max(len(list(subfields)), 1)
        else:
            pred, hit = self._subanswer(field, text, ctx)
            found, n_asked = int(hit), 1
        return pred, round(math.exp(-(n_asked - found) / n_asked), 6)

    def predict(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """(window x question)-row API, for pre-expanded inputs."""
        preds, probs = [], []
        for text, field, is_compound, subfields in zip(
            pdf["window_text"], pdf["field"], pdf["is_compound"],
            pdf["subfields"],
        ):
            pred, prob = self.answer(text, field, is_compound, subfields)
            preds.append(pred)
            probs.append(prob)
        out = pdf.copy()
        out["prediction"] = preds
        out["prob"] = probs
        return out

    def predict_windows(self, pdf: pd.DataFrame, registry_spec,
                        choose: str = "first",
                        seed: int = 13) -> pd.DataFrame:
        """Window-row API: answers every registry predicate per window.

        The window text crosses Arrow exactly once (not once per question)
        and never travels back — only ids + predictions do.  ``choose``
        picks question paraphrases (the regex model's answer is
        question-invariant, so 'all' replicates rows — the multiplicity the
        reference's choose_question='all' dataset build produces — and
        'random' matches 'first' row-for-row with a different question
        asked).
        """
        out = {"conv_id": [], "window_id": [], "window_offset": [],
               "qa_id": [], "prediction": [], "prob": []}
        for cid, wid, woff, text in zip(
            pdf["conv_id"], pdf["window_id"], pdf["window_offset"],
            pdf["window_text"],
        ):
            text = text or ""
            ctx = self._window_ctx(text)
            self._burn()
            for qa_id, field, questions, subfields in registry_spec:
                if subfields:
                    pieces, found = [], 0
                    for sf in subfields:
                        piece, hit = self._subanswer(sf, text, ctx)
                        pieces.append(piece)
                        found += int(hit)
                    pred = " ".join(pieces)
                    n_asked = len(subfields)
                else:
                    pred, hit = self._subanswer(field, text, ctx)
                    found, n_asked = int(hit), 1
                n_variants = len(
                    _variant_indices(cid, qa_id, questions, choose, seed)
                )
                for _ in range(n_variants):
                    out["conv_id"].append(cid)
                    out["window_id"].append(wid)
                    out["window_offset"].append(woff)
                    out["qa_id"].append(qa_id)
                    out["prediction"].append(pred)
                    out["prob"].append(
                        round(math.exp(-(n_asked - found) / n_asked), 6)
                    )
        return pd.DataFrame(out)


class Seq2SeqExtractor:
    """Batched T5 generate + scoring — real-model path.

    Loads once per worker; tokenizes per Arrow batch with padding, beam
    search generate, then one teacher-forced forward for exp(-loss/len)
    probabilities (reference: qa_model.py:99-171,327-342).  Requires
    transformers+torch at runtime; absent in this sandbox by design.
    """

    def __init__(self, model_name: str, num_beams: int = 5,
                 max_length: int = 200):
        try:
            import torch  # noqa: F401
            from transformers import (AutoModelForSeq2SeqLM,  # noqa: F401
                                      AutoTokenizer)
        except ImportError as e:  # pragma: no cover - sandbox has no torch
            raise NotImplementedError(
                "Seq2SeqExtractor needs torch+transformers; use "
                "RegexFormExtractor in environments without them"
            ) from e
        import torch
        from transformers import AutoModelForSeq2SeqLM, AutoTokenizer

        torch.set_num_threads(1)  # never oversubscribe executor cores
        self.tokenizer = AutoTokenizer.from_pretrained(model_name)
        self.model = AutoModelForSeq2SeqLM.from_pretrained(model_name).eval()
        self.quantized = False
        if not torch.cuda.is_available():
            # CPU executors run the reference's dynamic int8 path
            # (reference predict.py:44-47: quantize_dynamic over nn.Linear
            # when no GPU) — on Spark this is the common case: wide CPU
            # fleets, one quantized replica per Python worker
            self.model = torch.quantization.quantize_dynamic(
                self.model, {torch.nn.Linear}, dtype=torch.qint8
            )
            self.quantized = True
        self.num_beams = num_beams
        self.max_length = max_length

    def predict(self, pdf: pd.DataFrame) -> pd.DataFrame:  # pragma: no cover
        import torch

        inputs = [
            f"question: {q} context: {t}"
            for q, t in zip(pdf["question"], pdf["window_text"])
        ]
        enc = self.tokenizer(
            inputs, padding=True, truncation=True, max_length=512,
            return_tensors="pt",
        )
        with torch.no_grad():
            gen = self.model.generate(
                **enc, num_beams=self.num_beams, max_length=self.max_length,
                early_stopping=True,
            )
            preds = self.tokenizer.batch_decode(gen, skip_special_tokens=True)
            labels = self.tokenizer(
                preds, padding=True, return_tensors="pt"
            ).input_ids
            labels[labels == self.tokenizer.pad_token_id] = -100
            out = self.model(**enc, labels=labels)
            lens = (labels != -100).sum(dim=1).clamp(min=1)
            # per-row loss -> probability exp(-loss/len)
            logits = out.logits
            losses = torch.nn.functional.cross_entropy(
                logits.transpose(1, 2), labels.clamp(min=0),
                reduction="none",
            )
            losses = (losses * (labels != -100)).sum(dim=1)
            probs = probs_from_losses(losses.tolist(), lens.tolist())
        res = pdf.copy()
        res["prediction"] = preds
        res["prob"] = probs
        return res

    def predict_windows(self, pdf: pd.DataFrame, registry_spec,
                        choose: str = "first",
                        seed: int = 13) -> pd.DataFrame:  # pragma: no cover
        """Expand (window x question) internally and run batched generate —
        the expansion happens where the GPU batch is formed, not in a
        Spark-side join.  ``choose`` selects question paraphrases per
        (document, predicate): 'first', seeded 'random', or 'all'."""
        expanded = expand_window_questions(pdf, registry_spec, choose, seed)
        out = self.predict(expanded)
        return out[["conv_id", "window_id", "window_offset", "qa_id",
                    "prediction", "prob"]]


def probs_from_losses(total_losses, label_lens) -> List[float]:
    """Answer probability from summed token losses: exp(-loss/len),
    rounded like the cached reference outputs (reference:
    qa_model.py:327-342 computes exactly this per predicted row).  Pure
    (list in, list out) so the scoring semantics are testable without
    torch; the tensor path feeds it ``.tolist()`` values."""
    return [
        round(math.exp(-loss / max(n, 1)), 6)
        for loss, n in zip(total_losses, label_lens)
    ]


def expand_window_questions(pdf: pd.DataFrame, registry_spec,
                            choose: str = "first",
                            seed: int = 13) -> pd.DataFrame:
    """(window) x (predicate, chosen question variants) expansion — the
    pure half of Seq2SeqExtractor.predict_windows, split out so the
    model-batch formation is testable without torch (only the tensor
    calls in ``predict`` remain environment-gated)."""
    expanded = {"conv_id": [], "window_id": [], "window_offset": [],
                "qa_id": [], "question": [], "window_text": []}
    for cid, wid, woff, text in zip(
        pdf["conv_id"], pdf["window_id"], pdf["window_offset"],
        pdf["window_text"],
    ):
        for qa_id, _field, questions, _sub in registry_spec:
            for vi in _variant_indices(cid, qa_id, questions,
                                       choose, seed):
                expanded["conv_id"].append(cid)
                expanded["window_id"].append(wid)
                expanded["window_offset"].append(woff)
                expanded["qa_id"].append(qa_id)
                expanded["question"].append(questions[vi])
                expanded["window_text"].append(text)
    return pd.DataFrame(expanded)


def _variant_indices(conv_id, qa_id: str, questions, choose: str,
                     seed: int) -> List[int]:
    """Question-paraphrase selection per (document, predicate) — the
    reference's choose_question (basic_to_squad.py:16-41) with the random
    draw made deterministic: md5(conv:qa:seed) % n_variants, the same
    formula the SQL-side expand_questions uses so both paths agree."""
    n = max(len(questions), 1)
    if choose == "all":
        return list(range(n))
    if choose == "random":
        import hashlib

        h = int(
            hashlib.md5(
                f"{conv_id}:{qa_id}:{seed}".encode()
            ).hexdigest()[:8],
            16,
        )
        return [h % n]
    if choose == "first":
        return [0]
    raise ValueError(f"unknown choose_question mode: {choose}")


# one model per executor python worker (not per batch, not per row)
_EXTRACTOR_CACHE: dict = {}


def _get_extractor(kind: str, model_name: Optional[str],
                   cost_ms: float = 0.0):
    key = (kind, model_name, cost_ms)
    if key not in _EXTRACTOR_CACHE:
        if kind == "regex":
            _EXTRACTOR_CACHE[key] = RegexFormExtractor(cost_ms=cost_ms)
        elif kind == "seq2seq":
            _EXTRACTOR_CACHE[key] = Seq2SeqExtractor(model_name or "t5-small")
        else:
            raise ValueError(f"unknown extractor kind: {kind}")
    return _EXTRACTOR_CACHE[key]


EXTRACTION_SCHEMA = (
    "conv_id string, window_id int, window_offset int, "
    "qa_id string, prediction string, prob double"
)


def top1_prereduce_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """In-batch top-1 window of run_extraction's 'triples'/'spans' modes.

    Keeps, per (conv_id, qa_id) within one batch, the row minimizing
    (na_count asc, prob desc, window_id asc) — exactly top1_window's
    use_fewer_na=True ordering (na via str.count('N/A'), the literal twin
    of the size(split(...))-1 expression).  argmin is associative, so
    per-batch winners fed into top1_window would still give the identical
    global winner; with one document row per conv_id the batch winner
    already is that winner, and no top-1 shuffle is needed.
    """
    if len(pdf) <= 1:
        return pdf
    import numpy as np

    na = np.fromiter(
        (p.count("N/A") for p in pdf["prediction"]),
        dtype=np.int64, count=len(pdf),
    )
    order = np.lexsort((
        pdf["window_id"].to_numpy(),
        -pdf["prob"].to_numpy(),
        na,
    ))
    return pdf.iloc[order].drop_duplicates(
        subset=["conv_id", "qa_id"], keep="first"
    )


def run_extraction(
    documents: DataFrame,
    window_spec,
    predicates: Optional[List[Predicate]] = None,
    extractor: str = "regex",
    model_name: Optional[str] = None,
    model_cost_ms: float = 0.0,
    choose_question: str = "first",
    question_seed: int = 13,
    emit: str = "triples",
) -> DataFrame:
    """The extraction kernel: (conv_id, text) documents -> sliding windows
    -> batched model -> ``emit``, in ONE Python crossing.

    Window texts are produced and consumed inside the same Python worker —
    they never materialize as a Spark column.  The question registry rides
    in the closure (tiny, static), so each window crosses into the model
    once, not once per question; a seq2seq extractor expands (window x
    question) batches internally, which is also where the GPU wants them.
    ``choose_question`` selects paraphrase variants ('first'/'random'/
    'all'; reference basic_to_squad.py:16-41).

    ``emit``:

      scored   per-window candidates, EXTRACTION_SCHEMA — for consumers
               that run top1_window themselves (streaming micro-batches,
               where one conv can arrive as two session rows).
      triples  in-batch top-1 (top1_prereduce_pdf, the exact top1_window
               use_fewer_na ordering) -> star triples, TRIPLE_SCHEMA.
      spans    triples + span grounding against the winning window's text
               (postprocess.spans_pdf), SPAN_SCHEMA.

    'triples' and 'spans' are only correct when each conv_id has ONE
    document row (assemble_documents guarantees it): every (conv, qa)
    candidate set then lives inside one Arrow batch, so the in-batch winner
    IS the global winner.  Parity with scored -> top1_window ->
    best_to_triples is pinned by tests/test_top1_prereduce.py and the
    kg_triples oracle.

    The kernel never repartitions: callers pin the model-stage width
    upstream (see pipeline.extract_triples and the streaming body).
    """
    from information_extraction_t5_spark.core.windows import sliding_windows
    from information_extraction_t5_spark.operators.postprocess import (
        SPAN_SCHEMA,
        TRIPLE_SCHEMA,
        spans_pdf,
        triples_pdf_from_best,
    )

    schema = {"scored": EXTRACTION_SCHEMA, "triples": TRIPLE_SCHEMA,
              "spans": SPAN_SCHEMA}.get(emit)
    if schema is None:
        raise ValueError(f"unknown emit mode: {emit}")
    preds = predicates or DEFAULT_PREDICATES
    registry_spec = [
        (p.qa_id, p.field, tuple(p.questions), tuple(p.subfields))
        for p in preds
    ]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _get_extractor(extractor, model_name, model_cost_ms)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            win = {"conv_id": [], "window_id": [], "window_offset": [],
                   "window_text": []}
            for cid, text in zip(pdf["conv_id"], pdf["text"]):
                for w in sliding_windows(text or "", window_spec):
                    win["conv_id"].append(cid)
                    win["window_id"].append(w.window_id)
                    win["window_offset"].append(w.offset)
                    win["window_text"].append(w.text)
            scored = model.predict_windows(pd.DataFrame(win), registry_spec,
                                           choose=choose_question,
                                           seed=question_seed)
            if emit == "scored":
                yield scored
                continue
            triples = triples_pdf_from_best(top1_prereduce_pdf(scored))
            if emit == "spans":
                texts = dict(zip(zip(win["conv_id"], win["window_id"]),
                                 win["window_text"]))
                triples = spans_pdf(triples, [
                    texts.get(k)
                    for k in zip(triples["conv_id"], triples["window_id"])
                ])
            yield triples

    return documents.select("conv_id", "text").mapInPandas(gen, schema=schema)


def _model_stage_tasks(df: DataFrame, extractor: str, model_cost_ms: float,
                       tasks_per_core: Optional[int] = None) -> int:
    """Task count for the pinned model-stage repartition, sized by model
    cost: defaultParallelism x4 when the stage carries model cost, x2 when
    it carries none (the regex extractor at ``model_cost_ms == 0``).

    x4: enough waves that one straggling task (GC, co-tenant steal burst,
    a long conversation) delays its own lane by a fraction of the stage
    instead of idling every other lane through a 2-wave tail — measured
    on the 24k-conv calibrated scaling leg (r4).  x2: a cost-0 stage is
    scheduling-bound, and every Python task pays a fixed start-up of
    ~0.2-0.3 s before its first row (docs/PLANS.md), so extra tasks only
    add overhead.  ``tasks_per_core`` (PipelineConfig.model_tasks_per_core)
    overrides the rule."""
    if tasks_per_core is None:
        tasks_per_core = 2 if extractor == "regex" and model_cost_ms == 0 else 4
    return max(df.sparkSession.sparkContext.defaultParallelism
               * tasks_per_core, 8)
