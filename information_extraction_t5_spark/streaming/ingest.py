"""Streaming transcript ingestion (optional path; SURVEY.md §2.9).

The batch pipeline is authoritative (north rule); this module shows the
streaming-append shape: readStream over the transcripts source, watermark on
``ts``, session windows per conversation (a conversation is "closed" after
``gap`` of inactivity), stateful dedup of replayed turns within the
watermark.  The closed sessions feed the same downstream operators as batch.

No reference analogue exists — net-new design, kept dependency-light and
covered by a smoke test using the file source.
"""
from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


def sessionized_conversations(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Close conversations after ``gap`` inactivity; emit assembled text.

    Turn order inside the session is restored by sorting the collected
    (turn_idx, text) structs — same stable-order invariant as batch
    assembly, resilient to out-of-order arrival within the watermark.
    """
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )
    return (
        deduped.groupBy(
            F.session_window("ts", gap).alias("session"),
            F.col("conv_id"),
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("turn_idx", "text"))
            ).alias("turns")
        )
        .select(
            "conv_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            F.array_join(
                F.transform("turns", lambda t: t["text"]), "\n"
            ).alias("text"),
            F.size("turns").alias("n_turns"),
        )
    )


def stream_transcripts_from_files(spark, path: str, schema: str) -> DataFrame:
    """File-source streaming reader (stand-in for Iceberg/Kafka streams)."""
    return spark.readStream.schema(schema).parquet(path)


def stream_pipeline(
    spark,
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    cfg=None,
    trigger_available_now: bool = True,
):
    """Streaming KG construction: closed sessions -> extraction -> triples,
    appended per micro-batch via foreachBatch.

    foreachBatch reuses the *batch* operators unchanged (the extraction
    kernel, top-1, triple building, pipeline.link_triples) — the
    streaming layer only decides when a conversation is complete.
    Canonicalization stays a periodic batch compaction over the appended
    triples (global connected components are not a per-micro-batch
    operation).  Returns the StreamingQuery.

    ``watermark`` bounds how late a turn may arrive (event time behind the
    max seen) and still join its conversation — the streaming==batch
    equality contract only holds for arrival schedules within it; a turn
    later than the watermark is dropped by design (late-data semantics,
    pinned by the adversarial-arrival property test).

    ``cfg.ground`` is rejected with ``ValueError`` before the query
    starts: the micro-batch body emits plain triples, and span grounding
    needs the winning window's text, which ``emit="scored"`` drops.
    """
    from information_extraction_t5_spark.operators.extraction import (
        _model_stage_tasks,
        run_extraction,
    )
    from information_extraction_t5_spark.operators.postprocess import (
        best_to_triples,
        top1_window,
    )
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        link_triples,
    )

    cfg = cfg or PipelineConfig()
    if cfg.ground:
        raise ValueError(
            "stream_pipeline does not ground spans: PipelineConfig(ground="
            "True) would append triples without span columns"
        )
    sessions = sessionized_conversations(stream, gap=gap,
                                         watermark=watermark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The model stage pins its own parallelism: AQE coalesces upstream
        # shuffles by BYTES, which is exactly wrong before a compute-heavy
        # UDF (a few MB of documents can carry hours of model time —
        # observed: byte-coalescing collapsed extraction to ONE task).
        # Round-robin with an explicit count: a bare hash repartition on
        # conv_id is collapsed by the optimizer into the upstream session
        # groupBy exchange, whose read AQE then byte-coalesces; round-robin
        # survives both.
        docs = batch_df.select("conv_id", "text")
        docs = docs.repartition(_model_stage_tasks(
            docs, cfg.extractor, cfg.model_cost_ms, cfg.model_tasks_per_core
        ))
        # per-window candidates, not in-batch triples: a micro-batch can
        # hold two sessions of one conv, so the top-1 must be global
        scored = run_extraction(
            docs, cfg.window, extractor=cfg.extractor,
            model_name=cfg.model_name, model_cost_ms=cfg.model_cost_ms,
            choose_question=cfg.choose_question,
            question_seed=cfg.question_seed, emit="scored",
        )
        best = top1_window(
            scored.select("conv_id", "qa_id", "window_id",
                          "prediction", "prob")
        )
        triples = link_triples(best_to_triples(best), cfg)
        triples.write.mode("append").parquet(out_path)

    writer = (
        sessions.writeStream.foreachBatch(process_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_streamed_triples(spark, triples_path: str, catalog,
                             cfg=None):
    """Periodic batch compaction over stream-appended triples: global
    canonicalization (connected components need the full mention graph)
    + graph materialization.  Run on a schedule or after backfills."""
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        canonicalize_subjects,
        materialize_graph,
    )

    cfg = cfg or PipelineConfig()
    triples = spark.read.parquet(triples_path)
    final = canonicalize_subjects(triples, cfg)
    catalog.write(final, "stream_canonical")
    materialize_graph(final, catalog, cfg)
    return catalog.read("stream_canonical")


# ---------------------------------------------------------------------------
# Custom stateful operator: count-based conversation chunking
# ---------------------------------------------------------------------------

CHUNK_SCHEMA = "conv_id string, chunk_id int, n_turns int, text string"
_CHUNK_STATE_SCHEMA = (
    "turn_idxs array<int>, texts array<string>, "
    "next_window int, next_chunk int"
)


def _flush_runs(pending: dict, chunk_turns: int):
    """Split pending turn_idxs into contiguous runs, additionally broken
    at aligned chunk-window boundaries — each run flushes as its OWN
    chunk.  (A single merged flush would glue non-contiguous ranges
    blocked by a missing middle turn into one oversized chunk; ADVICE
    r2.)  Returns a list of ordered idx lists."""
    runs, run, prev = [], [], None
    for j in sorted(pending):
        if run and (j != prev + 1 or j % chunk_turns == 0):
            runs.append(run)
            run = []
        run.append(j)
        prev = j
    if run:
        runs.append(run)
    return runs


def _make_chunker(chunk_turns: int, timeout_ms: int):
    """Build the applyInPandasWithState function for chunked_conversations
    (module-level factory so the state machine is unit-testable against a
    fake GroupState)."""
    import pandas as pd  # noqa: F811 - executor-side import

    def fn(key, pdfs, state):
        conv_id = key[0]
        out = {"conv_id": [], "chunk_id": [], "n_turns": [], "text": []}

        def emit(chunk_id, ordered_idxs, pending):
            out["conv_id"].append(conv_id)
            out["chunk_id"].append(chunk_id)
            out["n_turns"].append(len(ordered_idxs))
            out["text"].append(
                "\n".join(pending[j] for j in ordered_idxs)
            )

        if state.hasTimedOut:
            idxs, texts, next_window, next_chunk = state.get
            pending = dict(zip(idxs, texts))
            if pending:
                for run in _flush_runs(pending, chunk_turns):
                    emit(next_chunk, run, pending)
                    next_chunk += 1
                # flushed windows can never complete later (their turns
                # are gone): skip past them, and KEEP the counters so late
                # turns never restart chunk numbering at 0 / re-emit
                # duplicate (conv_id, chunk_id) keys (ADVICE r2)
                next_window = max(
                    next_window, max(pending) // chunk_turns + 1
                )
                state.update(([], [], next_window, next_chunk))
                state.setTimeoutDuration(timeout_ms)
            else:
                # a second quiet period with nothing pending: drop the
                # record (memory stays O(active convs); a turn arriving
                # after THIS point restarts numbering — the unavoidable
                # tradeoff of bounded state, now explicit)
                state.remove()
            yield pd.DataFrame(out)
            return

        if state.exists:
            idxs, texts, next_window, next_chunk = state.get
            pending = dict(zip(idxs, texts))
            fresh_state = False
        else:
            pending, next_window, next_chunk = {}, 0, 0
            fresh_state = True

        for pdf in pdfs:
            for ti, tx in zip(pdf["turn_idx"], pdf["text"]):
                pending[int(ti)] = tx

        if fresh_state and pending and min(pending) >= chunk_turns:
            # No state but turns arrive past window 0: either this
            # conversation's state was dropped after two idle timeouts
            # and a late turn restarts chunk numbering at 0 (the bounded-
            # state tradeoff — duplicate (conv_id, chunk_id) keys are now
            # possible downstream), or the first batch is deeply
            # out-of-order.  Surfaced so re-numbering is observable in
            # production instead of silent.
            _LOG.warning(
                "conv %s: turns at idx>=%d arrived with no state; chunk "
                "numbering restarts at 0 (state dropped after idle "
                "timeout, or out-of-order first batch)",
                conv_id, chunk_turns,
            )

        while True:
            want = range(next_window * chunk_turns,
                         (next_window + 1) * chunk_turns)
            if not all(j in pending for j in want):
                break
            emit(next_chunk, list(want), pending)
            for j in want:
                del pending[j]
            next_window += 1
            next_chunk += 1

        state.update(
            (list(pending.keys()), list(pending.values()),
             next_window, next_chunk)
        )
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(out)

    return fn


def chunked_conversations(
    stream: DataFrame,
    chunk_turns: int = 8,
    timeout_ms: int = 60_000,
) -> DataFrame:
    """Stateful COUNT-based chunking per conversation via
    ``applyInPandasWithState`` — the custom-stateful-operator path that
    built-in windows cannot express (session/tumbling windows split by
    TIME; a model-feeding pipeline wants "emit every N turns").

    Per conv_id the state buffers pending (turn_idx, text) pairs across
    micro-batches; chunk k emits as soon as ALL of its turns
    [k*chunk_turns, (k+1)*chunk_turns) have arrived — deterministic chunk
    membership under out-of-order / cross-batch arrival (turn_idx is the
    order authority, same stable-order invariant as batch assembly; the
    shuffle into the stateful operator gives NO arrival-order guarantee).

    A processing-time timeout flushes pending turns when the conversation
    goes quiet: each gap-/window-boundary-separated contiguous run becomes
    its own chunk, and the (next_window, next_chunk) counters SURVIVE the
    flush, so late turns continue the chunk-id sequence instead of
    re-emitting duplicate keys.  Only after a second quiet period with
    nothing pending is the state record dropped (memory bounded at
    O(active conversations x pending turns)).
    """
    return stream.groupBy("conv_id").applyInPandasWithState(
        _make_chunker(chunk_turns, timeout_ms),
        outputStructType=CHUNK_SCHEMA,
        stateStructType=_CHUNK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="ProcessingTimeTimeout",
    )
