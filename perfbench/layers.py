"""Traced run: per-layer metrics from spans the benchmark records itself.

The package carries no tracing.  The benchmark calls each module's public
functions in the order ``run_pipeline`` composes them on the fused
no-catalog path, forces each stage's output with ``localCheckpoint`` so its
work lands inside its span, and labels the Spark jobs of every span with
``setJobGroup("bench:<layer>")``.  The uncompressed Spark event log, parsed
with plain ``json`` once the context has stopped, gives jobs, tasks, task CPU,
shuffle, spill and GC per layer.

Layers (module -> metric prefix):

  session / data.synth             session.start_s, input.synth_s
  core.windows + extraction and    kernel.*: microseconds per row, no Spark,
  postprocess row kernels          on a fixed synthetic batch
  operators.extraction + linking   extract.*  (pipeline.extract_triples +
                                   linking.link_aliases)
  operators.linking LSH            fuzzy.*    (pipeline.fuzzy_name_edges)
  operators.canonicalize           cc.*       (canonical_entities,
                                   identity_rows=False as in production)
  pipeline final join              join.wall_s
  catalog                          catalog.*  (Catalog.stage, resume,
                                   pipeline.materialize_graph)
  Spark / driver                   spark.*, driver.*, trace.overhead_s

The staged chain's output digest must equal the untraced run's, so the
chain cannot drift from ``run_pipeline``.  When a function that the chain,
the kernels or the catalog step calls no longer exists, that part reports
no metrics (logged as ``layer_missing``) and the run reports the rest.
"""
from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import run as bench

CHAIN = ("extract", "fuzzy", "cc", "join")
# every per-layer metric with its unit, in the order they are printed
PER_LAYER = {
    "session.start_s": "s",
    "input.synth_s": "s",
    "kernel.windows_us_per_doc": "us",
    "kernel.extract_us_per_window": "us",
    "kernel.top1_us_per_row": "us",
    "kernel.triples_us_per_row": "us",
    "extract.wall_s": "s",
    "extract.jobs": "count",
    "extract.tasks": "count",
    "extract.task_cpu_s": "s",
    "extract.task_noncpu_s": "s",
    "extract.shuffle_write_mb": "MB",
    "extract.rows_out": "count",
    "fuzzy.wall_s": "s",
    "fuzzy.jobs": "count",
    "fuzzy.names_in": "count",
    "fuzzy.edges_kept": "count",
    "cc.wall_s": "s",
    "cc.jobs": "count",
    "cc.edges_in": "count",
    "cc.driver_path": "count",
    "cc.mapping_rows": "count",
    "join.wall_s": "s",
    "catalog.stage_canonical.write_s": "s",
    "catalog.graph_edges.write_s": "s",
    "catalog.graph_nodes.write_s": "s",
    "catalog.files_written": "count",
    "catalog.mb_written": "MB",
    "catalog.resume_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "driver.job_gap_s": "s",
    "driver.residual_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
}
KERNEL_CONVS = 400
KERNEL_REPEATS = 5
LAYER_ERRORS = (ImportError, AttributeError)


def event_log_conf(work: str) -> dict:
    events = os.path.join(work, "events")
    os.makedirs(events, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        # Spark 4 writes zstd by default; plain JSON lines parse with json
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans kept in memory: (name, start, end), epoch seconds, the clock
    Spark stamps its events with."""

    def __init__(self, sc):
        self.sc = sc
        self.spans = {}

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(f"bench:{name}", name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans[name] = (t0, time.time())
            self.sc.setJobGroup("bench:outside", "outside any span")


# -- the staged chain ---------------------------------------------------------
def traced_chain(spark, transcripts, cfg, tracer: Tracer, counts: dict):
    """extract -> fuzzy -> cc -> join, one span each; returns (final, digest)
    or None when a layer's function is gone."""
    from pyspark.sql import functions as F

    try:
        from information_extraction_t5_spark.functions.text import (
            normalize_answer,
        )
        from information_extraction_t5_spark.operators.canonicalize import (
            canonical_entities,
        )
        from information_extraction_t5_spark.operators.linking import (
            alias_df,
            link_aliases,
        )
        from information_extraction_t5_spark.pipeline import (
            extract_triples,
            fuzzy_name_edges,
        )
    except LAYER_ERRORS as exc:
        bench.log(event="layer_missing", layer="chain", error=repr(exc))
        return None

    t0 = time.time()
    with tracer.span("extract"):
        triples = link_aliases(
            extract_triples(spark, transcripts, cfg), alias_df(spark),
            value_col="obj", out_col="obj",
            predicates=cfg.link_predicates, pred_col="pred",
        ).localCheckpoint(eager=True)
    with tracer.span("fuzzy"):
        extra = fuzzy_name_edges(
            triples, cfg.fuzzy_link_max_dist, cfg.fuzzy_hash
        ).localCheckpoint(eager=True)
    with tracer.span("cc"):
        keys = triples.filter(
            F.col("pred").isin("form.cpf", "form.nome_completo")
        ).select(
            "conv_id",
            F.concat(F.col("pred"), F.lit("="),
                     normalize_answer(F.col("obj"))).alias("mention_key"),
        )
        mapping = canonical_entities(
            keys, "conv_id", "mention_key", extra_edges=extra,
            driver_threshold=cfg.cc_driver_threshold, identity_rows=False,
        )
        # the union-find fast path returns a broadcast-hinted local relation
        driver_path = "broadcast" in (
            mapping._jdf.queryExecution().analyzed().toString().lower())
        mapping = mapping.localCheckpoint(eager=True)
    with tracer.span("join"):
        final = triples.join(
            mapping.withColumnRenamed("mention", "conv_id"), "conv_id", "left"
        ).withColumn(
            "subj",
            F.concat(F.lit("ent:"),
                     F.coalesce(F.col("canonical_id"), F.col("conv_id"))),
        ).drop("canonical_id")
        d = bench.digest(final)
    counts["trace.wall_s"] = time.time() - t0

    tracer.sc.setJobGroup("bench:count", "layer counts, untimed")
    n_extra = extra.count()
    counts.update({
        "extract.rows_out": triples.count(),
        "fuzzy.names_in": triples.filter(
            F.col("pred") == "form.nome_completo"
        ).select(normalize_answer(F.col("obj"))).distinct().count(),
        "fuzzy.edges_kept": n_extra,
        "cc.edges_in": keys.count() + n_extra,
        "cc.driver_path": int(driver_path),
        "cc.mapping_rows": mapping.count(),
    })
    return final, d


# -- kernels without Spark ----------------------------------------------------
def kernel_metrics(spark, seed: int, cfg) -> dict:
    """Microseconds per row of the four row kernels of the fused extraction
    stage, on the assembled documents of a fixed synthetic batch."""
    import pandas as pd

    try:
        from information_extraction_t5_spark.core.registry import (
            DEFAULT_PREDICATES,
        )
        from information_extraction_t5_spark.core.windows import (
            sliding_windows,
        )
        from information_extraction_t5_spark.data import synth
        from information_extraction_t5_spark.operators.extraction import (
            RegexFormExtractor,
            top1_prereduce_pdf,
        )
        from information_extraction_t5_spark.operators.postprocess import (
            triples_pdf_from_best,
        )
        from information_extraction_t5_spark.operators.windows import (
            assemble_documents,
        )
    except LAYER_ERRORS as exc:
        bench.log(event="layer_missing", layer="kernel", error=repr(exc))
        return {}

    spark.sparkContext.setJobGroup("bench:count", "kernel input, untimed")
    docs = assemble_documents(
        synth.transcripts_df(spark, KERNEL_CONVS, seed=seed)
    ).select("conv_id", "text").toPandas().sort_values("conv_id")
    registry_spec = [(p.qa_id, p.field, tuple(p.questions),
                      tuple(p.subfields)) for p in DEFAULT_PREDICATES]
    model = RegexFormExtractor(cost_ms=cfg.model_cost_ms)

    def windows():
        win = {"conv_id": [], "window_id": [], "window_offset": [],
               "window_text": []}
        for cid, text in zip(docs["conv_id"], docs["text"]):
            for w in sliding_windows(text or "", cfg.window):
                win["conv_id"].append(cid)
                win["window_id"].append(w.window_id)
                win["window_offset"].append(w.offset)
                win["window_text"].append(w.text)
        return pd.DataFrame(win)

    def per_row_us(fn, rows):
        times = []
        for _ in range(KERNEL_REPEATS):
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
        return out, statistics.median(times) * 1e6 / max(rows, 1)

    win, windows_us = per_row_us(windows, len(docs))
    scored, extract_us = per_row_us(
        lambda: model.predict_windows(win, registry_spec,
                                      choose=cfg.choose_question,
                                      seed=cfg.question_seed), len(win))
    best, top1_us = per_row_us(lambda: top1_prereduce_pdf(scored),
                               len(scored))
    _, triples_us = per_row_us(lambda: triples_pdf_from_best(best), len(best))
    return {
        "kernel.windows_us_per_doc": windows_us,
        "kernel.extract_us_per_window": extract_us,
        "kernel.top1_us_per_row": top1_us,
        "kernel.triples_us_per_row": triples_us,
    }


# -- catalog ------------------------------------------------------------------
def catalog_metrics(spark, final, cfg, warehouse: str, ref) -> tuple:
    """Stage commit, resume from the committed snapshot, and the graph
    tables; returns (metrics, resumed digest matches the reference)."""
    try:
        from information_extraction_t5_spark.catalog import Catalog
        from information_extraction_t5_spark.pipeline import (
            materialize_graph,
        )
    except LAYER_ERRORS as exc:
        bench.log(event="layer_missing", layer="catalog", error=repr(exc))
        return {}, True

    spark.sparkContext.setJobGroup("bench:catalog", "catalog")
    cat = Catalog(spark, warehouse)
    cat.stage("stage_canonical", lambda: final)
    t0 = time.perf_counter()
    resumed = cat.stage("stage_canonical", lambda: final)
    ok = bench.digest(resumed) == ref
    resume_s = time.perf_counter() - t0
    materialize_graph(resumed, cat, cfg)

    n_files, n_bytes = 0, 0
    for dirpath, _dirs, files in os.walk(warehouse):
        for fn in files:
            n_files += fn.endswith(".parquet")
            n_bytes += os.path.getsize(os.path.join(dirpath, fn))
    metrics = {f"catalog.{t}.write_s": cat.lineage(t)["seconds"]
               for t in ("stage_canonical", "graph_edges", "graph_nodes")}
    metrics.update({"catalog.files_written": n_files,
                    "catalog.mb_written": n_bytes / 2**20,
                    "catalog.resume_s": resume_s})
    return metrics, ok


# -- the traced run -----------------------------------------------------------
def measure_traced(spark, workload: str, seed: int, n_convs: int,
                   work: str) -> dict:
    """The untraced run's set-up (input, goldens, reference run), one
    untraced run as the overhead baseline, then the traced chain, kernels
    and catalog."""
    prep = bench.setup(spark, workload, seed, n_convs)
    transcripts, cfg, ref = prep.transcripts, prep.cfg, prep.ref
    untraced_wall, _cpu, d_untraced = bench.timed_run(spark, transcripts, cfg)

    tracer = Tracer(spark.sparkContext)
    metrics = {"input.synth_s": prep.synth_s}
    checks = {"reference": prep.precision >= bench.MIN_PRECISION
              and prep.recall >= bench.MIN_RECALL,
              "untraced_digest": d_untraced == ref}
    chain = traced_chain(spark, transcripts, cfg, tracer, metrics)
    metrics.update(kernel_metrics(spark, seed, cfg))
    if chain is not None:
        final, d_traced = chain
        checks["traced_digest"] = d_traced == ref
        metrics["trace.overhead_s"] = metrics["trace.wall_s"] - untraced_wall
        cat, checks["catalog_digest"] = catalog_metrics(
            spark, final, cfg, os.path.join(work, "warehouse"), ref)
        metrics.update(cat)
    # summed VmHWM varies by a quarter between identical runs (JVM heap
    # growth), too much for an end-to-end bound
    metrics["process.peak_rss_mb"] = bench.tree_peak_rss_mb()
    bench.log(event="traced", checks=checks, untraced_wall_s=untraced_wall)
    return {"metrics": metrics, "spans": tracer.spans, "checks": checks}


def _events(work: str):
    for path in glob.glob(os.path.join(work, "events", "*")):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _union_s(intervals, lo, hi) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def spark_metrics(work: str, spans: dict) -> dict:
    """Fold the event log into per-layer job/task counters."""
    stage_group, job_group, job_time = {}, {}, {}
    per = {}
    for ev in _events(work):
        kind = ev["Event"]
        props = ev.get("Properties") or {}
        if kind == "SparkListenerStageSubmitted":
            stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                "spark.jobGroup.id")
        elif kind == "SparkListenerJobStart":
            job_group[ev["Job ID"]] = props.get("spark.jobGroup.id")
            job_time[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
        elif kind == "SparkListenerJobEnd":
            job_time[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            acc = per.setdefault(stage_group.get(ev["Stage ID"]), {
                "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "spill_mb": 0.0, "shuffle_write_mb": 0.0})
            acc["tasks"] += 1
            acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written",
                                              0) / 2**20

    def jobs(layer):
        return sum(g == f"bench:{layer}" for g in job_group.values())

    out = {}
    for layer in ("extract", "fuzzy", "cc"):
        out[f"{layer}.jobs"] = jobs(layer)
    ex = per.get("bench:extract", {})
    out.update({
        "extract.tasks": ex.get("tasks", 0),
        "extract.task_cpu_s": ex.get("cpu_s", 0.0),
        "extract.task_noncpu_s": ex.get("run_s", 0.0) - ex.get("cpu_s", 0.0),
        "extract.shuffle_write_mb": ex.get("shuffle_write_mb", 0.0),
    })
    chain = [per.get(f"bench:{layer}", {}) for layer in CHAIN]
    out.update({
        "spark.jobs": sum(jobs(layer) for layer in CHAIN),
        "spark.tasks": sum(c.get("tasks", 0) for c in chain),
        "spark.shuffle_write_mb": sum(c.get("shuffle_write_mb", 0.0)
                                      for c in chain),
        "spark.spill_mb": sum(c.get("spill_mb", 0.0) for c in chain),
        "spark.gc_s": sum(c.get("gc_s", 0.0) for c in chain),
    })
    lo = min(spans[layer][0] for layer in CHAIN)
    hi = max(spans[layer][1] for layer in CHAIN)
    busy = _union_s([(a, b) for a, b in job_time.values() if b is not None],
                    lo, hi)
    out["driver.job_gap_s"] = (hi - lo) - busy
    return out


def finish(traced: dict, work: str, session_s: float) -> dict:
    """Assemble the per-layer metrics once the event log is complete, and
    check that span self times plus the driver residual reconcile with the
    traced wall."""
    metrics = {"session.start_s": session_s, **traced["metrics"]}
    checks = dict(traced["checks"])
    spans = traced["spans"]
    if all(layer in spans for layer in CHAIN):
        selfs = {layer: spans[layer][1] - spans[layer][0] for layer in CHAIN}
        for layer, s in selfs.items():
            metrics[f"{layer}.wall_s"] = s
        wall = metrics["trace.wall_s"]
        # residual: the chain's time outside every layer span, from the gaps
        # between consecutive spans rather than as wall minus their sum
        edges = sorted(spans[layer] for layer in CHAIN)
        residual = sum(max(b[0] - a[1], 0.0)
                       for a, b in zip(edges, edges[1:]))
        residual += wall - (edges[-1][1] - edges[0][0])
        metrics["driver.residual_s"] = residual
        reconciled = sum(selfs.values()) + residual
        checks["reconciled"] = abs(reconciled - wall) <= 0.05 * wall
        metrics.update(spark_metrics(work, spans))
        bench.log(event="reconcile", layers_s=sum(selfs.values()),
                  residual_s=residual, traced_wall_s=wall)
    correct = all(checks.values())
    bench.log(event="checks", **checks)
    return {"correct": correct, "attempted": 1, "failed": int(not correct),
            "metrics": {k: (metrics[k], u) for k, u in PER_LAYER.items()
                        if k in metrics}}
