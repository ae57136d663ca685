"""End-to-end KG construction: extract -> link -> canonicalize -> materialize.

One declarative lineage (the reference's predict.py stages 2-8 as a single
DataFrame program, SURVEY.md §3.3), composed once in ``run_pipeline``:

    transcripts
      -> repartition(n, conv_id)       (the one shuffle before the model)
      -> assemble_documents            (narrow: input already clustered)
      -> run_extraction                (one mapInPandas: windows, batched
                                        model, top-1 window, star triples,
                                        spans when cfg.ground)
      -> link_triples                  (broadcast alias join)
      == stage_triples                 (localCheckpoint, or Catalog.stage)
      -> canonicalize_subjects         (fuzzy LSH edges, connected
                                        components, broadcast mapping join)
      == stage_canonical               (Catalog only)
      -> materialize_graph             (clustered partitioned write)

With a Catalog both boundaries are resumable snapshots — a killed run
resumes from the last committed one (reference cache-guard semantics,
qa_model.py:144-145).  Window text never becomes a Spark column.
"""
from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from information_extraction_t5_spark.catalog import Catalog
from information_extraction_t5_spark.core.windows import WindowSpec
from information_extraction_t5_spark.functions.text import normalize_answer
from information_extraction_t5_spark.operators.canonicalize import (
    canonical_entities,
)
from information_extraction_t5_spark.operators.extraction import (
    _model_stage_tasks,
    run_extraction,
)
from information_extraction_t5_spark.operators.linking import (
    alias_df,
    link_aliases,
)
from information_extraction_t5_spark.operators.windows import (
    assemble_documents,
)


@dataclass
class PipelineConfig:
    window: WindowSpec = field(default_factory=lambda: WindowSpec(
        max_size=700, window_overlap=0.2, max_windows=6,
        question="Qual o endereço?", use_sentence_id=True,
    ))
    extractor: str = "regex"
    model_name: Optional[str] = None
    model_cost_ms: float = 0.0   # emulated per-window model latency (bench)
    model_tasks_per_core: Optional[int] = None
    # model-stage repartition width per core; None = sized by model cost
    # in extraction._model_stage_tasks (x2 for the cost-0 regex stage, x4
    # otherwise)
    choose_question: str = "first"   # 'first' | 'random' | 'all' paraphrase
    question_seed: int = 13          # seed for the 'random' md5 draw
    link_predicates: List[str] = field(
        default_factory=lambda: ["form.endereco.estado"]
    )
    ground: bool = False          # fuzzy span grounding (inside extraction)
    fuzzy_link: bool = True       # LSH-blocked fuzzy name linking
    fuzzy_link_max_dist: int = 2  # levenshtein budget for blocked pairs
    fuzzy_hash: str = "md5"       # 'md5' = oracle-replayable signatures
    # (DuckDB computes the identical minhash); 'xxhash64' is ~5x cheaper
    # per hash for ultra-scale runs — the stage hashes each distinct
    # name once (min aggregates over its shingles, on every core), so md5
    # is the default and the whole pipeline stays cross-engine checkable
    # (identity matching is stricter than span matching; the reference's
    # span schedule allows 5 edits for long strings, highlights.py:96-106)
    subj_buckets: int = 64        # subj-hash write partitioning
    cc_driver_threshold: int = 1_000_000
    # max (undirected, raw) mention-graph edge rows the canonicalize stage
    # may collect for the driver-side union-find fast path (~200 MB at the
    # default against the session factory's 20g driver; see
    # canonicalize.connected_components_star).  0 forces the distributed
    # star contraction; size down with driver memory.


def extract_triples(spark: SparkSession, transcripts: DataFrame,
                    cfg: PipelineConfig) -> DataFrame:
    """transcripts -> candidate triples (pre alias-linking; SPAN_SCHEMA
    with cfg.ground) in one exchange + one Python stage.

    The model-stage task count is pinned as a REPARTITION_BY_NUM hash
    exchange on the *transcripts* (r7): the groupBy inside
    assemble_documents is then already clustered by conv_id (no second
    exchange), AQE honors the user-specified partition count (no
    byte-coalescing collapse of the model stage), and extraction runs
    narrow on the assembled documents."""
    target = _model_stage_tasks(transcripts, cfg.extractor,
                                cfg.model_cost_ms, cfg.model_tasks_per_core)
    docs = assemble_documents(transcripts.repartition(target, "conv_id"))
    return run_extraction(
        docs, cfg.window,
        extractor=cfg.extractor, model_name=cfg.model_name,
        model_cost_ms=cfg.model_cost_ms,
        choose_question=cfg.choose_question,
        question_seed=cfg.question_seed,
        emit="spans" if cfg.ground else "triples",
    )


def link_triples(triples: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Alias-link the objects of ``cfg.link_predicates`` (broadcast join)."""
    return link_aliases(
        triples, alias_df(triples.sparkSession),
        value_col="obj", out_col="obj",
        predicates=cfg.link_predicates, pred_col="pred",
    )


def _name_bands(triples: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """(val, id, band, band_key): the LSH band keys of each DISTINCT
    normalized person name, with its representative (min) conv id."""
    from information_extraction_t5_spark.operators.linking import (
        minhash_bands,
    )

    # one representative conv per distinct name: exact-equal names already
    # merge through the exact mention key, so the fuzzy stage only needs
    # edges between distinct surface forms (|convs| -> |distinct names|).
    # The names are hash-partitioned on a pinned width, which AQE keeps,
    # so the dedup and then the minhash aggregate share one stage on every
    # core: each distinct name is hashed once, not once per mention, and
    # not in the one task AQE coalesces the distinct names to otherwise.
    # Measured, 60k mentions on 4 vCPU, one-task row signature ->
    # this: 1 mention/name 23.6 -> 10.1 s; 10/name 4.64 -> 3.13 s;
    # 50/name 1.69 -> 1.55 s (hashing every mention inside the aggregate,
    # no dedup first: 9.2, 6.82 and 6.08 s).
    # Only this stage is pinned: a forced spread of the whole LSH chain
    # costs per-task scheduling in every downstream mini-stage (r3: 8.9s
    # vs 14.2s tail wall at local[32]).
    width = triples.sparkSession.sparkContext.defaultParallelism
    name_rep = (
        triples.filter(F.col("pred") == "form.nome_completo")
        .select(F.col("conv_id").alias("id"),
                normalize_answer(F.col("obj")).alias("val"))
        .repartition(width, "val")
        .groupBy("val")
        .agg(F.min("id").alias("id"))
    )
    # 4 bands x 4 hashes: bucket-match threshold ~Jaccard 0.7 — tight
    # enough that word-sharing names don't flood the candidate set, loose
    # enough to catch <=2-edit typos on 20+-char names.
    return minhash_bands(name_rep, "val", ["val", "id"], n_hashes=16,
                         bands=4, k=3, fast=(hash_fn != "md5"))


def fuzzy_name_edges(triples: DataFrame, max_dist: int = 3,
                     hash_fn: str = "md5") -> DataFrame:
    """Extra mention-mention edges from NEAR-duplicate person names.

    The scale-safe fuzzy path of the north star: minhash-LSH blocking over
    normalized names generates candidate pairs (equi-join on band buckets,
    never all-pairs), then an exact Levenshtein re-rank keeps pairs within
    the reference's distance budget (highlights.py:96-106 schedule's
    ceiling).  Output: (src, dst) conversation pairs.
    """
    from information_extraction_t5_spark.operators.linking import (
        bucket_pairs,
    )

    # carry_value (r7): name groups partition the convs, so each rep id
    # maps 1:1 to its name — riding the names through the bucket self-join
    # lets the Levenshtein verify run inline, with no value joins (edges
    # pinned by test_fuzzy_linking.test_carried_value_edges_match_rerank).
    # distinct_pairs=False: the consumer is connected components, which
    # is duplicate-insensitive — the cross-band dedup shuffle bought
    # nothing (the Levenshtein re-check on a few thousand candidate rows
    # is cheaper than the shuffle it saved)
    cand = bucket_pairs(_name_bands(triples, hash_fn), max_bucket=64,
                        carry_value=True, distinct_pairs=False)
    kept = (
        cand.filter(
            F.abs(F.length("val_a") - F.length("val_b")) <= max_dist
        )
        .filter(F.levenshtein("val_a", "val_b") <= max_dist)
    )
    return kept.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))


def canonicalize_subjects(triples: DataFrame,
                          cfg: Optional[PipelineConfig] = None) -> DataFrame:
    """Attach canonical subject entity ids.

    Mentions = conversations; blocking keys = exact CPF + normalized full
    name; optionally LSH-blocked near-duplicate names add fuzzy edges.
    Convs in one component collapse to one entity;
    subj = 'ent:' + min conv_id.
    """
    cfg = cfg or PipelineConfig()
    keys = (
        triples.filter(F.col("pred").isin("form.cpf", "form.nome_completo"))
        .select(
            "conv_id",
            F.concat(
                F.col("pred"), F.lit("="), normalize_answer(F.col("obj"))
            ).alias("mention_key"),
        )
    )
    extra = (
        fuzzy_name_edges(triples, cfg.fuzzy_link_max_dist, cfg.fuzzy_hash)
        if cfg.fuzzy_link else None
    )
    # identity_rows=False (r7): the mapping carries only non-identity
    # labels (the coalesce below reconstructs identity), bounded by the
    # edge-endpoint count — on the CC driver path it is a filter over a
    # local relation with accurate stats, so this left join
    # auto-broadcasts instead of shuffling every triple (SMJ measured
    # 0.85s vs 0.42s broadcast at 120k convs)
    mapping = canonical_entities(keys, "conv_id", "mention_key",
                                 extra_edges=extra,
                                 driver_threshold=cfg.cc_driver_threshold,
                                 identity_rows=False)
    return (
        triples.join(
            mapping.withColumnRenamed("mention", "conv_id"), "conv_id", "left"
        )
        .withColumn(
            "subj",
            F.concat(
                F.lit("ent:"),
                F.coalesce(F.col("canonical_id"), F.col("conv_id")),
            ),
        )
        .drop("canonical_id")
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: Optional[PipelineConfig] = None,
    catalog: Optional[Catalog] = None,
) -> DataFrame:
    """Full pipeline; with a Catalog, every stage is a resumable snapshot
    and the graph tables are materialized."""
    cfg = cfg or PipelineConfig()

    def build_triples() -> DataFrame:
        return link_triples(extract_triples(spark, transcripts, cfg), cfg)

    if catalog is None:
        # no snapshot store: still cut lineage after the triples so the
        # extraction UDF runs exactly once (downstream actions + the
        # connected-components loop would otherwise recompute it)
        return canonicalize_subjects(build_triples().localCheckpoint(), cfg)
    triples = catalog.stage("stage_triples", build_triples)
    final = catalog.stage(
        "stage_canonical",
        lambda: canonicalize_subjects(triples, cfg),
    )
    materialize_graph(final, catalog, cfg)
    return final


def materialize_graph(triples: DataFrame, catalog: Catalog,
                      cfg: PipelineConfig) -> None:
    """Node/edge tables partitioned by predicate and subj-hash bucket
    (Iceberg layout per north rule; parquet directories in the sandbox)."""
    edges = triples.withColumn(
        "subj_bucket",
        F.pmod(F.xxhash64("subj"), F.lit(cfg.subj_buckets)).cast("int"),
    )
    # two-level layout: pred prunes whole predicates, subj_bucket prunes
    # within a predicate for entity-centric reads (and bounds any single
    # output directory to ~1/buckets of a hot predicate's rows).  Clustered
    # on the partition columns first, so each directory gets ONE file:
    # unclustered, every task writes a file into every directory it has
    # rows for, and creating files dominates the write
    catalog.write(edges.repartition("pred", "subj_bucket"), "graph_edges",
                  partition_by=["pred", "subj_bucket"])
    nodes = (
        triples.select(F.col("subj").alias("node_id"))
        .union(triples.select(F.concat(F.lit("val:"), F.col("obj"))))
        .distinct()
    )
    catalog.write(nodes, "graph_nodes")
