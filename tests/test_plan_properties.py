"""Physical-plan regression guards: the perf-critical plan properties
verified in docs/PLANS.md must not silently regress."""
import io
import re
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

from information_extraction_t5_spark.operators.linking import (
    alias_df,
    link_aliases,
)


def _plan(df) -> str:
    buf, old = io.StringIO(), sys.stdout
    sys.stdout = buf
    df.explain("formatted")
    sys.stdout = old
    return buf.getvalue()


def _nodes(plan: str) -> Counter:
    """Operator names from the numbered details of a formatted plan."""
    return Counter(re.findall(r"^\(\d+\) (\w+)", plan, re.MULTILINE))


def test_alias_link_is_broadcast_hash_join(spark):
    df = spark.createDataFrame(
        [("form.endereco.estado", "São Paulo")] * 10, "pred string, obj string"
    )
    plan = _plan(link_aliases(df, alias_df(spark),
                              predicates=["form.endereco.estado"]))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_parquet_scan_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    plan = _plan(df)
    assert "EqualTo(o_orderstatus,F)" in plan      # filter reached the scan
    assert "o_totalprice" not in plan               # column pruned


def test_registry_join_broadcasts(spark):
    from information_extraction_t5_spark.operators.extraction import (
        expand_questions,
        registry_df,
    )

    windows = spark.createDataFrame(
        [("c1", 0, "texto", 0)],
        "conv_id string, window_id int, window_text string, "
        "window_offset int",
    )
    plan = _plan(expand_questions(windows, registry_df(spark)))
    assert "BroadcastExchange" in plan


def test_group_keys_plan_has_no_python(spark):
    """with_group_keys must stay whole-stage-codegen: no BatchEvalPython
    (the r1 UDF) anywhere in the plan."""
    from information_extraction_t5_spark.operators.postprocess import (
        with_group_keys,
    )

    df = spark.createDataFrame(
        [("form.nome_2*",), ("form.endereco~cep",)], "example_id string"
    )
    plan = _plan(with_group_keys(df))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_embedding_dedup_is_blocked_not_cartesian(spark):
    """The default embedding near-dup path must join on (table, bucket) —
    never an unconditioned self-join (the r1 scale-killer)."""
    from information_extraction_t5_spark.operators.dedup import (
        embedding_dedup_pairs,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, -0.5, float(i % 5)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(embedding_dedup_pairs(vecs, "vec_id", "embedding"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_model_stage_parallelism_survives_aqe(spark):
    """r1's hardest-won fix: AQE byte-coalescing must NOT collapse the
    extraction (model) stage to one task.  r7 shape: ONE user-pinned
    (REPARTITION_BY_NUM) hash exchange on conv_id feeds assembly AND the
    model stage — guard the exchange count, the pin, and the runtime
    partition spread of the stage output."""
    from information_extraction_t5_spark.data import synth
    from information_extraction_t5_spark.operators.extraction import (
        _model_stage_tasks,
    )
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        extract_triples,
    )

    cfg = PipelineConfig()
    transcripts = synth.transcripts_df(spark, 40)
    scored = extract_triples(spark, transcripts, cfg)

    plan = _plan(scored)
    # exactly one exchange, user-pinned so AQE cannot byte-coalesce it
    assert plan.count("Exchange (") == 1
    assert "REPARTITION_BY_NUM" in plan

    n_parts = (
        scored.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    # the 40 convs occupy exactly the hash partitions Spark's own hash
    # assigns them at the pinned width, whatever the host's core count; a
    # byte-coalescing collapse (1-2 partitions, the r1 failure mode) would
    # not
    width = _model_stage_tasks(transcripts, cfg.extractor, cfg.model_cost_ms,
                               cfg.model_tasks_per_core)
    want = (
        transcripts.select(F.pmod(F.hash("conv_id"), F.lit(width)).alias("p"))
        .distinct().count()
    )
    assert want > 2
    assert n_parts == want, (
        f"model stage ran in {n_parts} partitions; the {width}-way hash "
        f"spread of the 40 convs occupies {want}"
    )


def test_model_stage_width_follows_model_cost(spark):
    """x2 tasks per core for the cost-0 regex stage, x4 once the stage
    carries model cost; an explicit tasks-per-core wins."""
    from information_extraction_t5_spark.operators.extraction import (
        _model_stage_tasks,
    )

    df = spark.range(1)
    cores = spark.sparkContext.defaultParallelism
    assert _model_stage_tasks(df, "regex", 0.0) == max(2 * cores, 8)
    assert _model_stage_tasks(df, "regex", 30.0) == max(4 * cores, 8)
    assert _model_stage_tasks(df, "seq2seq", 0.0) == max(4 * cores, 8)
    assert _model_stage_tasks(df, "regex", 0.0, 3) == max(3 * cores, 8)


class _Staged(Exception):
    pass


@pytest.mark.parametrize("ground", [False, True])
def test_stage_triples_plan_is_one_exchange_one_python_stage(
        spark, tmp_path, ground):
    """The catalog path stages exactly the fused plan: one pinned shuffle,
    one extraction mapInPandas (spans too when grounding), no top-1
    Window; alias linking adds only a broadcast join."""
    from information_extraction_t5_spark.catalog import Catalog
    from information_extraction_t5_spark.data import synth
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        extract_triples,
        run_pipeline,
    )

    cfg = PipelineConfig(ground=ground)
    transcripts = synth.transcripts_df(spark, 6).localCheckpoint()
    plans = {}

    def stage(name, build, **_kw):
        plans[name] = _plan(build())
        raise _Staged  # the first stage's plan is all this test needs

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.stage = stage
    with pytest.raises(_Staged):
        run_pipeline(spark, transcripts, cfg, catalog=cat)
    assert list(plans) == ["stage_triples"]

    staged = _nodes(plans["stage_triples"])
    assert staged["Exchange"] == 1
    assert "REPARTITION_BY_NUM" in plans["stage_triples"]
    assert staged["MapInPandas"] == 1
    assert "Window" not in staged
    added = staged - _nodes(_plan(extract_triples(spark, transcripts, cfg)))
    assert added["BroadcastExchange"] == 1
    assert added["BroadcastHashJoin"] == 1
    # the alias table is an Arrow-built local relation (LocalTableScan)
    assert set(added) <= {"BroadcastExchange", "BroadcastHashJoin",
                          "Project", "Filter", "LocalTableScan"}, added


def test_squad_conversion_plan_is_broadcast_and_python_free(spark):
    """R1->R2 conversion (r5): the qa plan must broadcast (tiny spec — a
    BroadcastNestedLoopJoin cross is correct; a CartesianProduct is not),
    the windows-answers join must hash on the doc key, and answer
    construction must stay codegen'd (no BatchEvalPython — the only
    Python stage is the parity-pinned window kernel's mapInPandas)."""
    from information_extraction_t5_spark.core.windows import WindowSpec
    from information_extraction_t5_spark.data import synth
    from information_extraction_t5_spark.operators.windows import (
        assemble_documents,
    )
    from information_extraction_t5_spark.sources.convert import (
        LARGEST_QUESTION,
        documents_to_qa_windows,
    )

    docs = assemble_documents(synth.transcripts_df(spark, 10)).select(
        F.col("conv_id").alias("doc_id"), "text",
        F.create_map(F.lit("cpf"), F.lit("000.000.000-11")).alias("fields"),
        F.struct(
            *[
                F.lit(None).cast("string").alias(c)
                for c in ["logradouro", "numero", "complemento", "bairro",
                          "cidade", "estado", "cep"]
            ]
        ).alias("endereco"),
    )
    plan = _plan(documents_to_qa_windows(
        docs,
        spec=WindowSpec(200, 0.2, 2, LARGEST_QUESTION, False),
        type_names=["form.cpf"], project="form",
    ))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the broadcast qa-spec cross
