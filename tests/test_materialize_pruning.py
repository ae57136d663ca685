"""Graph materialization: predicate partitioning must prune at read time."""
import glob
import io
import sys

from pyspark.sql import functions as F

from information_extraction_t5_spark.catalog import Catalog
from information_extraction_t5_spark.data import synth
from information_extraction_t5_spark.pipeline import (
    PipelineConfig,
    materialize_graph,
    run_pipeline,
)


def _plan(df) -> str:
    buf, old = io.StringIO(), sys.stdout
    sys.stdout = buf
    df.explain("formatted")
    sys.stdout = old
    return buf.getvalue()


def test_edges_partition_pruning(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    triples = run_pipeline(spark, synth.transcripts_df(spark, 12))
    materialize_graph(triples, cat, PipelineConfig())

    edges = cat.read("graph_edges")
    one_pred = edges.filter(F.col("pred") == "form.cpf")
    plan = _plan(one_pred)
    assert "PartitionFilters" in plan
    assert "form.cpf" in plan  # the filter reached the scan's partitioning
    got = {r["pred"] for r in one_pred.select("pred").distinct().collect()}
    assert got == {"form.cpf"}

    # lineage sidecar carries skew telemetry
    lin = cat.lineage("graph_edges")
    assert lin["partition_by"] == ["pred", "subj_bucket"]
    assert lin["partition_rows_max"] >= lin["partition_rows_min"]

    # subj buckets present for co-located downstream joins
    assert "subj_bucket" in edges.columns
    n_buckets = edges.select("subj_bucket").distinct().count()
    assert 1 <= n_buckets <= PipelineConfig().subj_buckets

    # the write is clustered on the layout: one file per leaf directory
    leaves = glob.glob(f"{tmp_path}/wh/graph_edges/pred=*/subj_bucket=*")
    assert leaves
    for leaf in leaves:
        assert len(glob.glob(f"{leaf}/*.parquet")) == 1, leaf


def test_edges_subj_bucket_pruning(spark, tmp_path):
    """A subj_bucket-filtered read must prune FILES, not post-filter rows
    (north-rule layout: edges partitioned by predicate AND subj-hash)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    triples = run_pipeline(spark, synth.transcripts_df(spark, 12))
    materialize_graph(triples, cat, PipelineConfig())

    edges = cat.read("graph_edges")
    buckets = sorted(
        r["subj_bucket"]
        for r in edges.select("subj_bucket").distinct().collect()
    )
    assert len(buckets) >= 2  # layout actually splits by bucket
    target = buckets[0]
    one = edges.filter(
        (F.col("pred") == "form.cpf") & (F.col("subj_bucket") == target)
    )
    plan = _plan(one)
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf_lines, plan
    # BOTH layout keys land in the scan's partition filters (file pruning),
    # not in a post-scan Filter node
    assert any("pred" in ln and "form.cpf" in ln for ln in pf_lines), pf_lines
    assert any("subj_bucket" in ln for ln in pf_lines), pf_lines
    # physical proof: the pruned scan returns exactly the leaf dir's rows
    leaf = (
        f"{tmp_path}/wh/graph_edges/pred=form.cpf/subj_bucket={target}"
    )
    leaf_rows = spark.read.parquet(leaf).count()
    assert leaf_rows > 0
    assert one.count() == leaf_rows
