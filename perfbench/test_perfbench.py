"""Tests of the benchmark itself, on a tiny input.

    python3 -m pytest perfbench -q
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402

TINY = 40

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def run_cli(workload: str, trace: int) -> dict:
    """The command line at TINY conversations; returns the last stdout line."""
    code = (
        "import sys; sys.path.insert(0, {here!r}); import run\n"
        "run.WORKLOADS[{w!r}]['convs'] = {n}\n"
        "sys.exit(run.main(['--workload', {w!r}, '--seed', '3',"
        " '--seconds', '1', '--trace', '{t}']))\n"
    ).format(here=HERE, w=workload, n=TINY, t=trace)
    proc = subprocess.run([sys.executable, "-c", code], cwd=run.ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"),
                                           (1, "per_layer")])
def test_every_named_metric_printed_with_unit(trace, section):
    res = run_cli("kg_floor", trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCHMARK[section]}
    got = {k: m["unit"] for k, m in res["metrics"].items()}
    assert got == want
    assert all(isinstance(m["value"], (int, float))
               for m in res["metrics"].values())


def test_per_layer_table_matches_benchmark_json():
    assert [(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]] == \
        list(layers.PER_LAYER.items())
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_floor",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = run.start_spark(str(tmp_path_factory.mktemp("work")))
    yield session
    run.stop_spark(session)


def test_corrupted_output_fails_verification(spark):
    from pyspark.sql import functions as F

    from information_extraction_t5_spark.pipeline import run_pipeline

    transcripts = run.make_input(spark, TINY, seed=5)
    gold = run.golden_set(TINY, 5)
    cfg = run.pipeline_config("kg_floor")
    ref, p, r = run.reference_run(spark, transcripts, gold, cfg)
    assert p >= run.MIN_PRECISION and r >= run.MIN_RECALL

    out = run_pipeline(spark, transcripts, cfg).localCheckpoint()
    assert run.digest(out) == ref
    victim = out.orderBy("conv_id", "pred", "obj").first()
    hit = ((F.col("conv_id") == victim["conv_id"])
           & (F.col("pred") == victim["pred"])
           & (F.col("obj") == victim["obj"]))
    wrong_obj = out.withColumn(
        "obj", F.when(hit, F.lit("corrupted")).otherwise(F.col("obj")))
    dropped = out.filter(~hit)
    for bad in (wrong_obj, dropped):
        assert run.digest(bad) != ref
    assert run.precision_recall(wrong_obj, gold)[0] < 1.0
    assert run.precision_recall(dropped, gold)[1] < 1.0


def _input_digest(df):
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)),
                 F.sum(F.xxhash64(*sorted(df.columns)).cast(
                     "decimal(38,0)"))).collect()[0]
    return int(row[0]), str(row[1])


def test_seed_changes_input_and_same_seed_repeats(spark):
    a = _input_digest(run.make_input(spark, TINY, seed=1))
    again = _input_digest(run.make_input(spark, TINY, seed=1))
    b = _input_digest(run.make_input(spark, TINY, seed=2))
    assert a == again
    assert a != b


def test_workloads_agree_on_output(spark):
    """The driver union-find and the distributed contraction give the same
    graph rows at one seed."""
    transcripts = run.make_input(spark, TINY, seed=7)
    gold = run.golden_set(TINY, 7)
    digests = {w: run.reference_run(spark, transcripts, gold,
                                    run.pipeline_config(w))[0]
               for w in run.WORKLOADS}
    assert len(set(digests.values())) == 1, digests


def test_missing_layer_function_drops_metrics_not_the_run(spark, monkeypatch):
    from information_extraction_t5_spark import pipeline
    from information_extraction_t5_spark.operators import extraction

    monkeypatch.delattr(pipeline, "fuzzy_name_edges")
    monkeypatch.delattr(extraction, "top1_prereduce_pdf")
    transcripts = run.make_input(spark, TINY, seed=9)
    cfg = run.pipeline_config("kg_floor")
    metrics = {}
    tracer = layers.Tracer(spark.sparkContext)
    assert layers.traced_chain(spark, transcripts, cfg, tracer,
                               metrics) is None
    assert metrics == {} and tracer.spans == {}
    assert layers.kernel_metrics(spark, 9, cfg) == {}
