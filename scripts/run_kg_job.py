#!/usr/bin/env python
"""spark-submit entry point for the KG-construction job.

Reads transcripts (an Iceberg/parquet table, or ``synth:N`` for the
deterministic corpus), runs the checkpointed pipeline against a warehouse,
and prints per-stage lineage.  A killed run re-submitted with the same
warehouse resumes from the last committed snapshot.
"""
import argparse
import json
import time

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="table/path of transcripts, or synth:N")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--ground", action="store_true")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("kg-construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from information_extraction_t5_spark.catalog import Catalog
    from information_extraction_t5_spark.data import synth
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    if args.input.startswith("synth:"):
        transcripts = synth.transcripts_df(
            spark, int(args.input.split(":", 1)[1])
        )
    elif "/" in args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = spark.read.table(args.input)

    catalog = Catalog(spark, args.warehouse)
    cfg = PipelineConfig(ground=args.ground)

    t0 = time.time()
    triples = run_pipeline(spark, transcripts, cfg, catalog=catalog)
    n = triples.count()
    wall = time.time() - t0

    report = {
        "triples": n,
        "seconds": round(wall, 2),
        "triples_per_sec": round(n / wall, 2),
        "stages": {
            name: catalog.lineage(name)
            for name in ("stage_triples", "stage_canonical",
                         "graph_edges", "graph_nodes")
            if catalog.exists(name)
        },
    }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
