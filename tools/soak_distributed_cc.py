"""Force-distributed connected-components soak (VERDICT r5 item 5).

Runs the sf0.1-scale KG pipeline with ``cc_driver_threshold=0`` — every
union-find fast path disabled, star contraction only — and reports wall
time plus rounds-to-convergence, proving the 10^12-edge-scale CC path at
bench scale rather than unit scale.  Results land in BENCH/notes_r6.md.

Usage: python tools/soak_distributed_cc.py [cpus] [convs]
"""
import logging
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    convs = int(sys.argv[2]) if len(sys.argv) > 2 else 12_000

    from information_extraction_t5_spark.data import synth
    from information_extraction_t5_spark.operators import canonicalize
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from information_extraction_t5_spark.session import get_spark

    spark = get_spark("cc-soak", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # connected_components_star logs one line per call: the path taken
    # and, distributed, the contraction rounds and last counters
    cc_log = []
    handler = logging.Handler(logging.INFO)
    handler.emit = lambda record: cc_log.append(record.getMessage())
    logger = logging.getLogger(canonicalize.__name__)
    logger.addHandler(handler)
    logger.setLevel(logging.INFO)

    cfg_fuzzy = PipelineConfig(fuzzy_hash="xxhash64", cc_driver_threshold=0)
    # warmup (JIT + python workers), small corpus, same code path
    run_pipeline(spark, synth.transcripts_df(spark, 100, partitions=2 * cpus),
                 cfg_fuzzy).count()

    transcripts = synth.transcripts_df(
        spark, convs, partitions=max(4 * cpus, 16)
    ).localCheckpoint(eager=True)

    cc_log.clear()
    t0 = time.time()
    n = run_pipeline(spark, transcripts, cfg_fuzzy).count()
    wall = time.time() - t0
    print(f"distributed-CC soak: convs={convs} cpus={cpus} "
          f"triples={n} wall={wall:.2f}s cc: {'; '.join(cc_log)}")

    # driver-path comparison run (default threshold) for the notes
    cc_log.clear()
    t0 = time.time()
    n2 = run_pipeline(spark, transcripts,
                      PipelineConfig(fuzzy_hash="xxhash64")).count()
    wall2 = time.time() - t0
    assert n == n2, f"distributed vs driver CC rows differ: {n} != {n2}"
    print(f"driver-CC comparison:  wall={wall2:.2f}s (same {n2} triples) "
          f"cc: {'; '.join(cc_log)}")


if __name__ == "__main__":
    main()
