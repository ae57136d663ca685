"""Skew handling: a pathological conversation must not break or dominate."""
import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from information_extraction_t5_spark.data import synth
from information_extraction_t5_spark.pipeline import PipelineConfig, run_pipeline


def test_giant_conversation_bounded_by_max_windows(spark):
    """One conversation 1000x longer than its peers: max_windows caps the
    per-conversation extraction cost (reference skew bound,
    context.py:171,339) and the pipeline still extracts its fields."""
    normal = synth.transcripts_pdf(6)
    filler = [
        {
            "conv_id": "conv_giant", "turn_idx": i, "role": "user",
            "text": f"linha de enchimento numero {i} sem conteudo relevante",
            "tool": None,
            "ts": dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(seconds=i),
        }
        for i in range(5000)
    ]
    # plant one extractable field at the START so a capped window sees it
    filler[0]["text"] = "Nome Completo PESSOA GIGANTE DA SILVA"
    giant = pd.DataFrame(filler)
    t = spark.createDataFrame(
        pd.concat([normal, giant], ignore_index=True),
        synth.TRANSCRIPTS_SCHEMA,
    )
    cfg = PipelineConfig()
    triples = run_pipeline(spark, t, cfg)
    by_conv = {
        r["conv_id"]: r["n"]
        for r in triples.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # normal conversations fully extracted
    assert all(by_conv.get(f"conv_{i:06d}", 0) >= 10 for i in range(6))
    # the giant yields its one planted field, not an unbounded blow-up
    giant_rows = triples.filter(F.col("conv_id") == "conv_giant").collect()
    assert any(
        r["pred"] == "form.nome_completo"
        and r["obj"] == "PESSOA GIGANTE DA SILVA"
        for r in giant_rows
    )
    # window cap held: no window_id beyond the configured max
    assert all(r["window_id"] < cfg.window.max_windows for r in giant_rows)


def test_hot_entity_linking_bounded(spark):
    """A planted hot entity (VERDICT r5 item 6), both skew shapes:

    (a) ~30% of mentions carry the SAME exact name — the fuzzy stage's
        groupBy(name)->min(id) collapses them to ONE distinct-name row
        before any LSH work, and the exact mention key makes a star the
        distributed CC contracts in one round; asserts all hot convs
        land in one canonical entity with cc_driver_threshold=0 (forced
        distributed path).
    (b) a flood of NEAR-IDENTICAL distinct name variants — their shared
        LSH buckets exceed max_bucket and are dropped BEFORE the
        quadratic self-join; asserts the capped candidate-pair count is
        orders of magnitude below the uncapped all-pairs explosion
        (the 100 TB bound: per-bucket work is O(max_bucket^2), never
        O(|hot family|^2))."""
    from information_extraction_t5_spark.operators.canonicalize import (
        canonical_entities,
    )
    from information_extraction_t5_spark.operators.linking import (
        bucket_pairs,
        lsh_buckets,
    )

    # --- shape (a): exact-duplicate hot name over 30% of mentions ------
    n, hot = 2000, 600
    rows = []
    for i in range(n):
        name = ("nome=HOT PERSON DA SILVA" if i < hot
                else f"nome=PESSOA {i:06d} COMUM")
        rows.append((f"conv_{i:06d}", name))
    mentions = spark.createDataFrame(rows, ["conv_id", "mention_key"])
    mapping = canonical_entities(
        mentions, "conv_id", "mention_key", driver_threshold=0
    )
    canon = {
        r["mention"]: r["canonical_id"] for r in mapping.collect()
    }
    hot_ids = {canon[f"conv_{i:06d}"] for i in range(hot)}
    assert hot_ids == {"conv_000000"}  # one entity, min-id rep
    cold_ids = {canon[f"conv_{i:06d}"] for i in range(hot, n)}
    assert len(cold_ids) == n - hot   # no accidental merges

    # --- shape (b): near-identical variants flood one bucket family ----
    base = "maria aparecida dos santos oliveira"
    variants = [
        (i, base[:j] + c + base[j + 1:])
        for i, (j, c) in enumerate(
            (j, c) for j in range(len(base)) for c in "abcdefgh"
        )
    ][:256]
    names = spark.createDataFrame(variants, ["id", "name"])
    buckets = lsh_buckets(names, "id", "name", n_hashes=16, bands=4, k=3)
    capped = bucket_pairs(buckets, max_bucket=16).count()
    uncapped = bucket_pairs(buckets, max_bucket=None).count()
    # all-pairs would be ~256^2/2 = 32k: the variants are near-identical,
    # so uncapped LSH puts most of them in shared buckets
    assert uncapped > 10_000
    # capped: surviving buckets have <= 16 members -> per-bucket work is
    # C(16,2); the hot family's mega-buckets are dropped entirely
    assert capped < uncapped / 10
    assert capped < 5_000


def test_ivf_cell_join_aqe_skew_split(spark):
    """A deliberately dense IVF cell (≈80% of right rows) must be split by
    AQE's skew-join handling, not processed as one straggler task
    (VERDICT r2 item 4).  Thresholds are lowered so the local-mode data
    crosses them; on a real cluster the defaults (256MB) play the same
    role.  Asserts the executed adaptive plan marked the join skew=true."""
    import numpy as np

    from information_extraction_t5_spark.operators.similarity import (
        ivf_knn_join,
    )

    dim = 8
    rng = np.random.RandomState(7)
    centroids = [
        [1.0 if j == i else 0.0 for j in range(dim)] for i in range(4)
    ]

    def near(cell, n, start):
        base = np.array(centroids[cell])
        vecs = base + rng.normal(0, 0.05, size=(n, dim))
        return [
            (start + i, [float(x) for x in vecs[i]]) for i in range(n)
        ]

    # 80% of the right side lands in cell 0
    right_rows = (near(0, 8000, 0) + near(1, 700, 10000)
                  + near(2, 700, 20000) + near(3, 600, 30000))
    left_rows = near(0, 150, 50000) + near(1, 50, 60000)
    right = spark.createDataFrame(
        right_rows, "vec_id bigint, embedding array<double>"
    )
    left = spark.createDataFrame(
        left_rows, "vec_id bigint, embedding array<double>"
    )

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16k",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        out = ivf_knn_join(left, right, centroids, k=3, n_probe=1)
        rows = out.collect()  # materialize -> AQE finalizes the plan
        assert len(rows) == 3 * len(left_rows)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
