"""Canonicalization: connected components over mention-similarity edges.

One algorithm, two executions of it: the alternating large-star /
small-star contraction (Kiveris et al., "Connected Components in MapReduce
and Beyond") converges in O(log n) rounds on any graph shape, and a
driver-side union-find labels small graphs in one collect.  Both give the
deterministic canonical id = min member id.  No GraphFrames dependency;
each distributed round ends in one localCheckpoint so plans don't
snowball.  (SURVEY.md §4: custom logic, not a Catalyst rule.)
"""
from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG = logging.getLogger(__name__)


def _driver_union_find(pairs) -> list:
    """Union-find over collected (a, b) pairs; root = min member id.
    Returns (node, component) tuples."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id wins the root — canonical id = min member
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def _adjacency(edges: DataFrame) -> DataFrame:
    """Symmetric, distinct ``(a, b)`` rows of undirected edges without
    NULLs or self-loops, hash-partitioned on ``a`` by ONE exchange: the
    distinct and any window on ``a`` reuse that partitioning."""
    a, b = F.col("a"), F.col("b")
    return (
        edges.filter(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.explode(F.array(
            F.struct(a.alias("a"), b.alias("b")),
            F.struct(b.alias("a"), a.alias("b")),
        )).alias("e"))
        .select("e.a", "e.b")
        .repartition("a")
        .distinct()
    )


def _star_state(edges: DataFrame):
    """Checkpointed contraction state and its two star-forest counters.

    Rows are ``_adjacency(edges)`` plus ``nb`` = min neighbour of ``a`` and
    ``m`` = min of its closed neighbourhood, computed before the checkpoint
    drops the partitioning.  Counters, observed on the checkpoint's job:
    ``large`` = rows where a non-root has a bigger neighbour (b > a,
    m < a); ``small`` = rows where a node has a second smaller neighbour
    (b < a, b != m).  Both are 0 exactly on a star forest centred on each
    component's min node.
    """
    a, b, m = F.col("a"), F.col("b"), F.col("m")
    obs = Observation()
    state = (
        _adjacency(edges)
        .withColumn("nb", F.min("b").over(Window.partitionBy("a")))
        .withColumn("m", F.least(F.col("nb"), a))
        .observe(
            obs,
            F.count(F.when((b > a) & (m < a), True)).alias("large"),
            F.count(F.when((b < a) & (b != m), True)).alias("small"),
        )
        .localCheckpoint(eager=True)
    )
    return state, obs.get


DEFAULT_DRIVER_THRESHOLD = 1_000_000


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 64,
    driver_threshold: int = DEFAULT_DRIVER_THRESHOLD,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    O(log n) rounds on ANY graph shape (min-label propagation needs
    O(diameter), which a long mention chain makes linear).  Deterministic:
    component id = min node id.

      large-star: every neighbor v > u re-points to min(N(u) + {u})
      small-star: every neighbor v <= u re-points to that minimum

    A round is one lazy plan with two hash exchanges on ``a``, written by
    ONE eager localCheckpoint whose observed counters (``_star_state``)
    decide convergence exactly: an input that already is a star forest
    runs no round.  Running out of ``max_iter`` raises ``RuntimeError``
    instead of returning wrong labels (64 is above the ~35 rounds
    docs/PLANS.md estimates at 6·10^10 nodes).  The labels are a narrow
    filter over the last checkpoint: each node has exactly one row with
    b == nb, and on a star forest its ``m`` is the component's min id.
    Each call logs one INFO line: the path, and the rounds and counters.

    Small-graph fast path: a distributed round costs a few blocking jobs
    whatever the data size, so when the raw (null/self filtered) input
    edge list is under ``driver_threshold`` rows, a driver-side union-find
    computes the identical labels from one count + one cache-read collect
    (parity pinned by test_canonicalize_star).  ``driver_threshold=0``
    forces the distributed contraction, the 10^12-scale path.  Driver
    memory: ~150-250 bytes of Python per collected edge, so the 1M default
    costs ~200 MB of the 20g driver the session factory configures; size
    it down with driver memory via ``PipelineConfig.cc_driver_threshold``.
    Past ~1M edges the collect itself costs seconds and the distributed
    contraction wins regardless of memory.
    """
    flat = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        # computed once: the probe count materializes it, the driver-path
        # collect and the first distributed state read the cache
        .localCheckpoint(eager=False)
    )

    if driver_threshold > 0 and flat.count() <= driver_threshold:
        probe = flat.collect()
        _LOG.info("connected components: path=driver edges=%d", len(probe))
        # schema mirrors the distributed path: node/component keep the
        # edge columns' type (string ids in practice, but not assumed)
        node_type = flat.schema["a"].dataType
        schema = T.StructType([
            T.StructField("node", node_type, False),
            T.StructField("component", node_type, False),
        ])
        labels = _driver_union_find([(r["a"], r["b"]) for r in probe])
        # through Arrow: a local relation, where a Python list would be
        # pickled through a Python-worker task inside the consuming join
        table = pa.table({"node": [n for n, _ in labels],
                          "component": [c for _, c in labels]})
        out = flat.sparkSession.createDataFrame(table, schema)
        # the row count is bounded by 2 x driver_threshold: keep the join
        # broadcast whatever the size estimate (r7)
        return F.broadcast(out)

    a, b = F.col("a"), F.col("b")
    state, seen = _star_state(flat)
    rounds = 0
    while (seen["large"] or seen["small"]) and rounds < max_iter:
        # large-star: every neighbour b > a re-points to m(a); exchange 1
        # symmetrizes and dedups, keyed on a for the small-star window
        large = _adjacency(
            state.filter(b > a).select(b.alias("a"), F.col("m").alias("b"))
        )
        # small-star: a and every neighbour b < a re-point to ms, the min
        # of those neighbours (ms < a on every row, so least(ms, a) = ms);
        # the row with b == ms carries a's own edge
        ms = F.min("b").over(Window.partitionBy("a"))
        small = (
            large.filter(b < a).withColumn("ms", ms)
            .select(F.when(b == F.col("ms"), a).otherwise(b).alias("a"),
                    F.col("ms").alias("b"))
        )
        state, seen = _star_state(small)  # exchange 2 + the checkpoint
        rounds += 1
    _LOG.info(
        "connected components: path=distributed rounds=%d large=%d small=%d",
        rounds, seen["large"], seen["small"],
    )
    if seen["large"] or seen["small"]:
        raise RuntimeError(
            f"connected_components_star did not converge in max_iter="
            f"{max_iter} rounds: large={seen['large']}, "
            f"small={seen['small']} rows still off a star forest"
        )
    return state.filter(b == F.col("nb")).select(
        a.alias("node"), F.col("m").alias("component")
    )


def canonical_entities(
    mentions: DataFrame,
    mention_col: str = "conv_id",
    key_col: str = "mention_key",
    extra_edges: DataFrame = None,
    driver_threshold: int = DEFAULT_DRIVER_THRESHOLD,
    identity_rows: bool = True,
) -> DataFrame:
    """(mention, canonical_id): mentions sharing any key are one entity.

    Builds the bipartite mention-key edges, collapses keys to their min
    mention (one shuffle), then runs components on the mention-mention
    projection.  Keys are blocking keys (exact cpf, normalized name,
    LSH bucket, ...) produced upstream.  ``extra_edges`` (src, dst) adds
    direct mention-mention links (e.g. fuzzy-matched names).

    ``identity_rows=False`` (r7) returns ONLY non-identity mappings
    (canonical_id != mention) — consumers that left-join and
    coalesce(canonical_id, mention) get the identical result while the
    frame shrinks from |mentions| to at most the edge-endpoint count
    (bounded by the CC driver threshold on the fast path).  On that path
    the mapping is a filter over a LOCAL relation with accurate size
    stats, so the consumer's join auto-broadcasts; the distributed path
    keeps unknown stats and conservatively stays sort-merge.
    """
    keys = mentions.select(
        F.col(mention_col).alias("mention"), F.col(key_col).alias("key")
    )
    if identity_rows:
        # two consumers across two jobs (edge build inside the CC probe
        # job, all_mentions inside the final action): compute once,
        # lazily so it folds into the first job
        keys = keys.localCheckpoint(eager=False)
    # project bipartite graph onto mentions: every key links its mentions
    # to the key's min mention (star, not clique: |edges| = |key rows|).
    # ONE exchange (late r7): rep = min(mention) as a window aggregate on
    # the raw (mention, key) rows — the former chain paid three (pairs
    # distinct, groupBy-key rep, join-back on key).  Equivalent because:
    # NULL keys are dropped explicitly (the old equi-join could never
    # match them, so they produced no edges); duplicate (mention, key)
    # rows emit duplicate edges — union-find is insensitive, the
    # distributed path dedups inside _adjacency, and the driver-path
    # threshold count stays conservative (over-counts only).  The window
    # buffers each key group in a spillable buffer, so a hot key stays
    # memory-safe — same bound as the old groupBy.  NULL mentions are
    # dropped before the window: they could never become an edge (min
    # ignores NULLs, and mention != rep is NULL for them).
    edges = (
        keys.filter(F.col("key").isNotNull() & F.col("mention").isNotNull())
        .withColumn("rep", F.min("mention").over(Window.partitionBy("key")))
        .filter(F.col("mention") != F.col("rep"))
        .select(F.col("mention").alias("src"), F.col("rep").alias("dst"))
    )
    if extra_edges is not None:
        edges = edges.unionByName(
            extra_edges.select(
                F.col("src").cast("string").alias("src"),
                F.col("dst").cast("string").alias("dst"),
            )
        )
    # star contraction: O(log n) rounds on any shape (mention CHAINS across
    # shared keys would make min-label propagation O(chain length))
    comps = connected_components_star(edges, driver_threshold=driver_threshold)
    if not identity_rows:
        # both CC paths label every edge endpoint; mentions outside any
        # edge are identity by definition and the caller's coalesce
        # reconstructs them — skipping the all_mentions distinct + union
        # + left join entirely
        return comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("mention"),
            F.col("component").alias("canonical_id"),
        )
    all_mentions = keys.select("mention").distinct()
    if extra_edges is not None:
        # mentions reachable only through extra edges: every endpoint of
        # every edge is already a node in ``comps`` (both CC paths label
        # all endpoints), so union THAT instead of re-deriving the edge
        # frame — re-referencing ``extra_edges`` here made the final
        # action re-execute the whole fuzzy-LSH chain a second time
        # (~2s of sequential floor per run at bench scale; r6)
        all_mentions = (
            all_mentions.union(comps.select(F.col("node").alias("mention")))
            .distinct()
        )
    return (
        all_mentions.join(
            comps.withColumnRenamed("node", "mention"), "mention", "left"
        )
        .select(
            "mention",
            F.coalesce(F.col("component"), F.col("mention")).alias(
                "canonical_id"
            ),
        )
    )
