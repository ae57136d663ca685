"""Canonicalization: connected components over mention-similarity edges.

Union-find expressed as iterative DataFrame joins (alternating large-star /
small-star style min-label propagation) — converges in O(log n) rounds on
real graphs, deterministic canonical id = min member id.  No GraphFrames
dependency; lineage is truncated every round with localCheckpoint so plans
don't snowball.  (SURVEY.md §4: custom logic, not a Catalyst rule.)
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) with component = min node id in the component.

    ``edges`` is undirected input (string ids).  Algorithm: keep a label per
    node (init = own id); each round every node adopts the min label in its
    closed neighborhood; stop when no label changes.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        # the edge set is re-joined every round: cut its lineage once so
        # upstream stages (extraction!) are never recomputed per iteration
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))

    for _ in range(max_iter):
        # neighbor labels: node <- min(label[b]) over edges (a=node, b)
        neighbor_min = (
            sym.join(labels.withColumnRenamed("node", "b"), on="b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (F.coalesce(F.col("nbr_component"), F.col("component"))
                 < F.col("component")).alias("_changed"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break

    return labels


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )


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


DEFAULT_DRIVER_THRESHOLD = 1_000_000


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = DEFAULT_DRIVER_THRESHOLD,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Converges in O(log n) rounds on ANY graph shape — min-label
    propagation needs O(diameter) rounds, which a long mention chain can
    make linear.  Deterministic: component id = min node id.

      large-star: every neighbor v > u re-points to min(N(u) + {u})
      small-star: every neighbor v <= u re-points to that minimum

    Small-graph fast path: each distributed round costs a handful of
    blocking jobs (localCheckpoint + convergence checksum) regardless of
    data size — on a mention graph of a few hundred thousand edges that
    fixed latency dominates.  When the UNDIRECTED input edge list is under
    ``driver_threshold`` rows, a driver-side union-find computes the
    identical labels in one collect + one parallelize (same min-id
    semantics; pinned by test_canonicalize_star parity tests).  The
    distributed contraction is the 10^12-scale path; set
    ``driver_threshold=0`` to force it.

    r7: the gate counts the raw (null/self filtered) input edge rows — it
    no longer pays the symmetrize-union + distinct shuffle before probing
    (the union-find neither needs both directions nor dedup, so the
    collect is half the bytes for the same graph), and the probe is a
    count over a lazily-checkpointed edge frame followed by a cache-read
    collect.  On the distributed fallback that same cached frame feeds the
    symmetrization, so the count job replaces the eager checkpoint the old
    path paid anyway — no extra pass at 10^12 scale.

    Driver-memory sizing: the fast path collects up to ``driver_threshold``
    (a, b) string tuples plus the union-find dict — roughly 150-250 bytes
    per edge of Python overhead, so the 1M default costs ~200 MB against
    the 20g driver the session factory configures (scale
    ``driver_threshold`` down with driver memory; plumbed through
    ``PipelineConfig.cc_driver_threshold`` so deployments size it without
    code changes).  Past ~1M edges the collect itself costs seconds and
    the distributed contraction wins regardless of memory.
    """
    flat = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        # computed once: the probe count materializes it, the driver-path
        # collect and the distributed symmetrization read the cache
        .localCheckpoint(eager=False)
    )

    if driver_threshold > 0 and flat.count() <= driver_threshold:
        probe = flat.collect()
        # schema mirrors the distributed path: node/component keep the
        # edge columns' type (string ids in practice, but not assumed)
        node_type = flat.schema["a"].dataType
        schema = T.StructType([
            T.StructField("node", node_type, False),
            T.StructField("component", node_type, False),
        ])
        labels = _driver_union_find([(r["a"], r["b"]) for r in probe])
        out = flat.sparkSession.createDataFrame(labels, schema)
        # createDataFrame yields an RDD-backed frame with UNKNOWN size
        # stats (Catalyst assumes huge -> downstream joins go sort-merge);
        # here the row count is known and bounded by 2 x driver_threshold,
        # so mark it broadcastable (r7)
        return F.broadcast(out)
    e = _symmetric(flat, "a", "b").localCheckpoint(eager=True)
    nodes = e.select(F.col("a").alias("node")).distinct() \
        .localCheckpoint(eager=True)

    def checksum(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).head()
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iter):
        # large-star
        nbr = e  # symmetric adjacency: rows (a, b) mean b in N(a)
        m = nbr.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            nbr.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
        )
        e = _symmetric(large, "x", "y").localCheckpoint(eager=True)

        # small-star over neighbors <= u
        small_adj = e.filter(F.col("b") <= F.col("a"))
        ms = small_adj.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        small = (
            small_adj.join(ms, "a")
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
            .union(ms.select(F.col("a").alias("x"), F.col("m").alias("y")))
            .filter(F.col("x") != F.col("y"))
        )
        e = _symmetric(small, "x", "y").localCheckpoint(eager=True)

        cur = checksum(e)
        if cur == prev:
            break
        prev = cur

    # after convergence every non-root points directly at its root
    labels = (
        e.filter(F.col("b") < F.col("a"))
        .groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("component"))
    )
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node",
            F.coalesce("component", F.col("node")).alias("component"),
        )
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
    # distributed path dedups inside _symmetric, and the driver-path
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
