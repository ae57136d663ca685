"""Star-contraction connected components: the distributed contraction and
the driver union-find fast path vs union-find ground truth."""
import logging
import random

import pytest

from information_extraction_t5_spark.operators import canonicalize
from information_extraction_t5_spark.operators.canonicalize import (
    canonical_entities,
    connected_components_star,
)


def _truth(edges_py):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges_py:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    comps = {}
    for n in list(parent):
        comps.setdefault(find(n), []).append(n)
    for root, members in comps.items():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def _labels(df, **kw):
    return {r["node"]: r["component"]
            for r in connected_components_star(df, **kw).collect()}


@pytest.mark.parametrize("case", ["path", "random", "mix"])
def test_star_cc_matches_union_find(spark, case):
    if case == "path":
        edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(60)]
    elif case == "random":
        r = random.Random(5)
        edges = [
            (f"v{r.randint(0, 199):03d}", f"v{r.randint(0, 199):03d}")
            for _ in range(150)
        ]
        edges = [e for e in edges if e[0] != e[1]]
    else:
        edges = [("a", "hub"), ("b", "hub"), ("c", "hub"),
                 ("x1", "x2"), ("x2", "x3"), ("x3", "x4"), ("q", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    assert _labels(df) == _truth(edges)


def test_distributed_star_moderate_scale(spark):
    """Forced-distributed star contraction at moderate scale (VERDICT r5
    item 5; bench-scale twin: tools/soak_distributed_cc.py): a 512-node
    chain (log-round stressor), a 3000-edge hot star (skew stressor) and
    10k random edges, driver_threshold=0 — must converge to union-find
    truth through star contraction alone."""
    r = random.Random(11)
    edges = [(f"c{i:05d}", f"c{i + 1:05d}") for i in range(512)]
    edges += [(f"h{r.randint(0, 4999):05d}", "hub") for _ in range(3000)]
    edges += [
        (f"r{r.randint(0, 9999):05d}", f"r{r.randint(0, 9999):05d}")
        for _ in range(10000)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "src string, dst string")
    assert _labels(df, driver_threshold=0) == _truth(edges)


def test_driver_and_distributed_agree_on_shallow_graph(spark):
    edges = [("m1", "m2"), ("m2", "m3"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    assert _labels(df) == _labels(df, driver_threshold=0) == _truth(edges)


def test_running_out_of_rounds_raises(spark):
    """A 2,000-node path with shuffled ids needs ~9 contraction rounds:
    stopping earlier must raise, never return the partial labels."""
    ids = list(range(2000))
    random.Random(7).shuffle(ids)
    edges = [(f"p{x:05d}", f"p{y:05d}") for x, y in zip(ids, ids[1:])]
    df = spark.createDataFrame(edges, "src string, dst string")
    for max_iter in (1, 2, 3):
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components_star(df, driver_threshold=0,
                                      max_iter=max_iter)
    assert _labels(df, driver_threshold=0) == _truth(edges)


@pytest.mark.parametrize("hub, rounds", [("a0", 0), ("z9", 1)])
def test_star_shaped_input_rounds(spark, caplog, hub, rounds):
    """A star centred on its min node (plus an isolated pair) already is a
    star forest: both counters are 0 and no round runs.  Centred on its
    max node it is not (only the ``small`` counter sees it): one round."""
    edges = [(hub, f"b{i}") for i in range(5)] + [("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    caplog.set_level(logging.INFO, logger=canonicalize.__name__)
    assert _labels(df, driver_threshold=0) == _truth(edges)
    assert f"path=distributed rounds={rounds} large=0 small=0" in caplog.text


def test_distributed_labels_are_a_filter_over_the_checkpoint(spark):
    """The labels read the last round's checkpoint through a narrow
    filter: no node frame, aggregate, join or exchange after it."""
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(30)]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = connected_components_star(df, driver_threshold=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    for op in ("Exchange", "Join", "Aggregate", "Window"):
        assert op not in plan, plan


def test_duplicate_and_reversed_edges(spark):
    """Duplicate rows and both directions of every edge change no label on
    either path."""
    r = random.Random(3)
    edges = [(f"v{r.randint(0, 59):02d}", f"v{r.randint(0, 59):02d}")
             for _ in range(50)]
    edges = [e for e in edges if e[0] != e[1]]
    noisy = edges + [(b, a) for a, b in edges] + edges[:20]
    df = spark.createDataFrame(noisy, "src string, dst string")
    assert _labels(df) == _labels(df, driver_threshold=0) == _truth(edges)


def test_canonical_entities_null_keys_and_duplicates(spark):
    """Invariants of the window-min edge build (late r7, one exchange):

    - rows with a NULL mention_key must produce NO edges (the former
      join-on-key form could never match NULLs; a naive window partition
      would silently merge every NULL-key mention into one entity);
    - duplicate (mention, key) rows emit duplicate edges, which must not
      change any label (union-find is duplicate-insensitive).
    Checked on BOTH CC paths.
    """
    rows = [
        ("A", "k1"), ("B", "k1"), ("B", "k1"),   # duplicate pair row
        ("C", None), ("D", None),                # NULL keys: no link C-D
        ("E", "k2"),
    ]
    mentions = spark.createDataFrame(
        rows, "conv_id string, mention_key string")
    for threshold in (10**6, 0):                 # driver path, distributed
        got = {r["mention"]: r["canonical_id"]
               for r in canonical_entities(
                   mentions, driver_threshold=threshold).collect()}
        assert got["A"] == got["B"] == "A"
        assert got["C"] == "C" and got["D"] == "D"   # NOT merged via NULL
        assert got["E"] == "E"


def test_canonical_entities_chain_across_keys(spark):
    """A->k1<-B->k2<-C->k3<-D: a 4-mention chain through 3 shared keys
    must collapse to one entity (the adversarial case for min-label)."""
    mentions = spark.createDataFrame(
        [("A", "k1"), ("B", "k1"), ("B", "k2"), ("C", "k2"),
         ("C", "k3"), ("D", "k3"), ("E", "k9")],
        "conv_id string, mention_key string",
    )
    got = {r["mention"]: r["canonical_id"]
           for r in canonical_entities(mentions).collect()}
    assert got["A"] == got["B"] == got["C"] == got["D"] == "A"
    assert got["E"] == "E"


@pytest.mark.parametrize("case", ["path", "random"])
def test_driver_fast_path_matches_distributed(spark, case):
    """The small-graph union-find fast path and the distributed star
    contraction must label identically (driver_threshold=0 forces the
    10^12-scale path)."""
    if case == "path":
        edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    else:
        r = random.Random(11)
        edges = [
            (f"v{r.randint(0, 99):03d}", f"v{r.randint(0, 99):03d}")
            for _ in range(120)
        ]
        edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "src string, dst string")
    assert _labels(df) == _labels(df, driver_threshold=0) == _truth(edges)


def test_config_threshold_zero_forces_distributed_path(spark, monkeypatch):
    """cc_driver_threshold is plumbed from PipelineConfig: 0 must reach the
    distributed star contraction (the union-find fast path never runs),
    while the default config takes the fast path on a small graph."""
    from information_extraction_t5_spark.operators import canonicalize as cz
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        canonicalize_subjects,
    )

    calls = []
    real = cz._driver_union_find
    monkeypatch.setattr(
        cz, "_driver_union_find", lambda pairs: calls.append(1) or real(pairs)
    )

    triples = spark.createDataFrame(
        [("c1", "form.cpf", "111"), ("c2", "form.cpf", "111"),
         ("c1", "form.nome_completo", "Ana Silva"),
         ("c3", "form.nome_completo", "Ana Silva")],
        "conv_id string, pred string, obj string",
    )

    cfg0 = PipelineConfig(fuzzy_link=False, cc_driver_threshold=0)
    out0 = {r["conv_id"]: r["subj"]
            for r in canonicalize_subjects(triples, cfg0).select(
                "conv_id", "subj").distinct().collect()}
    assert calls == []  # distributed path only

    cfg_fast = PipelineConfig(fuzzy_link=False)
    out_fast = {r["conv_id"]: r["subj"]
                for r in canonicalize_subjects(triples, cfg_fast).select(
                    "conv_id", "subj").distinct().collect()}
    assert calls  # fast path taken by default on a tiny graph
    assert out0 == out_fast
    assert out0["c1"] == out0["c2"] == out0["c3"] == "ent:c1"
