"""Connected components / duplicate clustering
(operators/components.py) vs a Python union-find."""

from __future__ import annotations

import random

import pytest

from vectordb_light_spark.operators.components import (
    connected_components,
    duplicate_clusters,
)


def _union_find(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-label per node
    labels = {}
    for x in list(parent):
        r = find(x)
        labels.setdefault(r, min(n for n in parent if find(n) == r))
    return {x: labels[find(x)] for x in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component for r in connected_components(df).collect()
    }
    want = _union_find(edges)
    assert got == want


def test_components_basic_shapes(spark):
    _check(spark, [(1, 2), (2, 3), (10, 11), (20, 20), (30, 31), (31, 30)])


def test_components_long_chain(spark):
    # diameter 12 — forces several propagation rounds
    _check(spark, [(i, i + 1) for i in range(12)])


@pytest.mark.parametrize("seed", [0, 1])
def test_components_random_graphs(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(60))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
    ]
    edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
    _check(spark, edges)


def test_duplicate_clusters_keep_flags(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (2, 1)], "doc_id_a long, doc_id_b long"
    )
    out = duplicate_clusters(pairs).collect()
    by = {r.doc_id: r for r in out}
    assert by[5].cluster_id == by[9].cluster_id == by[7].cluster_id == 5
    assert by[1].cluster_id == by[2].cluster_id == 1
    assert by[5].keep and by[1].keep
    assert not by[9].keep and not by[7].keep and not by[2].keep
    assert by[9].cluster_size == 3 and by[2].cluster_size == 2
    # survivors + singletons = dedup retention set
    assert sorted(r.doc_id for r in out if r.keep) == [1, 5]


def _check_jumping(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    stats_p, stats_j = {}, {}
    plain = {
        r.node: r.component
        for r in connected_components(df, max_iter=40, stats=stats_p).collect()
    }
    jumped = {
        r.node: r.component
        for r in connected_components(
            df, pointer_jumping=True, max_iter=40, stats=stats_j
        ).collect()
    }
    want = _union_find(edges)
    assert plain == want and jumped == want
    return stats_p["rounds"], stats_j["rounds"]


def test_pointer_jumping_equivalent_and_fewer_rounds_on_chains(spark):
    """r10 prototype (VERDICT r9 item 5): label-jumping must produce
    byte-identical components on the union-find suite and converge in
    O(log D) rounds on chain graphs — the shape where plain min-label
    propagation needs O(D)."""
    rp, rj = _check_jumping(spark, [(i, i + 1) for i in range(24)])
    assert rj < rp, (rp, rj)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pointer_jumping_equivalent_on_random_graphs(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(80))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(55)
    ]
    edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
    rp, rj = _check_jumping(spark, edges)
    assert rj <= rp


def test_pointer_jumping_equivalent_on_cliqueish_dedup_shapes(spark):
    """The real near-dup shape: many small cliques + short chains.
    Jumping must stay correct (and is expected to save no rounds —
    the reason the registered entry keeps the flag OFF)."""
    edges = []
    for base in range(0, 60, 6):  # 10 size-4 cliques
        ids = [base + i for i in range(4)]
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges += [(100, 101), (101, 102), (200, 201)]
    _check_jumping(spark, edges)


def test_auto_mode_runs_plain_on_shallow_graphs(spark):
    """pointer_jumping='auto' (r11): a clique-shaped graph converges
    inside the plain prefix — no escalation, identical round count to
    plain propagation, union-find-correct labels."""
    edges = []
    for base in range(0, 30, 5):
        ids = [base + i for i in range(4)]
        edges += [(a, b) for a in ids for b in ids if a < b]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _union_find(edges)
    sp, sa = {}, {}
    plain = {
        r.node: r.component
        for r in connected_components(df, max_iter=40, stats=sp).collect()
    }
    auto = {
        r.node: r.component
        for r in connected_components(
            df, pointer_jumping="auto", max_iter=40, stats=sa
        ).collect()
    }
    assert plain == want and auto == want
    assert sa["escalated"] is False
    assert sa["rounds"] == sp["rounds"] <= 3


def test_auto_mode_escalates_on_deep_graphs(spark):
    """pointer_jumping='auto': a chain deeper than the plain prefix
    escalates to jumping and converges in far fewer rounds than plain
    would need (~3 + O(log D) vs O(D)), same labels."""
    n = 48
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _union_find(edges)
    sa = {}
    auto = {
        r.node: r.component
        for r in connected_components(
            df, pointer_jumping="auto", max_iter=40, stats=sa
        ).collect()
    }
    assert auto == want
    assert sa["escalated"] is True
    # plain would need ~n/2 rounds on this chain; 3 plain + log-ish
    # jumped rounds must land far below that
    assert sa["rounds"] <= 12, sa


def test_stats_hook_reports_round_walls(spark):
    """r12 variance instrumentation (VERDICT r11 item 1): the stats
    dict carries one wall per round plus the setup wall, through
    duplicate_clusters and the semantic_dedup cc_stats passthrough —
    the hook adjudications read to attribute a wall swing to round
    count vs host band."""
    from vectordb_light_spark.operators.components import (
        duplicate_clusters,
    )

    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    st: dict = {}
    duplicate_clusters(
        df, left_id="src", right_id="dst", stats=st
    ).collect()
    assert st["rounds"] >= 1
    assert len(st["round_walls"]) == st["rounds"]
    assert all(w >= 0 for w in st["round_walls"])
    assert st["setup_wall"] >= 0

    from vectordb_light_spark.operators.similarity import semantic_dedup

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(4)] + [(9, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    st2: dict = {}
    semantic_dedup(vecs, threshold=0.95, cc_stats=st2).collect()
    assert len(st2["round_walls"]) == st2["rounds"] >= 1


def test_empty_edge_list_runs_no_rounds(spark):
    """An empty graph returns right after the setup aggregate: no
    rounds, at most 2 jobs (AQE submits the aggregate's shuffle stage
    as a job of its own), no rows; duplicate_clusters over it is empty
    too."""
    from perfbench.sparkstats import SparkAccounting

    edges = spark.createDataFrame([], "src long, dst long")
    st: dict = {}
    out, call = SparkAccounting(spark, "cc-empty").call(
        "cc", lambda: connected_components(edges, stats=st)
    )
    assert st["rounds"] == 0 and call.jobs <= 2, (st, call.jobs)
    assert out.count() == 0
    pairs = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert duplicate_clusters(pairs, pointer_jumping="auto").count() == 0


def test_pointer_jumping_rejects_unknown_mode(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="auto"):
        connected_components(df, pointer_jumping="always")
    # truthy non-bools must raise, not silently run plain (1 == True
    # passes an equality check but misses the `is True` dispatch)
    with pytest.raises(ValueError, match="auto"):
        connected_components(df, pointer_jumping=1)


def test_rounds_leave_the_session_conf_alone(spark):
    """The round loop runs under the caller's session conf: while a
    multi-round clustering runs on a worker thread, the main thread of
    the same session polls AQE and the shuffle partition count and
    never sees either value change."""
    import threading

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    ids = random.Random(7).sample(range(1_000), 16)
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), "doc_id_a long, doc_id_b long"
    )
    st: dict = {}
    done = threading.Event()

    def run():
        try:
            duplicate_clusters(pairs, stats=st).collect()
        finally:
            done.set()

    worker = threading.Thread(target=run)
    worker.start()
    seen = []
    while not done.wait(0.005):
        seen.append({k: spark.conf.get(k) for k in keys})
    worker.join(timeout=300)
    assert not worker.is_alive() and st["rounds"] >= 4, st
    assert len(seen) > 1 and all(s == before for s in seen), [
        s for s in seen if s != before
    ][:3]
    assert {k: spark.conf.get(k) for k in keys} == before
