"""Connected components over an edge list — the clustering step that
turns near-duplicate candidate PAIRS (MinHash/SimHash/embedding
tiers, operators/dedup.py) into duplicate GROUPS.

Pairs alone under-merge: if A~B and B~C but A!~C, keep-one-per-pair
deletes too little (or too much); the correct unit is the connected
component of the similarity graph. Union-find is inherently
sequential, so the distributed form is iterative min-label
propagation (the alternating large-star/small-star scheme of
Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14, simplified to symmetric propagation):

    comp(v) ← min(comp(v), min over neighbors comp(u))

repeated until a fixed point. Each round is one join + one groupBy
(both shuffle on the node id — the SAME key, so AQE/Catalyst reuse
the partitioning); rounds needed ≈ graph diameter, and near-dup
graphs are overwhelmingly tiny cliques/chains (diameter ≤ ~3), so
3-5 rounds close almost everything; convergence is CHECKED, not
assumed. Each round materializes via localCheckpoint to cut the
exponentially deepening lineage (the standard iterative-DataFrame
pattern; LAZY as of r12 — the round's convergence aggregate
materializes the checkpoint in the same job, so each round is ONE
job, halving the scheduling overhead that dominates on tiny
post-threshold graphs).

Not SQL-expressible (no recursion in the oracle dialect) → the
registry entry is rows-only; correctness is tested against a Python
union-find on random graphs (tests/test_components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "duplicate_clusters"]

#: Plain rounds that ``pointer_jumping="auto"`` runs before it switches
#: jumping on: clique-shaped near-dup graphs converge within them.
ESCALATE_AFTER = 3


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    pointer_jumping: bool | str = False,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    minimum node id reachable from it: ``(node, component)``.

    Raises if the fixed point is not reached within ``max_iter``
    rounds (diameter larger than expected — raise ``max_iter``).
    Isolated nodes (no edges) are the caller's to add; every node
    appearing in ``edges`` is labeled. An empty edge list returns
    right after the setup aggregate, with no rounds.

    ``pointer_jumping=True`` (r10 prototype, OFF by default) adds a
    label-jump step after each propagation round —
    ``comp(v) ← comp(comp(v))`` as a self-join on the label (labels
    are node ids, so the mapping is total) — turning the round count
    from O(diameter) into O(log diameter) on chain-shaped graphs at
    the price of a second join+shuffle per round. Near-dup graphs are
    overwhelmingly diameter ≤ 3 where the extra join is pure
    overhead, so the flag stays off for the registered entry until
    the SCALING.md measurement says otherwise (see
    'pointer jumping' section; VERDICT r9 item 5). Labels still only
    decrease under jumping, so the exact-sum convergence check is
    unchanged.

    ``pointer_jumping="auto"`` (r11) escalates instead of choosing:
    the first ``ESCALATE_AFTER`` rounds run plain (clique-shaped
    near-dup graphs converge there at the cheapest per-round cost,
    and the r10 A/B showed jumping is a wash-to-slower on them), and
    only if the fixed point is still open does jumping switch on for
    the remaining rounds (deep graphs pay ~ESCALATE_AFTER extra plain
    rounds, then O(log D)). This is the default for production
    surfaces whose graph shape is corpus-dependent; registered
    entries keep their explicitly A/B-measured flags.

    ``stats``, when a dict, receives ``{"rounds": n, "escalated":
    bool, "round_walls": [s, ...], "setup_wall": s}`` on return — the
    measurement hook for the probe, the equivalence tests, and the
    r12 wall-variance instrumentation (VERDICT r11 item 1: each
    entry in ``round_walls`` is one propagation round's driver wall
    including its localCheckpoint job and the exact-sum convergence
    aggregate; ``setup_wall`` covers sym+seed materialization, which
    executes the ENTIRE upstream candidate pipeline and is where
    corpus-sized variance lives).
    """
    import time as _time
    # IDENTITY checks, not equality: 1 == True and numpy.bool_(True)
    # == True would pass an `in (True, False, 'auto')` test yet miss
    # the later `is True` dispatch and silently run PLAIN rounds —
    # reject anything that isn't the exact contract (r11 review).
    if not (
        pointer_jumping is True
        or pointer_jumping is False
        or pointer_jumping == "auto"
    ):
        raise ValueError(
            f"pointer_jumping must be True/False/'auto', "
            f"got {pointer_jumping!r}"
        )
    t_setup = _time.time()
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
    )
    # materialize ONCE: every round joins against sym, and without
    # this the whole upstream candidate-generation pipeline (MinHash,
    # banding, …) would re-execute per round through the lineage.
    # LAZY checkpoints (r12, VERDICT r11 item 1): the convergence
    # aggregate below materializes sym + the seed in the SAME job —
    # eager=True ran a separate job per checkpoint, and on the tiny
    # post-threshold graphs of the registered entries the per-JOB
    # scheduling overhead, not data, dominated the wall (the r12
    # instrumented study measured constant round counts with
    # uniformly host-band-inflated walls; halving the job count
    # shrinks the steal-exposure per round).
    # (r12 measured negative: hash-partitioning sym by the probe key
    # before the checkpoint — so rounds reuse the partitioning — read
    # a wash-to-slower interleaved A/B (leak-split 3.94 vs 3.98,
    # clusters 2.66 vs 2.42): AQE already shrinks the tiny per-round
    # exchanges, and the setup repartition costs an extra exchange.)
    sym = sym.localCheckpoint(eager=False)
    # start: every node's component is its smallest direct neighbor
    # (or itself) — one groupBy seeds AND performs round 1
    comp = sym.groupBy("a").agg(
        F.least(F.min("b"), F.col("a")).alias("c")
    ).select(F.col("a").alias("node"), F.col("c").alias("component"))
    comp = comp.localCheckpoint(eager=False)

    # convergence via the exact label SUM (decimal — no overflow):
    # labels only ever DECREASE, so an unchanged sum ⇔ no label moved
    # ⇔ fixed point. One cheap aggregate over the checkpointed round
    # output instead of a per-round change-flag join.
    def label_sum(df):
        row = df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        # the convergence contract is an EXACT sum; decimal(38,0) over
        # long labels cannot overflow below ~1e19 rows, but if it ever
        # did (non-ANSI mode returns NULL) a silent None == None would
        # declare false convergence — fail loudly instead
        if row["s"] is None and row["n"] > 0:
            raise ArithmeticError(
                "connected_components label sum overflowed decimal(38,0) "
                "— exact-sum convergence check is no longer sound"
            )
        return row["s"], row["n"]

    prev_sum, n_nodes = label_sum(comp)
    setup_wall = _time.time() - t_setup
    round_walls: list = []
    escalated = False

    def done(comp, rounds):
        if stats is not None:
            stats["rounds"] = rounds
            stats["escalated"] = escalated
            stats["round_walls"] = round_walls
            stats["setup_wall"] = setup_wall
        return comp

    if n_nodes == 0:
        # no edges: nothing to label, so no rounds
        return done(comp, 0)

    # Convergence is CHECKED every `check_every` rounds instead of
    # every round (r12 optimization round): labels are monotone
    # non-increasing, so the exact label sum is unchanged across a
    # block ⇔ no label moved anywhere in the block ⇔ fixed point —
    # the check keeps its exactness at any block size. Each check is
    # a driver action (and the job that materializes the block's lazy
    # checkpoint), and on post-threshold near-dup graphs per-job
    # scheduling overhead dominates the tiny shuffles, so halving the
    # action count nearly halves the CC wall (measured: the r12
    # profile put dd_duplicate_clusters at 43 jobs and
    # pipe_leakage_safe_split at 58, almost all sub-0.1 s). The cost
    # is at most `check_every - 1` extra propagation rounds over
    # already-converged (hence tiny-delta) labels. Lineage grows only
    # `check_every` plans deep between checkpoints.
    check_every = 2
    for rounds in range(1, max_iter + 1):
        t_round = _time.time()
        jump_now = pointer_jumping is True or (
            pointer_jumping == "auto" and rounds > ESCALATE_AFTER
        )
        escalated = escalated or (pointer_jumping == "auto" and jump_now)
        # propagate: node's label ← min(own, neighbors' labels) — the
        # current labels UNION into the same min-aggregate, so each
        # round is ONE join + ONE groupBy instead of join + groupBy +
        # a second change-flag join
        nxt = (
            sym.join(comp.withColumnRenamed("node", "b"), "b")
            .select(F.col("a").alias("node"), "component")
            .unionByName(comp)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        if jump_now:
            # jump: label ← label's label. Every label IS a node id
            # present in comp (labels are mins over node ids and every
            # sym endpoint is a comp node), so the left join's
            # coalesce is a guard, not a semantic branch.
            lbl = nxt.select(
                F.col("node").alias("component"),
                F.col("component").alias("__cc"),
            )
            nxt = nxt.join(lbl, "component", "left").select(
                "node",
                F.coalesce("__cc", "component").alias("component"),
            )
        comp = nxt
        if rounds % check_every and rounds < max_iter:
            round_walls.append(_time.time() - t_round)
            continue
        # lazy: label_sum's aggregate action materializes the block's
        # checkpoint in the same job
        comp = comp.localCheckpoint(eager=False)
        cur_sum, _ = label_sum(comp)
        round_walls.append(_time.time() - t_round)
        if cur_sum == prev_sum:
            return done(comp, rounds)
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def duplicate_clusters(
    candidate_pairs: DataFrame,
    *,
    left_id: str = "doc_id_a",
    right_id: str = "doc_id_b",
    max_iter: int = 20,
    pointer_jumping: bool | str = False,
    stats: dict | None = None,
) -> DataFrame:
    """Cluster near-dup candidate pairs into groups: returns
    ``(doc_id, cluster_id, cluster_size, keep)`` where ``keep`` marks
    the canonical survivor (min id) of each cluster — the row set to
    retain for dedup is ``keep = true`` plus all unpaired documents.
    ``stats`` passes through to :func:`connected_components` (round
    count / per-round walls — the r12 variance instrumentation).
    """
    comp = connected_components(
        candidate_pairs, src=left_id, dst=right_id, max_iter=max_iter,
        pointer_jumping=pointer_jumping, stats=stats,
    ).select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return (
        comp.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
    )
