"""Scaling probes: registry entries over replicated sf0.1 tables, and
connected components on seeded graph shapes.

    python tools/scale_probe.py --entry NAME [--x64] [--write]
    python tools/scale_probe.py --cc

``--entry`` times registry entry NAME at x1/x4/x16 (x64 with
``--x64``): ``documents`` replicated with a per-copy letter
permutation (``replicate_unique``), ``embeddings`` replicated with
offset ids (``replicate``), every other table read at base size. One
warm-up, then the median of 3 runs by wall, with that run's Spark
jobs and shuffle-write bytes. ``--write`` replaces the entry's own
SCALING.md section and leaves every other section as it is.

``--cc`` runs connected components on the five ``cc_graphs`` shapes.

Replicated tables go under $SCALE_PROBE_WORK (default /tmp/scale_probe).
The retired probe modes' results are kept in SCALING.md and plans/.
"""

from __future__ import annotations

import os
import random
import shutil
import string
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from vectordb_light_spark.session import (  # noqa: E402
    TESTDATA_TABLES,
    get_spark,
    load_table,
)

BASE = "/root/testdata/sf0.1"
WORK = os.environ.get("SCALE_PROBE_WORK", "/tmp/scale_probe")
SCALES = (1, 4, 16)


def replicate(spark, table: str, id_col: str, factor: int, out: str) -> None:
    df = load_table(spark, BASE, table)
    parts = [
        df.withColumn(id_col, F.col(id_col) + F.lit(i * 10_000_000)) for i in range(factor)
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    union.repartition(max(4, factor * 2)).write.mode("overwrite").parquet(out)


def replicate_unique(spark, factor: int, out: str) -> None:
    """Documents replicated so that duplicate clusters keep their base
    size instead of gaining factor-many exact copies — the realistic
    bounded-cluster-density protocol. Copy 0 is the base corpus; copy
    i maps the text through its own seeded permutation of a–z (the
    base corpus is lower-case letters and spaces). A bijection keeps
    every within-copy similarity equal to the base corpus', while two
    copies share ~no shingles, so true duplicate pairs grow linearly in
    the factor. Every column is kept."""
    df = load_table(spark, BASE, "documents")
    letters = string.ascii_lowercase
    parts = [df] + [
        df.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        .withColumn("text", F.translate(
            "text", letters, "".join(random.Random(i).sample(letters, 26))))
        for i in range(1, factor)
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    # ≥32 output files at every factor: the probe compares DATA
    # scaling, so every point gets full local[32] map parallelism
    # (at 4 files the x1 point measures task-count starvation, not
    # the operator).
    union.repartition(max(32, factor * 2)).write.mode("overwrite").parquet(out)


def replicated_dir(spark, factor: int) -> str:
    """A table directory for the registry at ``factor`` x sf0.1:
    replicated ``documents`` and ``embeddings``, every other table a
    link to its base file."""
    d = os.path.join(WORK, f"x{factor}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    replicate_unique(spark, factor, os.path.join(d, "documents.parquet"))
    replicate(spark, "embeddings", "vec_id", factor,
              os.path.join(d, "embeddings.parquet"))
    for t in TESTDATA_TABLES:
        if t not in ("documents", "embeddings"):
            os.symlink(os.path.join(BASE, f"{t}.parquet"),
                       os.path.join(d, f"{t}.parquet"))
    return d


def main_entry(name: str, factors: tuple[int, ...] = SCALES, runs: int = 3) -> None:
    """Registry entry ``name`` at each replication factor: one warm-up,
    then the median of ``runs`` noop-sink runs by wall with that run's
    jobs and shuffle-write bytes (Spark status store, per job group),
    and the entry's output row count."""
    from perfbench.sparkstats import SparkAccounting
    from vectordb_light_spark.queries import QUERIES

    if name not in QUERIES:
        raise SystemExit(f"unknown registry entry {name!r}")
    fn = QUERIES[name]
    spark = get_spark("scale-probe-entry")
    spark.sparkContext.setLogLevel("ERROR")
    acct = SparkAccounting(spark, "entry")
    rows = []
    try:
        for factor in factors:
            d = replicated_dir(spark, factor)
            n_docs = load_table(spark, d, "documents").count()
            n_vecs = load_table(spark, d, "embeddings").count()

            def run():
                fn(spark, d).write.format("noop").mode("overwrite").save()

            run()  # warm-up
            n_out = fn(spark, d).count()
            calls = [acct.call(f"x{factor}", run)[1] for _ in range(runs)]
            call = sorted(calls, key=lambda c: c.wall_s)[runs // 2]
            rows.append((factor, n_docs, n_vecs, n_out, call))
            print(f"x{factor}: {n_out:,} rows, {call.wall_s:.2f}s {call.jobs} jobs"
                  f" {call.shuffle_write_bytes / 1e6:.1f} MB", flush=True)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    base_wall = rows[0][4].wall_s
    body = "\n".join([
        f"`python tools/scale_probe.py --entry {name}`: `documents` replicated"
        " with a per-copy letter permutation, `embeddings` with offset ids,"
        " other tables at base size; one warm-up, then the median of"
        f" {runs} noop-sink runs by wall;"
        f" local[{spark.sparkContext.defaultParallelism}].",
        "",
        "| factor | documents / embeddings | output rows | wall s | jobs"
        " | shuffle MB | wall vs x1 |",
        "|---|---|---|---|---|---|---|",
    ] + [
        f"| x{f} | {nd:,} / {nv:,} | {no:,} | {c.wall_s:.2f} | {c.jobs}"
        f" | {c.shuffle_write_bytes / 1e6:.1f} | {c.wall_s / base_wall:.1f}x |"
        for f, nd, nv, no, c in rows
    ])
    print(body)
    if "--write" in sys.argv:
        _write_section(f"`{name}` on replicated sf0.1", body)


def _write_section(title: str, body: str) -> None:
    """Replace the SCALING.md section headed ``## title`` with ``body``
    (append it when absent); every other section stays byte-identical."""
    p = Path(__file__).resolve().parent.parent / "SCALING.md"
    txt = p.read_text()
    section = f"## {title}\n\n{body}\n"
    i = txt.find(f"\n## {title}\n")
    if i < 0:
        txt += ("" if txt.endswith("\n") else "\n") + "\n" + section
    else:
        j = txt.find("\n## ", i + 1)
        rest = "\n" + txt[j + 1:] if j >= 0 else ""
        txt = txt[: i + 1] + section + rest
    p.write_text(txt)


def count_split_straddlers(out_df, *, jaccard: float = 0.75) -> int:
    """Number of near-dup candidate pairs in a split-annotated corpus
    whose two sides landed in DIFFERENT splits — the leak invariant's
    violation count (0 on any output of the `split` stage).

    Pairs are re-derived with EXACTLY the stage's candidate
    parameters (curate_pipeline._stage_split: minhash_lsh_candidates
    library defaults; pass the run's ``split_jaccard`` as ``jaccard``
    when it isn't the 0.75 default) — a mismatched banding or
    threshold would "find" pairs the stage never clustered and
    false-alarm (measured: a 16/4/poly31 re-derivation reported 11
    phantom straddlers on a leak-free x1 output).
    Negative-controlled by tests/test_pipelines.py::
    test_split_straddle_counter_detects_planted_leak.
    """
    from vectordb_light_spark.operators.dedup import (
        canonical_text,
        minhash_lsh_candidates,
    )

    survivors_txt = out_df.select(
        F.col("doc_id"), F.col("text"), F.col("split")
    ).where(F.length(canonical_text("text")) > 0)
    pairs = minhash_lsh_candidates(
        survivors_txt.select("doc_id", "text")
    ).where(F.col("est_jaccard") >= jaccard)
    sides = survivors_txt.select(F.col("doc_id"), F.col("split"))
    return (
        pairs.join(
            sides.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("split", "split_a"), "id_a")
        .join(
            sides.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("split", "split_b"), "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .count()
    )


#: Row-capping physical nodes: everything broadcast above one of these
#: is k-row/1-row by construction. Keyed aggregates deliberately do
#: NOT bound (their cardinality is the key domain — corpus-sized in
#: the v1 hazard shape).
_BOUNDING_NODES = (
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
    "HashAggregate(keys=[]",
    "SortAggregate(keys=[]",
    "ObjectHashAggregate(keys=[]",
)
_SCAN_NODES = (
    "FileScan",
    "Scan parquet",
    "LocalTableScan",
    "Range (",
    "InMemoryTableScan",  # the v1 hazard broadcast the CACHED embeds
    "BatchScan",
    "RowDataSourceScan",
)


def _node_indent(line: str) -> int:
    """Column where the operator name starts in a plan-tree line
    (tree prefix chars are spaces, ':', '+', '-')."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def broadcast_subtrees_bounded(plan: str) -> bool:
    """True iff EVERY BroadcastExchange subtree in ``plan`` (an
    ``executedPlan().toString()``) is row-bounded: each scan inside
    the subtree has a bounding ancestor (LIMIT-k / global-aggregate
    node) strictly between it and the exchange. Anchored on the tree
    structure via indentation — not a substring window, so a keyed
    aggregate sitting NEXT TO an unbounded scan can no longer mask it
    (ADVICE r9). Validated by a negative control against the v1
    all-corpus-id broadcast shape
    (tests/test_plan_guards.py::test_broadcast_detector_negative_control)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        root = _node_indent(line)
        # subtree = following lines strictly deeper than the exchange
        stack: list[tuple[int, bool]] = []  # (indent, bounded-above?)
        for sub in lines[i + 1:]:
            ind = _node_indent(sub)
            if ind <= root:
                break
            while stack and stack[-1][0] >= ind:
                stack.pop()
            bounded_above = bool(stack) and stack[-1][1]
            if any(t in sub for t in _SCAN_NODES) and not bounded_above:
                return False
            bounding = bounded_above or any(
                t in sub for t in _BOUNDING_NODES
            )
            stack.append((ind, bounding))
    return True


def cc_graphs(seed: int = 0) -> dict:
    """The --cc probe's seeded edge lists, name -> (src, dst) id arrays.
    Node ids are a random permutation, so min labels carry no locality.
    Clique sizes 2-12 are Zipf-weighted (p ~ s^-1.8); the skewed shape
    adds one 50k-node hot component (a hub star plus random chords);
    the chain shape is the deep case (random-id paths of 2-20 nodes)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    sizes = np.arange(2, 13)
    p = sizes ** -1.8 / (sizes ** -1.8).sum()

    def cliques(ids):
        k = rng.choice(sizes, size=len(ids), p=p)
        k = k[: np.searchsorted(np.cumsum(k), len(ids), side="right")]
        starts = np.concatenate([[0], np.cumsum(k)[:-1]])
        src, dst = [], []
        for s in sizes:
            rows = ids[starts[k == s][:, None] + np.arange(s)]
            iu = np.triu_indices(s, 1)
            src.append(rows[:, iu[0]].ravel())
            dst.append(rows[:, iu[1]].ravel())
        return np.concatenate(src), np.concatenate(dst)

    graphs = {f"{n // 1000}k cliques": cliques(rng.permutation(n))
              for n in (20_000, 200_000, 1_000_000)}
    ids = rng.permutation(200_000)
    cs, cd = cliques(ids[:150_000])
    hot = ids[150_000:]
    chords = rng.choice(hot, size=(2, 40_000))
    graphs["150k cliques + 50k hot"] = (
        np.concatenate([cs, np.full(len(hot) - 1, hot[0]), chords[0]]),
        np.concatenate([cd, hot[1:], chords[1]]),
    )
    ids = rng.permutation(100_000)
    k = rng.integers(2, 21, size=100_000)
    k = k[: np.searchsorted(np.cumsum(k), len(ids), side="right")]
    last = np.cumsum(k) - 1  # no edge from a chain's last node onward
    link = np.ones(last[-1], bool)
    link[last[:-1]] = False
    graphs["100k random-id chains"] = (ids[:-1][: last[-1]][link],
                                       ids[1:][: last[-1]][link])
    return graphs


def main_cc(runs: int = 3) -> None:
    """Connected components on the five ``cc_graphs`` shapes:
    ``duplicate_clusters(pointer_jumping="auto")`` after one warm-up,
    then the median of ``runs`` runs by wall with its driver jobs and
    shuffle-write bytes (Spark status store, per job group), rounds,
    and a label hash (sum of pmod(xxhash64(doc_id, cluster_id),
    2^31-1)), row count and largest cluster to compare commits."""
    import pandas as pd

    from perfbench.sparkstats import SparkAccounting
    from vectordb_light_spark.operators.components import duplicate_clusters

    spark = get_spark("scale-probe-cc")
    spark.sparkContext.setLogLevel("ERROR")
    acct = SparkAccounting(spark, "cc")
    print("| graph | edges | wall s (median) | jobs | shuffle MB | rounds"
          " | label hash / rows / max cluster |\n|---|---|---|---|---|---|---|")
    for name, (src, dst) in cc_graphs().items():
        edges = spark.createDataFrame(
            pd.DataFrame({"doc_id_a": src, "doc_id_b": dst})
        ).localCheckpoint(eager=True)
        calls = []
        for _ in range(runs + 1):
            st: dict = {}
            out, call = acct.call(name, lambda: duplicate_clusters(
                edges, pointer_jumping="auto", stats=st
            ).localCheckpoint(eager=True))
            calls.append((call, st["rounds"]))
            print(f"{name}: {call.wall_s:.2f}s {call.jobs} jobs"
                  f" {call.shuffle_write_bytes / 1e6:.1f} MB"
                  f" {st['rounds']} rounds", flush=True)
        row = out.agg(
            F.sum(F.pmod(F.xxhash64("doc_id", "cluster_id"), F.lit(2**31 - 1))),
            F.count(F.lit(1)), F.max("cluster_size"),
        ).first()
        call, rounds = sorted(calls[1:], key=lambda c: c[0].wall_s)[runs // 2]
        print(f"| {name} | {len(src):,} | {call.wall_s:.2f} | {call.jobs}"
              f" | {call.shuffle_write_bytes / 1e6:.1f} | {rounds}"
              f" | {row[0]} / {row[1]:,} / {row[2]} |", flush=True)


if __name__ == "__main__":
    args = sys.argv[1:]
    if "--entry" in args[:-1]:
        main_entry(args[args.index("--entry") + 1],
                   SCALES + (64,) if "--x64" in args else SCALES)
    elif "--cc" in args:
        main_cc()
    else:
        raise SystemExit(__doc__)
