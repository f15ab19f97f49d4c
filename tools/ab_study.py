"""Interleaved A/B study: time VARIANTS of one operation in a single
warmed session, alternating A,B,A,B,... per iteration.

    python tools/ab_study.py <spec> [iterations]   # default 5
    python tools/ab_study.py ddc_jump_vs_plain 5
    python tools/ab_study.py facade_split_jump_vs_plain

Why interleaved, not solo-vs-floor: host-band drift moves BOTH
variants together, so alternating runs cancel it — the r11
`dd_duplicate_clusters` flip read **0.99× against its r10 floor** on
a slow-band day (solo comparison) while the interleaved A/B in the
same session read **jump median 4.01 s vs plain 5.76 s = 1.44×**,
matching the CC-stage probe. Floors answer "did the code regress
since the committed bench?"; interleaved A/Bs answer "which of two
plans is faster?" — don't use one for the other (the r10
`ann_topk_join` adjudication learned the same lesson from the other
direction). Complements `tools/solo_study.py` (same warm-session +
load-average discipline).

A spec is a no-arg function in THIS module returning
``dict[name, callable(spark) -> DataFrame]``; each callable builds
the full lazy plan (cold, per run) and the study times
``.collect()``. Session/warm-up/summary scaffolding is SHARED with
tools/solo_study.py (warmed_session / summary_stats / loadavg) so the
two tools cannot drift apart.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.solo_study import (  # noqa: E402
    loadavg,
    summary_stats,
    warmed_session,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ddc_jump_vs_plain():
    """The r11 flip's evidence: the full dd_duplicate_clusters entry
    body under pointer-jumping vs plain propagation (queries.py runs
    jumping since r11)."""
    from pyspark.sql import functions as F

    from vectordb_light_spark.operators.components import (
        duplicate_clusters,
    )
    from vectordb_light_spark.operators.dedup import (
        canonical_text,
        minhash_lsh_candidates,
    )
    from vectordb_light_spark.queries import load_docs

    def entry(spark, flag):
        docs = load_docs(spark, SF_DIR).where(
            F.length(canonical_text("text")) > 0
        )
        pairs = minhash_lsh_candidates(
            docs, num_hashes=16, bands=4, hash_family="poly31",
            max_bucket=None,
        ).where(F.col("est_jaccard") >= 0.75)
        return (
            duplicate_clusters(
                pairs, left_id="id_a", right_id="id_b",
                pointer_jumping=flag,
            )
            .withColumn("keep", F.col("keep").cast("int"))
            .orderBy("doc_id")
        )

    return {
        "jump": lambda spark: entry(spark, True),
        "plain": lambda spark: entry(spark, False),
        "auto": lambda spark: entry(spark, "auto"),
    }


def facade_split_jump_vs_plain():
    """VERDICT r10 item 8's measurement: VectorDB.train_val_test_split
    on a bench-shaped store under each CC strategy. The store builds
    LAZILY on the first variant's first call (per spec_fn() call, not
    per module) — that one create_database cost lands inside the first
    variant's printed warm-up line, which is untimed scaffolding:
    compare only the iterN rows."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vectordb_light_spark.engine import VectorDB
    from vectordb_light_spark.operators.ingest import (
        IngestConfig,
        create_database,
    )

    state: dict = {}

    def db(spark):
        if "db" not in state:
            docs = (
                spark.read.parquet(
                    os.path.join(SF_DIR, "documents.parquet")
                ).select(
                    F.sha2(F.coalesce("text", F.lit("")), 256).alias(
                        "hash"
                    ),
                    "text",
                    F.lit(".txt").alias("file_type"),
                    F.col("doc_id"),
                    F.col("doc_id").cast("string").alias("file_name"),
                )
            )
            root = tempfile.mkdtemp(prefix="ab-split-")
            cfg = IngestConfig(
                chunk_size=1200, chunk_overlap=600,
                embedder_spec={
                    "encoder": "hashing", "dim": 64, "seed": 0,
                },
                target_files=8,
            )
            create_database(spark, docs, root, "abdb", cfg)
            state["db"] = VectorDB(spark, os.path.join(root, "abdb"))
            state["root"] = root
            import atexit

            atexit.register(
                lambda: shutil.rmtree(root, ignore_errors=True)
            )
        return state["db"]

    return {
        "jump": lambda spark: db(spark).train_val_test_split(
            threshold=0.9, pointer_jumping=True
        ),
        "plain": lambda spark: db(spark).train_val_test_split(
            threshold=0.9, pointer_jumping=False
        ),
        "auto": lambda spark: db(spark).train_val_test_split(
            threshold=0.9, pointer_jumping="auto"
        ),
    }


def leak_split_instrumented():
    """VERDICT r11 item 1: falsify-or-confirm the 'CC-round swing'
    attribution for pipe_leakage_safe_split's 2.2-2.7x same-code wall
    band. Each call rebuilds the EXACT registered body but passes the
    stats hook through duplicate_clusters and prints, per iteration,
    the candidate-pipeline setup wall, the CC round count, and each
    round's wall — so a wall spike can be attributed to (a) the
    upstream minhash band join (setup), (b) extra CC rounds (the
    CHANGELOG r11 claim), (c) slower same-count rounds (scheduling /
    GC jitter), or (d) the post-CC routing+aggregate collect (the
    remainder of the iterN line)."""
    from pyspark.sql import functions as F

    from vectordb_light_spark.operators.components import (
        duplicate_clusters,
    )
    from vectordb_light_spark.operators.dedup import (
        canonical_text,
        minhash_lsh_candidates,
    )
    from vectordb_light_spark.operators.sampling import assign_split
    from vectordb_light_spark.queries import _SPLIT_WEIGHTS, load_docs

    def entry(spark):
        t0 = time.time()
        docs = load_docs(spark, SF_DIR)
        base = docs.where(F.length(canonical_text("text")) > 0)
        pairs = minhash_lsh_candidates(
            base, num_hashes=16, bands=4, hash_family="poly31",
            max_bucket=None,
        ).where(F.col("est_jaccard") >= 0.75)
        cc_stats: dict = {}
        clusters = duplicate_clusters(
            pairs, left_id="id_a", right_id="id_b",
            pointer_jumping=True, stats=cc_stats,
        ).select("doc_id", "cluster_id")
        routed = assign_split(
            docs.join(clusters, "doc_id", "left")
            .withColumn(
                "_route", F.coalesce("cluster_id", F.col("doc_id"))
            ),
            _SPLIT_WEIGHTS, id_col="_route", seed=0,
        ).drop("_route")
        g = (
            routed.groupBy("split", "cluster_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("_n"),
                F.sum("n_chars").cast("long").alias("_chars"),
            )
            .localCheckpoint(eager=False)
        )
        leaky = (
            g.where(F.col("cluster_id").isNotNull())
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("__ns"))
            .agg(
                F.count(F.when(F.col("__ns") > 1, 1))
                .cast("long")
                .alias("n_leaky_clusters")
            )
        )
        walls = " ".join(
            f"{w:.2f}" for w in cc_stats.get("round_walls", [])
        )
        print(
            f"    cc: setup={cc_stats.get('setup_wall', 0):.2f}s"
            f" rounds={cc_stats.get('rounds')} walls=[{walls}]"
            f" build_total={time.time() - t0:.2f}s",
            flush=True,
        )
        return (
            g.groupBy("split")
            .agg(
                F.sum("_n").cast("long").alias("n_docs"),
                F.sum("_chars").cast("long").alias("total_chars"),
            )
            .crossJoin(F.broadcast(leaky))
            .orderBy("split")
        )

    return {"entry": entry}


def containment_old_vs_new():
    """r13: containment_pairs rewrite A/B — the r12 form (string
    shingle keys, rare-set equi-join prefilter, sizes aggregate +
    join-back) vs the r13 form (xxhash64 keys, broadcast-anti hot
    set, map-side |A| carried through the pair exchange). The old
    form is inlined here verbatim from the r12 tree."""
    from pyspark.sql import functions as F

    from vectordb_light_spark.operators.dedup import containment_pairs
    from vectordb_light_spark.queries import load_docs
    from vectordb_light_spark.session import persist_if_batch

    def old(spark):
        df = load_docs(spark, SF_DIR, "doc_id", "text")
        id_col, text_col, shingle, max_df, threshold = (
            "doc_id", "text", 3, 20, 0.1
        )
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
        )
        grams = F.transform(
            F.sequence(F.lit(1), F.size("_t") - (shingle - 1)),
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at("_t", (i + j).cast("int"))
                    for j in range(shingle)
                ],
            ),
        )
        shingles = persist_if_batch(
            df.select(F.col(id_col), toks.alias("_t"))
            .where(F.size("_t") >= shingle)
            .select(
                F.col(id_col), F.explode(F.array_distinct(grams)).alias("s")
            )
        )
        sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
        dfreq = shingles.groupBy("s").agg(F.count(F.lit(1)).alias("_dfc"))
        rare = dfreq.where(F.col("_dfc") <= max_df).select("s")
        p1 = shingles.join(rare, "s").select(F.col(id_col).alias("doc_a"), "s")
        p2 = shingles.join(rare, "s").select(F.col(id_col).alias("doc_b"), "s")
        shared = (
            p1.join(p2, "s")
            .where(F.col("doc_a") != F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("_shared"))
        )
        return (
            shared.join(sizes.withColumnRenamed(id_col, "doc_a"), "doc_a")
            .withColumn("containment", F.col("_shared") / F.col("_n"))
            .where(F.col("containment") >= threshold)
            .select(
                "doc_a", "doc_b",
                F.round("containment", 6).alias("containment"),
            )
            .orderBy("doc_a", "doc_b")
        )

    def new(spark):
        docs = load_docs(spark, SF_DIR, "doc_id", "text")
        return containment_pairs(docs, threshold=0.1, max_df=20).orderBy(
            "doc_a", "doc_b"
        )

    return {"old": old, "new": new}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.isdigit()]
    iters = next((int(a) for a in sys.argv[1:] if a.isdigit()), 5)
    if len(args) != 1 or args[0].startswith("-"):
        raise SystemExit(__doc__)
    spec_fn = globals().get(args[0])
    if spec_fn is None or not callable(spec_fn):
        specs = [
            k for k, v in globals().items()
            if callable(v) and k not in ("main",)
            and not k.startswith("_") and v.__module__ == __name__
        ]
        raise SystemExit(f"unknown spec {args[0]!r}; have: {specs}")

    spark, load0 = warmed_session("ab-study", SF_DIR)

    variants = spec_fn()
    samples: dict[str, list[float]] = {name: [] for name in variants}
    # Warm each variant TWICE (r12): one pass leaves the first timed
    # iteration paying residual C2/codegen JIT — both r12 instrumented
    # runs showed a monotone cool-down through iter1-2 with constant
    # work (CC round counts pinned), so a single warm-up under-warms
    # and inflates the spread with scaffolding noise, not signal.
    for name, fn in variants.items():
        for w in range(2):
            t0 = time.time()
            fn(spark).collect()
            print(
                f"{name} warm-up {w}: {time.time() - t0:.3f}s",
                flush=True,
            )
    for i in range(iters):
        for name, fn in variants.items():
            t0 = time.time()
            fn(spark).collect()
            dt = time.time() - t0
            samples[name].append(dt)
            print(f"iter{i} {name}: {dt:.3f}s", flush=True)
    load1 = loadavg()
    for name, xs in samples.items():
        print(f"{name}: {summary_stats(xs)}")
    print(f"loadavg {load0} -> {load1}")


if __name__ == "__main__":
    main()
