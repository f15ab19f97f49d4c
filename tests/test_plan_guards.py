"""Registry-wide physical-plan regression guards.

Every `queries()` entry is planned (not executed) at sf0.001 and its
physical plan is checked for the anti-patterns that silently turn a
working query into a 100 TB disaster:

- ``CartesianProduct`` — an unkeyed join; O(N·M) at any scale.
- ``BatchEvalPython`` — row-at-a-time Python UDF in the plan (all
  Python stages must be Arrow-batched: ArrowEvalPython / mapInPandas).
- ``BroadcastNestedLoopJoin`` — allowed ONLY for deliberate 1-row
  broadcasts (scalar stats / corpus constants joined to every row),
  which are listed per-query below. Anything unlisted is a miss.

A new query that trips one of these fails here before it ever reaches
the driver's benchmark.
"""

from __future__ import annotations

import pytest

from vectordb_light_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

# Queries whose plan legitimately contains BroadcastNestedLoopJoin:
# every entry is a crossJoin against a 1-row aggregate (scalar stats),
# where a nested loop over a 1-row build side is O(n) by construction.
ONE_ROW_BNLJ_OK = {
    "kw_bm25_topk",      # corpus (N, avgdl) stats row
    "kw_hybrid_rrf",     # same BM25 stats row inside the lexical arm
    "dd_jaccard_pairs",  # corpus-size row for the size-ratio prefilter
    "vq_rag_prompt",     # one-row prompt assembly joined to contexts
    # r7 bounded-contract upgrades: each crossJoins ONE 1-row
    # pool-wide stats aggregate (norm/geometry/cardinality checks)
    # onto ≤10 contract rows.
    "pipe_hash_embed_topk",
    "emb_mini_encoder_topk",
    "mm_image_pipeline",
    # r10: the leak self-check — a 1-row "clusters spanning >1 split"
    # aggregate crossJoined onto the 3 per-split totals.
    "pipe_leakage_safe_split",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_plan_antipatterns(spark, name):
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: unkeyed join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in ONE_ROW_BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join without a 1-row justification "
            "(add to ONE_ROW_BNLJ_OK only if the build side is a "
            "1-row aggregate)"
        )


# Entries whose exact cosine scan once ran the query similarity as an
# Arrow pandas UDF (ArrowEvalPython). The single-query scan now scores
# with one JVM higher-order-function column, so these plans carry no
# Python stage at all; a Python round trip creeping back into the
# exact scan fails here.
PYTHON_FREE_EXACT_SCAN = (
    "vq_chunks_only",
    "vq_filtered_topk",
    "vq_rag_prompt",
    "vq_range_search",
    "vq_threshold_after_topk",
    "vq_topk_cosine",
    "vq_topk_quantized",
)

# ANN entries keep the Arrow stages of their own index encoders (SRP
# signature, PCA/OPQ projection, PQ/IVF codes); their exact-scan arm
# lost its Arrow stage with the same change. Ceilings, not targets.
ANN_ARROW_STAGE_CEILING = {
    "ann_ivf_topk": 1,
    "ann_ivfpq_topk": 2,
    "ann_opq_topk": 1,
    "ann_pca_topk": 1,
    "ann_pq_topk": 1,
    "ann_srp_topk": 1,
}

_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow")


@pytest.mark.parametrize("name", PYTHON_FREE_EXACT_SCAN + tuple(ANN_ARROW_STAGE_CEILING))
def test_exact_scan_has_no_python_round_trip(spark, name):
    plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    if name in ANN_ARROW_STAGE_CEILING:
        assert plan.count("ArrowEvalPython") <= ANN_ARROW_STAGE_CEILING[name], name
    else:
        assert not [n for n in _PYTHON_NODES if n in plan], name


def test_runtime_bloom_filter_injected_for_selective_join(spark, sf_dir):
    """100 TB knob: with runtime bloom filters enabled (and the local
    size thresholds relaxed — real clusters hit them naturally), a
    selective dim filter injects might_contain onto the fact scan, so
    non-matching fact rows die at the scan instead of crossing the
    join shuffle."""
    from pyspark.sql import functions as F

    from vectordb_light_spark.session import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name,col",
    [
        ("rel_forecast_revenue", "l_shipdate"),   # Q6: every conjunct at the scan
        ("rel_events_gapfill", "user_id"),        # slice predicate at the scan
        ("rel_shipping_priority", "o_orderdate"), # date filter at the scan
        ("vq_filtered_topk", "label"),            # pre-filter reaches the scan
    ],
)
def test_predicates_reach_the_scan(spark, name, col):
    """Pushdown guard: the query's defining predicate must appear in a
    FileScan's PushedFilters — a filter evaluated above the scan reads
    (and decodes) every row at 100 TB."""
    # Another test cache()-ing the same table fragment would swap the
    # parquet FileScan for an InMemoryTableScan (no PushedFilters at
    # all); and the default metadata truncation (100 chars) can cut
    # the filter list mid-item. Neutralize both before planning.
    spark.catalog.clearCache()
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    # Parse ONLY the bracketed filter list — the same FileScan line
    # continues with ReadSchema (which always names the column) and the
    # pushed IsNotNull, either of which would make a substring check
    # vacuously pass even when the defining predicate was NOT pushed.
    pushed_lists = [
        line.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        for line in plan.splitlines()
        if "PushedFilters: [" in line
    ]
    comparison = [
        f for lst in pushed_lists for f in lst.split(", ")
        if col in f and not f.startswith("IsNotNull")
    ]
    assert comparison, (
        f"{name}: no pushed comparison predicate on {col!r} "
        f"(got {pushed_lists})"
    )


def test_plans_md_covers_every_registered_query():
    """Doc-sync guard (r5): PLANS.md must carry one audited section
    per registry entry, and gen_plans NOTES must not drift from the
    live registry — regenerate with `python tools/gen_plans.py`
    whenever a query is added."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    sections = {
        m.group(1)
        for m in re.finditer(
            r"^## ([a-z0-9_]+)$", (root / "PLANS.md").read_text(), re.M
        )
    }
    assert sections == set(QUERIES), (
        f"PLANS.md drift: missing {sorted(set(QUERIES) - sections)}, "
        f"stale {sorted(sections - set(QUERIES))}"
    )
    notes_keys = set(
        re.findall(
            r"\n '([a-z0-9_]+)':",
            (root / "tools" / "gen_plans.py").read_text(),
        )
    )
    assert notes_keys == set(QUERIES), (
        f"gen_plans NOTES drift: missing {sorted(set(QUERIES) - notes_keys)}, "
        f"stale {sorted(notes_keys - set(QUERIES))}"
    )


def test_composed_curate_chain_plan_is_clean(spark):
    """The full 7-stage curate chain (incl. the r8 stages) composed
    lazily must carry none of the registry anti-patterns — the chain
    is product surface (CLI), not a registered query, so the
    parametrized guard above never sees it."""
    from pyspark.sql import functions as F

    from vectordb_light_spark.operators.curate_pipeline import run_curation

    docs = (
        spark.read.parquet(SF + "/documents.parquet")
        .select("doc_id", "text")
    )
    bench = docs.where(F.col("doc_id") < 10)
    survivors, _ = run_curation(
        docs,
        ("exact_dedup", "line_dedup", "repetition", "quality",
         "readability", "bloom_decontaminate", "curriculum"),
        report=False,
        bench=bench,
    )
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_flipped_contract_entries_broadcast_only_bounded_frames(spark):
    """r9 regression guard for the contract-trio flip: every
    BroadcastExchange in the three bounded-contract entries must be
    row-bounded — each scan inside a broadcast subtree needs a
    LIMIT-k / global-aggregate ancestor between it and the exchange,
    so the v1 shape (broadcasting a projection of EVERY corpus id,
    multi-GB at real scale) can never come back. r10 (ADVICE r9): the
    detector is the tree-anchored ``broadcast_subtrees_bounded``
    kept in tools/scale_probe.py, not a substring
    window — a keyed aggregate adjacent to an unbounded scan no
    longer masks it. Negative control below."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from scale_probe import broadcast_subtrees_bounded

    from vectordb_light_spark.queries import QUERIES

    for name in (
        "pipe_hash_embed_topk",
        "emb_mini_encoder_topk",
        "mm_image_pipeline",
    ):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert broadcast_subtrees_bounded(plan), (
            f"{name}: unbounded broadcast subtree\n{plan[:1200]}"
        )


def test_broadcast_detector_negative_control(spark):
    """The detector must read the v1 hazard shape as UNBOUNDED: a
    broadcast-hash-join whose build side is a plain projection of the
    full (cached) corpus — no limit, no global aggregate — exactly
    the all-corpus-id broadcast the r9 flip removed. Both the cached
    (InMemoryTableScan) and uncached (FileScan/LocalTableScan) forms
    must trip it; the bounded LIMIT-k form must not."""
    import sys
    from pathlib import Path

    from pyspark.sql import functions as F

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from scale_probe import broadcast_subtrees_bounded

    from vectordb_light_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    ids = docs.select("doc_id")

    # v1 hazard: broadcast EVERY corpus id into the probe side
    v1 = docs.join(F.broadcast(ids), "doc_id")
    plan_v1 = v1._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_v1
    assert not broadcast_subtrees_bounded(plan_v1)

    # cached variant (InMemoryTableScan build side)
    ids_cached = ids.persist()
    try:
        ids_cached.count()
        v1c = docs.join(F.broadcast(ids_cached), "doc_id")
        plan_v1c = v1c._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan_v1c
        assert not broadcast_subtrees_bounded(plan_v1c)
    finally:
        ids_cached.unpersist()

    # bounded form: broadcast a LIMIT-k frame — must pass
    topk = ids.orderBy("doc_id").limit(5)
    ok = docs.join(F.broadcast(topk), "doc_id")
    plan_ok = ok._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_ok
    assert broadcast_subtrees_bounded(plan_ok)


def test_training_corpus_gate_stays_above_the_rebalance_exchange(spark):
    """``pipe_training_corpus`` wraps its scan in
    ``session.pushdown_barrier``: the barrier filter and the
    quality-fold filter must both sit above the round-robin exchange,
    so the gate runs across every post-exchange task instead of inside
    the single-split scan task. Nothing from the gate may reach the
    scan below the exchange as a data or pushed filter."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from scale_probe import _node_indent

    spark.catalog.clearCache()
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = QUERIES["pipe_training_corpus"](spark, SF)
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    (ex,) = [i for i, ln in enumerate(lines) if "RoundRobinPartitioning" in ln]
    ancestors, ind = [], _node_indent(lines[ex])
    for ln in reversed(lines[:ex]):
        if _node_indent(ln) < ind:
            ancestors.append(ln)
            ind = _node_indent(ln)
    below = []
    for ln in lines[ex + 1:]:
        if _node_indent(ln) <= _node_indent(lines[ex]):
            break
        below.append(ln)
    filters = [ln for ln in ancestors if "Filter (" in ln]
    assert any("monotonically_increasing_id() >= 0" in f for f in filters), ancestors
    assert any("regexp_extract_all" in f and ">= 0.5" in f for f in filters), ancestors
    assert not [ln for ln in below if "Filter (" in ln], below
    (scan,) = [ln for ln in below if "FileScan" in ln]
    assert "DataFilters: []" in scan and "PushedFilters: []" in scan, scan


def test_pdf_page_split_runs_once_per_document(spark):
    """``split_pdf_pages`` explodes with posexplode_outer and a not-null
    filter: a plain posexplode makes Catalyst infer a
    ``size(__chunks) > 0`` filter below the generator, which plans the
    page_split UDF a second time."""
    from pyspark.sql import functions as F

    from vectordb_light_spark.operators.chunker import split_pdf_pages
    from vectordb_light_spark.session import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.concat(F.lit("[[page1]]"), "text").alias("text")
    )
    out = split_pdf_pages(docs, chunk_size=300, chunk_overlap=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    arrow = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(arrow) == 1 and "page_split(" in arrow[0], arrow


def test_only_session_module_writes_conf():
    """No module but ``session.py`` sets session conf: a conf write in
    an operator or stream is visible to every concurrent query of the
    caller's session."""
    from pathlib import Path

    import vectordb_light_spark

    root = Path(vectordb_light_spark.__file__).parent
    writers = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if ".conf.set(" in p.read_text() and p != root / "session.py"
    )
    assert writers == []


def test_a_build_releases_the_previous_builds_cache(spark):
    """Each top-level registry build unpersists what the previous one
    persisted: Spark's CacheManager would otherwise serve a warm-up
    build's cached intermediates to the timed builds. Three builds of
    one ``persist_if_batch`` entry each leave the same number of cache
    entries, and none of them is an earlier build's."""
    from vectordb_light_spark.session import release_persisted

    release_persisted()
    cm = spark._jsparkSession.sharedState().cacheManager()
    identity = spark._jvm.System.identityHashCode

    def entries() -> set[int]:
        data = cm.cachedData()
        return {identity(data.apply(i)) for i in range(data.size())}

    base = entries()
    builds = []
    for _ in range(3):
        QUERIES["dd_minhash_candidates"](spark, SF).collect()
        builds.append(entries() - base)
    assert len(builds[0]) > 0
    assert len(builds[0]) == len(builds[1]) == len(builds[2]), builds
    assert not builds[0] & builds[1] and not builds[1] & builds[2], builds
    release_persisted()
