"""One run of one benchmark workload, in its own process.

``run.py`` starts this file, supervises it, measures the process tree's
peak RSS and stops everything it left behind.  This process starts the
Spark session, sets the workload up ``SETUP_REPS`` times from scratch
(corpus generation, guard, store build, cache warm-up), runs operations in
a closed loop (one client: each operation starts when the previous one has
finished) for ``--seconds``, then checks every output against numpy
oracles.  With ``--trace 1`` every second operation runs under a job group
whose Spark metrics are read back, and after the timed loop each layer's
public function is timed on its own (``layer_probes``).

stdout: a human-readable report, then one JSON line (a traced run's
``session.peak_rss_mb`` is added by the supervisor).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import oracles  # noqa: E402
from sparkstats import SparkAccounting, Tracer  # noqa: E402

#: the hashing encoder separates unrelated chunks (median cosine ~0.05)
#: from planted near-duplicates (>= 0.9); query and dedup use it.
HASH_SPEC = {"encoder": "hashing", "dim": 64, "seed": 0}
#: the real numpy transformer, pinned in full: a spec without ``weights``
#: silently loads seeded weights, under which every pair has cosine >= 0.99
MINI_SPEC = {
    "encoder": "mini-transformer",
    "dim": 64,
    "layers": 2,
    "heads": 4,
    "max_seq": 128,
    "seed": 0,
    "dtype": "float32",
    "weights": "pretrained-v1",
}
TOP_K = 6
THRESHOLD = 0.4
DEDUP_THRESHOLD = 0.9
TARGET_FILES = 8
SETUP_REPS = 3
N_PROBE_QUERIES = 5
N_WARM_QUERIES = 20

#: corpus per workload.  A run pays ~12 s of session start and ~10 s of
#: first-build warm-up before any of this, and the whole suite of runs has
#: a fixed time budget, so the stores are far below the reference's sizes;
#: README.md records the chunk counts and timings measured at these sizes.
SIZES = {
    "ingest": dict(n_docs=80),
    "query": dict(n_docs=300),
    "dedup": dict(n_docs=80, n_clusters=12, hot_cluster=150, max_dup_chars=1100),
}


def _ingest_cfg(spec: dict):
    from vectordb_light_spark.operators.ingest import IngestConfig

    return IngestConfig(embedder_spec=spec, target_files=TARGET_FILES)


def _params(q: dict | None = None):
    from vectordb_light_spark.operators.search import SearchParams

    q = q or {}
    return SearchParams(
        k=TOP_K,
        threshold=THRESHOLD,
        search_term=q.get("search_term"),
        document_type=q.get("document_type"),
    )


def _query_vec(spec: dict, text: str) -> np.ndarray:
    from vectordb_light_spark.functions.embedding import make_embedder
    from vectordb_light_spark.functions.text import normalize_query_text_py

    enc = make_embedder(spec)
    return enc.encode([normalize_query_text_py(text)])[0].astype(np.float64)


def _rag_contexts(prompt: str, query: str) -> list[str]:
    from vectordb_light_spark.engine import RAG_STRING

    head, tail = f"{RAG_STRING}\n\n---\n\n", f"\n\n-----\n\n{query}"
    if not (prompt.startswith(head) and prompt.endswith(tail)):
        return []
    return prompt[len(head) : len(prompt) - len(tail)].split("\n\n---\n\n")


def cosine_guard(docs: list[corpus.Doc], spec: dict, *, need_dups: bool) -> dict:
    """Fail fast on a corpus/embedder pair under which near-duplicate
    detection is meaningless: unrelated chunks must sit at a median cosine
    below 0.5, planted duplicates at a median of at least 0.9."""
    from vectordb_light_spark.functions.embedding import make_embedder

    enc = make_embedder(spec)
    plain = [d for d in docs if d.cluster < 0][:200]
    u = enc.encode([oracles.chunk_texts(d.text)[0] for d in plain]).astype(np.float64)
    unrelated = float(np.median((u @ u.T)[np.triu_indices(len(u), 1)]))
    out = {"unrelated_median": unrelated}
    if unrelated >= 0.5:
        raise RuntimeError(f"corpus guard: unrelated chunks at median cosine {unrelated:.3f}")
    if need_dups:
        sims = []
        for c in sorted({d.cluster for d in docs if d.cluster >= 0})[:8]:
            members = [d for d in docs if d.cluster == c][:20]
            v = enc.encode([oracles.chunk_texts(d.text)[0] for d in members]).astype(np.float64)
            sims.extend((v @ v.T)[np.triu_indices(len(v), 1)].tolist())
        out["dup_median"] = float(np.median(sims))
        if out["dup_median"] < 0.9:
            raise RuntimeError(f"corpus guard: planted duplicates at median cosine {out['dup_median']:.3f}")
    return out


class Workload:
    """Set-up, one operation and the output check of one workload."""

    name = ""
    spec: dict = HASH_SPEC

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.docs: list[corpus.Doc] = []
        self.docs_path = ""
        self.text_bytes = 0
        self.guard_info: dict = {}
        self.db = None
        self.db_path = ""

    def setup(self, rep: int) -> None:
        """One set-up from scratch: generate the corpus, run the guard,
        hand the documents to the engine, then ``prepare``."""
        self.docs = corpus.generate(self.seed, **SIZES[self.name])
        self.guard_info = self.guard()
        self.docs_path = os.path.join(self.work, f"docs{rep}.parquet")
        corpus.write_parquet(self.docs, self.docs_path)
        self.text_bytes = corpus.corpus_bytes(self.docs)
        self.prepare(rep)

    def guard(self) -> dict:
        return cosine_guard(self.docs, self.spec, need_dups=False)

    def prepare(self, rep: int) -> None:
        """create_database, then open it with the warm cache."""
        from vectordb_light_spark.engine import VectorDB
        from vectordb_light_spark.operators.ingest import create_database

        root = os.path.join(self.work, f"setup{rep}")
        docs = self.spark.read.parquet(self.docs_path)
        create_database(self.spark, docs, root, "db", _ingest_cfg(self.spec))
        if self.db is not None:
            self.db.close()
        self.db = VectorDB.open(self.spark, root, "db", cache=True)
        self.db.vectors.count()
        self.db_path = os.path.join(root, "db")

    def warm(self) -> None:
        pass

    def op(self, i: int):
        raise NotImplementedError

    def chunks(self, out) -> int:
        return int(self.db.meta["num_vectors"])

    def check(self, ops: list["Op"]) -> dict:
        """Mark each op's ``ok``; return extra figures for the report."""
        raise NotImplementedError

    def store_ratio(self) -> float:
        return oracles.dir_bytes(self.db_path) / self.text_bytes


class Ingest(Workload):
    """Build a database from the documents with the real transformer."""

    name = "ingest"
    spec = MINI_SPEC

    def guard(self) -> dict:
        from vectordb_light_spark.functions.embedding import make_embedder

        loaded = make_embedder(self.spec).spec["weights"]
        if loaded != self.spec["weights"]:
            raise RuntimeError(f"embedder guard: resolved weights {loaded!r}")
        return {"weights": loaded}

    def prepare(self, rep: int) -> None:
        # ingest has no store to set up: the engine only has to see the
        # documents
        self.spark.read.parquet(self.docs_path).count()

    def warm(self) -> None:
        # untimed builds pay the process's first-build warm-up, which the
        # other workloads pay in their first set-up; the second build still
        # runs ~20 % slower than the ones after it
        self._build("warm0")
        self._build("warm1")

    def _build(self, tag: str) -> dict:
        from vectordb_light_spark.operators.ingest import create_database

        root = os.path.join(self.work, tag)
        docs = self.spark.read.parquet(self.docs_path)
        meta = create_database(self.spark, docs, root, "db", _ingest_cfg(self.spec))
        self.db_path = os.path.join(root, "db")
        return {"meta": meta, "path": self.db_path}

    def op(self, i: int):
        return self._build(f"op{i}")

    def chunks(self, out) -> int:
        return int(out["meta"]["num_vectors"])

    def check(self, ops) -> dict:
        from vectordb_light_spark.functions.embedding import make_embedder

        enc = make_embedder(self.spec)
        want = oracles.expected_chunks([d.text for d in self.docs])
        rng = np.random.default_rng([self.seed, 9])
        worst = 0.0
        for o in ops:
            meta = o.out["meta"]
            st = oracles.read_store(o.out["path"], ["id", "text", "vector"])
            n = len(st["id"])
            norms = np.linalg.norm(st["vector"], axis=1)
            pick = rng.choice(n, size=min(16, n), replace=False)
            again = enc.encode([str(st["text"][j]) for j in pick])
            err = float(np.abs(again - st["vector"][pick]).max())
            worst = max(worst, err)
            o.ok = (
                n == meta["num_vectors"] == meta["observed"]["n_chunks"] == want
                and len(np.unique(st["id"])) == n
                and float(np.abs(norms - 1.0).max()) < 1e-5
                and err < 1e-5
            )
        return {"expected_chunks": want, "reencode_max_abs_err": worst}


class Query(Workload):
    """Seeded RAG queries against a cached hashing store."""

    name = "query"

    def prepare(self, rep: int) -> None:
        super().prepare(rep)
        self.stream = corpus.queries(self.seed, self.docs, 1000)

    def warm(self) -> None:
        # the first query of each kind runs slow (~2 s against ~0.6 s), and
        # the next few dozen still speed up as the JVM compiles: ask one of
        # each kind, RAG and both post-filters, then N_WARM_QUERIES more
        stream = corpus.queries(self.seed + 7919, self.docs, 100)
        first = {}
        for q in stream:
            first.setdefault((q["kind"], q["search_term"] is None, q["document_type"] is None), q)
        for q in list(first.values()) + stream[:N_WARM_QUERIES]:
            self._ask(q)

    def _ask(self, q: dict):
        if q["kind"] == "rag":
            try:
                return {"prompt": self.db.rag_prompt(q["text"], _params())}
            except ValueError:  # no context passed the threshold
                return {"prompt": None}
        rows = self.db.search(q["text"], params=_params(q)).collect()
        return {"ids": [int(r["id"]) for r in rows]}

    def op(self, i: int):
        return self._ask(self.stream[i % len(self.stream)])

    def check(self, ops) -> dict:
        st = oracles.read_store(self.db_path, ["id", "vector", "text", "document_type"])
        text_of = dict(zip(st["id"].tolist(), st["text"].tolist()))
        hits, expected = 0, 0
        for o in ops:
            q = self.stream[o.i % len(self.stream)]
            want = oracles.topk(
                st["vector"],
                st["id"],
                _query_vec(self.spec, q["text"]),
                k=TOP_K,
                threshold=THRESHOLD,
                texts=st["text"],
                doc_types=st["document_type"],
                search_term=q["search_term"],
                document_type=q["document_type"],
            )
            want_ids = [int(st["id"][j]) for j in want]
            if q["kind"] == "rag":
                want_texts = [text_of[j] for j in want_ids]
                got = _rag_contexts(o.out["prompt"], q["text"]) if o.out["prompt"] else []
                o.ok = got == want_texts
                hits += sum(g in want_texts for g in got)
            else:
                got = o.out["ids"]
                o.ok = got == want_ids
                hits += len(set(got) & set(want_ids))
            expected += len(want_ids)
        return {"recall_at_k": hits / expected if expected else 1.0}


class Dedup(Workload):
    """Corpus maintenance over a store with planted near-duplicate clusters.
    One operation is one maintenance pass: ``dedup_semantic`` (counting the
    kept rows), then ``train_val_test_split`` (collected); each half is
    timed too, so the report can tell them apart."""

    name = "dedup"

    def guard(self) -> dict:
        return cosine_guard(self.docs, self.spec, need_dups=True)

    def op(self, i: int):
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        kept = self.db.dedup_semantic(threshold=DEDUP_THRESHOLD).where(F.col("keep")).count()
        t1 = time.perf_counter()
        rows = self.db.train_val_test_split(threshold=DEDUP_THRESHOLD).collect()
        t2 = time.perf_counter()
        return {
            "kept": kept,
            "split": {int(r["id"]): r["split"] for r in rows},
            "dedup_s": t1 - t0,
            "split_s": t2 - t1,
        }

    def check(self, ops) -> dict:
        st = oracles.read_store(self.db_path, ["id", "vector"])
        labels, borderline = oracles.near_dup_labels(st["vector"], st["id"], DEDUP_THRESHOLD)
        kept = len(np.unique(labels))
        sizes = np.unique(labels, return_counts=True)[1]
        info = {
            "oracle_kept": kept,
            "borderline_pairs": borderline,
            "largest_cluster_share": float(sizes.max() / len(labels)),
            "dedup_s_median": statistics.median(o.out["dedup_s"] for o in ops),
            "split_s_median": statistics.median(o.out["split_s"] for o in ops),
        }
        for o in ops:
            # every chunk gets a split, and no oracle cluster spans two
            split_of = np.array([o.out["split"].get(int(i), "") for i in st["id"]])
            o.ok = (
                o.out["kept"] == kept
                and len(o.out["split"]) == len(st["id"])
                and all(len(set(split_of[labels == lab])) == 1 for lab in np.unique(labels))
            )
            info["splits"] = {s: int((split_of == s).sum()) for s in sorted(set(split_of))}
        return info


WORKLOADS = {w.name: w for w in (Ingest, Query, Dedup)}


@dataclass
class Op:
    i: int
    wall_s: float
    out: object
    error: str | None
    stats: object
    traced: bool
    ok: bool = False


def layer_probes(spark, tracer: Tracer, wl: Workload) -> tuple[dict, int, int]:
    """Time each layer's public function on its own, on this workload's
    documents and embedder, with its input materialized first.  Returns
    (per-layer metrics, checks attempted, checks failed)."""
    from pyspark.sql import functions as F

    from vectordb_light_spark.engine import VectorDB
    from vectordb_light_spark.functions.embedding import embed_documents
    from vectordb_light_spark.operators.chunker import split_fixed_size
    from vectordb_light_spark.operators.components import duplicate_clusters
    from vectordb_light_spark.operators.ingest import build_chunks, create_database
    from vectordb_light_spark.operators.sampling import leakage_safe_split
    from vectordb_light_spark.operators.similarity import cosine_pairs

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    m: dict = {}
    op = 10_000
    cfg = _ingest_cfg(wl.spec)
    docs = spark.read.parquet(wl.docs_path).localCheckpoint(eager=True)
    n_docs = docs.count()

    _, split = tracer.call(
        "chunker.split_fixed_size",
        noop(split_fixed_size(docs, chunk_size=cfg.chunk_size, chunk_overlap=cfg.chunk_overlap, partition_cols=["hash"])),
        op=op,
    )
    _, chunked = tracer.call("ingest.build_chunks", noop(build_chunks(docs, cfg)), op=op)
    chunks = build_chunks(docs, cfg).localCheckpoint(eager=True)
    n_chunks = chunks.count()
    _, embed = tracer.call("embedding.embed_documents", noop(embed_documents(chunks, wl.spec)), op=op)
    m["chunker.split_s"] = split.wall_s
    m["text.normalize_s"] = chunked.wall_s - split.wall_s
    m["chunker.chunks_per_doc"] = n_chunks / n_docs
    m["embedding.embed_s"] = embed.wall_s
    m["embedding.executor_cpu_s"] = embed.executor_cpu_s

    root = os.path.join(wl.work, "probe")
    _, build = tracer.call(
        "ingest.create_database",
        lambda: create_database(spark, spark.read.parquet(wl.docs_path), root, "db", cfg),
        op=op,
    )
    vec_dir = os.path.join(root, "db", "vectors")
    m["ingest.write_s"] = build.wall_s - chunked.wall_s - embed.wall_s
    m["ingest.jobs"] = build.jobs
    m["ingest.files"] = sum(f.endswith(".parquet") for f in os.listdir(vec_dir))
    m["ingest.shuffle_write_bytes"] = build.shuffle_write_bytes

    cached_before = tracer.acct.cached_bytes()

    def open_db():
        db = VectorDB.open(spark, root, "db", cache=True)
        db.vectors.count()
        return db

    db, opened = tracer.call("engine.open", open_db, op=op)
    m["engine.open_s"] = opened.wall_s
    m["engine.cache_bytes"] = tracer.acct.cached_bytes() - cached_before

    st = oracles.read_store(os.path.join(root, "db"), ["id", "vector"])
    qs = corpus.queries(wl.seed + 104729, wl.docs, N_PROBE_QUERIES)
    per_q = {k: [] for k in ("embed", "build", "exec", "format", "jobs", "tasks", "cpu", "scan", "recall")}
    failed = 0
    for j, q in enumerate(qs):
        text = q["text"]
        with tracer.span("search.probe", op=op + 1 + j):
            t0 = time.perf_counter()
            db.embed(text)
            per_q["embed"].append(time.perf_counter() - t0)
            df, built = tracer.call("search.build", lambda: db.search(text, params=_params()), op=op + 1 + j)
            rows, ran = tracer.call("search.exec", lambda: df.select("id", "text").collect(), op=op + 1 + j)
            # rag_prompt repeats a search that keeps speeding up as it is
            # repeated, so its formatting cost is measured against the mean
            # of the same search run just before and just after it
            def repeat():
                return tracer.call(
                    "search.repeat",
                    lambda: db.search(text, params=_params()).select("text").collect(),
                    op=op + 1 + j,
                )[1]

            before = repeat()
            _, rag = tracer.call("engine.rag_prompt", lambda: _rag_or_none(db, text), op=op + 1 + j)
            after = repeat()
        scanned = db.last_search_stats["n_scanned"]
        want = oracles.topk(st["vector"], st["id"], _query_vec(wl.spec, text), k=TOP_K, threshold=THRESHOLD)
        want_ids = [int(st["id"][i]) for i in want]
        got = [int(r["id"]) for r in rows]
        failed += got != want_ids
        per_q["recall"].append(len(set(got) & set(want_ids)) / len(want_ids) if want_ids else 1.0)
        per_q["build"].append(built.wall_s)
        per_q["exec"].append(ran.wall_s)
        per_q["format"].append(rag.wall_s - (before.wall_s + after.wall_s) / 2)
        per_q["jobs"].append(built.jobs + ran.jobs)
        per_q["tasks"].append(built.tasks + ran.tasks)
        per_q["cpu"].append(built.executor_cpu_s + ran.executor_cpu_s)
        per_q["scan"].append(scanned / max(1, len(rows)))
    med = {k: statistics.median(v) for k, v in per_q.items()}
    m["embedding.query_ms"] = med["embed"] * 1e3
    m["engine.format_ms"] = med["format"] * 1e3
    m["search.build_ms"] = med["build"] * 1e3
    m["search.exec_ms"] = med["exec"] * 1e3
    m["search.jobs_per_op"] = med["jobs"]
    m["search.tasks_per_op"] = med["tasks"]
    m["search.executor_cpu_ms_per_op"] = med["cpu"] * 1e3
    m["search.rows_scanned_per_result"] = med["scan"]
    m["search.recall_at_k"] = statistics.mean(per_q["recall"])

    pairs_df = cosine_pairs(
        db.vectors, id_col="id", vec_col="vector", threshold=DEDUP_THRESHOLD,
        n_rows=int(db.meta["num_vectors"]), dim=int(db.meta["dimensions"]),
    )
    pairs, paired = tracer.call(
        "similarity.cosine_pairs", lambda: pairs_df.localCheckpoint(eager=True), op=op + 100
    )
    m["similarity.pairs_s"] = paired.wall_s
    m["similarity.pairs"] = pairs.count()
    m["similarity.jobs"] = paired.jobs

    cc_stats: dict = {}
    clusters, cc = tracer.call(
        "components.duplicate_clusters",
        lambda: duplicate_clusters(
            pairs, left_id="id_a", right_id="id_b", pointer_jumping="auto", stats=cc_stats
        ).localCheckpoint(eager=True),
        op=op + 100,
    )
    m["components.cc_s"] = cc.wall_s
    m["components.rounds"] = cc_stats.get("rounds", 0)
    m["components.jobs"] = cc.jobs
    m["components.shuffle_bytes"] = cc.shuffle_write_bytes

    routed = leakage_safe_split(
        db.vectors.select("id"),
        clusters.where(F.col("cluster_size") > 1).select(F.col("doc_id").alias("id"), "cluster_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="id",
        cluster_col="cluster_id",
    )
    _, route = tracer.call("sampling.leakage_safe_split", noop(routed), op=op + 100)
    m["sampling.route_s"] = route.wall_s

    # the two maintenance calls of the dedup workload, one at a time
    _, dd = tracer.call(
        "engine.dedup_semantic",
        lambda: db.dedup_semantic(threshold=DEDUP_THRESHOLD).where(F.col("keep")).count(),
        op=op + 101,
    )
    _, sp = tracer.call(
        "engine.train_val_test_split",
        lambda: db.train_val_test_split(threshold=DEDUP_THRESHOLD).collect(),
        op=op + 102,
    )
    m["engine.dedup_s"] = dd.wall_s
    m["engine.split_s"] = sp.wall_s
    db.close()
    return m, len(qs), failed


def _rag_or_none(db, text: str):
    try:
        return db.rag_prompt(text, _params())
    except ValueError:
        return None


def run(args) -> dict:
    from vectordb_light_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.time() - args.t0
    tracer = Tracer(SparkAccounting(spark) if args.trace else None)
    try:
        return _run(spark, tracer, args, session_s)
    finally:
        if tracer.enabled:
            out_dir = os.path.join(os.getcwd(), ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        stop_spark(spark)


def log(args, msg: str) -> None:
    print(f"[{time.time() - args.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _run(spark, tracer: Tracer, args, session_s: float) -> dict:
    log(args, "session ready")
    wl = WORKLOADS[args.workload](spark, args.seed, args.workdir)
    setup_times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(rep)
        setup_times.append(time.perf_counter() - t0)
    log(args, "set-up done")
    wl.warm()
    log(args, "warm-up done")

    # a traced run needs at least one traced and one untraced operation
    min_ops = 2 if tracer.enabled else 1
    ops: list[Op] = []
    deadline = time.perf_counter() + args.seconds
    while len(ops) < min_ops or time.perf_counter() < deadline:
        i = len(ops)
        traced = tracer.enabled and i % 2 == 1
        t0 = time.perf_counter()
        out = stats = err = None
        try:
            if traced:
                out, stats = tracer.call(f"op.{wl.name}", lambda: wl.op(i), op=i)
            else:
                out = wl.op(i)
        except Exception:  # one failed operation must not end the run
            err = traceback.format_exc()
            print(err, file=sys.stderr)
        ops.append(Op(i, time.perf_counter() - t0, out, err, stats, traced))

    log(args, f"{len(ops)} operations done")
    done = [o for o in ops if o.error is None]
    info = wl.check(done) if done else {}
    log(args, "outputs checked")
    attempted, failed = len(ops), sum(not o.ok for o in ops)
    good = [o for o in ops if o.ok] or ops

    report = {
        "workload": wl.name,
        "seed": args.seed,
        "ops": len(ops),
        "op_ms": [round(o.wall_s * 1e3) for o in ops[:60]],
        "failed_frac": failed / attempted,
        "store_chunks": [wl.chunks(o.out) for o in done[:1]],
        "setup_reps_s": [round(t, 3) for t in setup_times],
        "session_start_s": round(session_s, 3),
        "guard": wl.guard_info,
        **info,
    }
    if not args.trace:
        metrics = {
            "setup_s": (session_s + statistics.median(setup_times), "s"),
            "op_p50_ms": (statistics.median(o.wall_s for o in good) * 1e3, "ms"),
            "store_bytes_per_text_byte": (wl.store_ratio(), "ratio"),
        }
    else:
        layer, probe_n, probe_failed = layer_probes(spark, tracer, wl)
        attempted += probe_n
        failed += probe_failed
        traced = [o.stats for o in ops if o.traced and o.stats is not None]
        plain = [o.wall_s for o in ops if not o.traced and o.error is None]
        layer["session.start_s"] = session_s
        for field in (
            "jobs",
            "stages",
            "tasks",
            "executor_run_s",
            "executor_cpu_s",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
            "driver_gap_s",
        ):
            layer[f"spark.{field}"] = statistics.median(getattr(s, field) for s in traced) if traced else 0
        # every operation of a workload is the same kind, so traced and
        # untraced medians compare like with like
        layer["trace.overhead_frac"] = (
            statistics.median(s.wall_s for s in traced) / statistics.median(plain) - 1.0
            if traced and plain
            else 0.0
        )
        metrics = {k: (v, UNITS[k]) for k, v in layer.items()}
    return {
        "report": report,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


#: units of the per-layer metrics (end-to-end units are set in ``_run``)
UNITS = {
    "session.start_s": "s",
    "chunker.split_s": "s",
    "chunker.chunks_per_doc": "chunks/doc",
    "text.normalize_s": "s",
    "embedding.embed_s": "s",
    "embedding.executor_cpu_s": "s",
    "embedding.query_ms": "ms",
    "ingest.write_s": "s",
    "ingest.jobs": "count",
    "ingest.files": "count",
    "ingest.shuffle_write_bytes": "bytes",
    "engine.open_s": "s",
    "engine.cache_bytes": "bytes",
    "engine.format_ms": "ms",
    "engine.dedup_s": "s",
    "engine.split_s": "s",
    "search.build_ms": "ms",
    "search.exec_ms": "ms",
    "search.jobs_per_op": "count",
    "search.tasks_per_op": "count",
    "search.executor_cpu_ms_per_op": "ms",
    "search.rows_scanned_per_result": "ratio",
    "search.recall_at_k": "fraction",
    "similarity.pairs_s": "s",
    "similarity.pairs": "count",
    "similarity.jobs": "count",
    "components.cc_s": "s",
    "components.rounds": "count",
    "components.jobs": "count",
    "components.shuffle_bytes": "bytes",
    "sampling.route_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_gap_s": "s",
    "trace.overhead_frac": "fraction",
}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()
    result = run(args)
    log(args, "spark stopped")
    report = result.pop("report")
    for k, v in report.items():
        print(f"# {k}: {v}")
    for k, v in result["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"attempted={result['attempted']} failed={result['failed']} correct={result['correct']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
