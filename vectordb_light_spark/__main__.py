"""Command-line surface: ``python -m vectordb_light_spark <cmd>``.

The reference is a desktop GUI (reference gui.py); this CLI covers
the same user operations — build a database from a folder, search
it, manage backups — plus the engine's beyond-reference surfaces
(hybrid/diverse search, SRP index build, compaction). Results print
as JSON lines so the CLI composes with shell pipelines.

    python -m vectordb_light_spark ingest  --src DIR --db-root R --name N
    python -m vectordb_light_spark search  --db-root R --name N --query "..." [--k 6]
    python -m vectordb_light_spark hybrid  --db-root R --name N --query "..."
    python -m vectordb_light_spark diverse --db-root R --name N --query "..."
    python -m vectordb_light_spark curate --input P.parquet --output OUT \
        [--stages exact_dedup,repetition,gopher,quality] [--bench B.parquet]
    python -m vectordb_light_spark srp-index --db-root R --name N
    python -m vectordb_light_spark compact --db-root R --name N
    python -m vectordb_light_spark list    --db-root R
    python -m vectordb_light_spark backup  --db-root R --name N --backup-root B
    python -m vectordb_light_spark restore --db-root R --name N --backup-root B
    python -m vectordb_light_spark delete  --db-root R --name N
"""

from __future__ import annotations

import argparse
import json
import os
import sys



def _parse_weights(s: str) -> dict[str, float]:
    """'name:frac,name:frac' -> {name: frac} (shared by curate
    --split-weights and the split subcommand)."""
    out = {}
    for kv in s.split(","):
        if not kv.strip():
            continue
        name, _, frac = kv.partition(":")
        out[name.strip()] = float(frac)
    return out


def _emit(obj) -> None:
    print(json.dumps(obj, default=str))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="vectordb_light_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def common(p, db=True):
        p.add_argument("--db-root", required=True)
        if db:
            p.add_argument("--name", required=True)

    p = sub.add_parser("ingest")
    common(p)
    p.add_argument("--src", required=True)
    p.add_argument("--chunk-size", type=int, default=1200)
    p.add_argument("--chunk-overlap", type=int, default=600)
    # JSON embedder spec, e.g. '{"encoder": "hashing", "dim": 64}' or
    # '{"encoder": "mini-transformer", "dim": 64}' (reference: model picker,
    # constants.py:3-68)
    p.add_argument("--embedder-spec", default=None)

    for cmd in ("search", "hybrid", "diverse", "chunks-only", "rag-prompt", "rag-chat"):
        p = sub.add_parser(cmd)
        common(p)
        p.add_argument("--query", required=True)
        p.add_argument("--k", type=int, default=6)
        if cmd in ("search", "chunks-only", "rag-prompt", "rag-chat"):
            p.add_argument("--threshold", type=float, default=0.4)
        if cmd == "search":
            p.add_argument("--search-term", default=None)
            p.add_argument("--document-type", default=None)
            p.add_argument("--ann-radius", type=int, default=None)
        if cmd == "rag-chat":
            # entry point C (reference chat_llm.py:54-164): stream the
            # RAG completion from an OpenAI-protocol server
            p.add_argument("--base-url", required=True)
            p.add_argument("--model", default="local-model")
            p.add_argument("--api-key", default="not-needed")

    # training-data curation over a parquet corpus (beyond-reference
    # surface; operators/curate_pipeline.py)
    p = sub.add_parser("curate")
    p.add_argument("--input", required=True, help="parquet with doc_id,text")
    p.add_argument("--output", required=True, help="survivor parquet dir")
    p.add_argument(
        "--stages",
        default=None,
        help="comma list from operators/curate_pipeline.STAGES "
        "(default: exact_dedup,repetition,gopher,quality)",
    )
    p.add_argument("--bench", default=None,
                   help="benchmark parquet for the decontaminate / "
                   "bloom_decontaminate stages")
    p.add_argument("--decontaminate-n", type=int, default=8,
                   help="token n-gram width for the decontaminate / "
                   "bloom_decontaminate stages")
    p.add_argument("--gopher-stopwords", default=None,
                   help="comma list replacing the 8 English Gopher "
                   "required words (REQUIRED for non-English or "
                   "synthetic corpora — the default keeps zero rows "
                   "on a corpus with no English function words)")
    p.add_argument("--readability-max-grade-milli", type=int,
                   default=30000,
                   help="readability stage: keep FK grade*1000 <= this")
    p.add_argument("--curriculum-stages", type=int, default=10,
                   help="curriculum stage count (easy-first ordering)")
    p.add_argument("--curriculum-seed", type=int, default=0,
                   help="curriculum within-stage shuffle seed")
    p.add_argument("--split-weights", default=None,
                   help="name:frac pairs for the terminal 'split' stage "
                   "(e.g. train:0.8,val:0.1,test:0.1)")
    p.add_argument("--no-report", action="store_true",
                   help="skip per-stage counts: the chain stays one lazy "
                   "plan and costs exactly the final write")

    common(sub.add_parser("srp-index"))
    common(sub.add_parser("pq-index"))
    common(sub.add_parser("ivf-index"))
    common(sub.add_parser("compact"))
    common(sub.add_parser("list"), db=False)
    p = sub.add_parser("backup")
    common(p)
    p.add_argument("--backup-root", required=True)
    p = sub.add_parser("restore")
    common(p)
    p.add_argument("--backup-root", required=True)
    common(sub.add_parser("delete"))
    p = sub.add_parser("split")
    common(p)
    p.add_argument("--weights", default="train:0.8,val:0.1,test:0.1",
                   help="name:frac pairs, comma-separated")
    p.add_argument("--threshold", type=float, default=0.9,
                   help="near-dup cosine threshold for cluster routing")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--output", required=True,
                   help="parquet destination for (id, split)")

    a = ap.parse_args(argv)

    # Management commands that need no Spark session:
    from vectordb_light_spark.operators.ingest import (
        backup_database,
        delete_database,
        list_databases,
        restore_database,
    )

    if a.cmd == "list":
        _emit({"databases": list_databases(a.db_root)})
        return 0
    if a.cmd == "backup":
        _emit({"backed_up_to": backup_database(a.db_root, a.name, a.backup_root)})
        return 0
    if a.cmd == "restore":
        _emit({"restored_to": restore_database(a.backup_root, a.name, a.db_root)})
        return 0
    if a.cmd == "delete":
        delete_database(a.db_root, a.name)
        _emit({"deleted": a.name})
        return 0

    from vectordb_light_spark.session import get_spark

    spark = get_spark("vectordb-light-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if a.cmd == "ingest":
        from vectordb_light_spark.operators.ingest import (
            IngestConfig,
            create_database,
        )
        from vectordb_light_spark.sources.extract import load_directory

        docs, rejects = load_directory(spark, a.src)
        meta = create_database(
            spark,
            docs,
            a.db_root,
            a.name,
            IngestConfig(
                chunk_size=a.chunk_size,
                chunk_overlap=a.chunk_overlap,
                **(
                    {"embedder_spec": json.loads(a.embedder_spec)}
                    if a.embedder_spec
                    else {}
                ),
            ),
        )
        _emit({"meta": meta, "n_rejects": rejects.count()})
        return 0

    if a.cmd == "curate":
        from vectordb_light_spark.operators.curate_pipeline import (
            DEFAULT_STAGES,
            run_curation,
        )

        docs = spark.read.parquet(a.input)
        stages = (
            [s.strip() for s in a.stages.split(",") if s.strip()]
            if a.stages
            else list(DEFAULT_STAGES)
        )
        ctx = {
            "decontaminate_n": a.decontaminate_n,
            "readability_max_grade_milli": a.readability_max_grade_milli,
            "curriculum_stages": a.curriculum_stages,
            "curriculum_seed": a.curriculum_seed,
        }
        if a.gopher_stopwords:
            ctx["gopher_stopwords"] = [
                s.strip() for s in a.gopher_stopwords.split(",") if s.strip()
            ]
        if a.bench:
            ctx["bench"] = spark.read.parquet(a.bench)
        if a.split_weights:
            ctx["split_weights"] = _parse_weights(a.split_weights)
            # --split-weights without the split stage was a silent
            # no-op (ADVICE r10): the ctx key was set but never read.
            # The flag is an unambiguous ask for the stage — insert
            # it at its contractual position (after every gate,
            # BEFORE curriculum: the split's routing join would
            # otherwise discard the curriculum output order) and say
            # so.
            if "split" not in stages:
                at = (
                    stages.index("curriculum")
                    if "curriculum" in stages
                    else len(stages)
                )
                stages.insert(at, "split")
                print(
                    "curate: --split-weights implies the 'split' stage; "
                    "inserting it before any curriculum ordering (pass "
                    "--stages ...,split to place it yourself)",
                    file=sys.stderr,
                )
        survivors, reports = run_curation(
            docs, stages, report=not a.no_report, **ctx
        )
        survivors.write.mode("overwrite").parquet(a.output)
        for r in reports:
            _emit(r)
        # Count the WRITTEN parquet, not the lazy chain: re-counting
        # `survivors` would re-execute every curation stage a second
        # time, breaking the "--no-report costs exactly the final
        # write" contract (reading the fresh footer metadata back is
        # a metadata-only job at any scale).
        _emit({"output": a.output, "stages": stages,
               "rows_out": spark.read.parquet(a.output).count()})
        return 0

    if a.cmd == "compact":
        from vectordb_light_spark.operators.ingest import compact_vectors

        _emit(compact_vectors(spark, os.path.join(a.db_root, a.name)))
        return 0

    from vectordb_light_spark.engine import SearchParams, VectorDB

    db = VectorDB.open(spark, a.db_root, a.name, cache=False)
    if a.cmd == "srp-index":
        db.build_srp_index()
        _emit({"srp_index": db.meta["srp_index"]})
        return 0
    if a.cmd == "pq-index":
        db.build_pq_index()
        _emit({"pq_index": db.meta["pq_index"]})
        return 0
    if a.cmd == "ivf-index":
        db.build_ivf_index()
        _emit({"ivf_index": db.meta["ivf_index"]})
        return 0
    if a.cmd == "split":
        weights = _parse_weights(a.weights)
        out = db.train_val_test_split(
            weights, threshold=a.threshold, seed=a.seed
        )
        out.write.mode("overwrite").parquet(a.output)
        from pyspark.sql import functions as F

        counts = {
            r["split"]: r["n"]
            for r in spark.read.parquet(a.output)
            .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        _emit({"output": a.output, "splits": counts})
        return 0

    if a.cmd == "search":
        rows = db._search_rows(
            a.query,
            params=SearchParams(
                k=a.k,
                threshold=a.threshold,
                search_term=a.search_term,
                document_type=a.document_type,
            ),
            ann_radius=a.ann_radius,
        )
        for r in rows:
            _emit(r.asDict(recursive=True))
        return 0
    if a.cmd == "hybrid":
        for r in db.search_hybrid(a.query, k=a.k).collect():
            _emit(r.asDict(recursive=True))
        return 0
    if a.cmd == "diverse":
        for r in db.search_diverse(a.query, k=a.k).collect():
            _emit(r.asDict(recursive=True))
        return 0
    if a.cmd == "chunks-only":
        # the reference GUI's "Chunks Only" mode — formatted contexts
        print(db.chunks_only(a.query, SearchParams(k=a.k, threshold=a.threshold)))
        return 0
    if a.cmd == "rag-prompt":
        # the assembled RAG prompt (the reference sends this to an LLM;
        # the LLM call sits above the engine API)
        print(db.rag_prompt(a.query, SearchParams(k=a.k, threshold=a.threshold)))
        return 0
    if a.cmd == "rag-chat":
        from vectordb_light_spark.chat import ChatConfig, stream_chat

        prompt = db.rag_prompt(a.query, SearchParams(k=a.k, threshold=a.threshold))
        for delta in stream_chat(
            prompt,
            ChatConfig(base_url=a.base_url, model=a.model, api_key=a.api_key),
        ):
            print(delta, end="", flush=True)
        print()
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
