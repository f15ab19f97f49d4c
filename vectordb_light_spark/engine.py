"""VectorDB — the engine's user-facing API: open a built database,
search it, format results (SURVEY §3.2/§3.3 entry points B and C).

Read path per query (reference QueryVectorDB.search,
vector_db_query.py:140-263):

    Q1 embed query (driver-side, with the DB's own stored embedder)
    Q2 exact top-k cosine over the vectors table (dot product — the
       write path L2-normalizes every vector)
    Q4 clip to [0,1]
    Q5 threshold AFTER top-k (may return < k rows)
    Q8 case-insensitive search-term substring post-filter
    Q9 document-type equality post-filter
    Q10 rank-ordered DataFrame out

plus the three presentation operators:
    Q11 chunks-only banner formatting (vector_db_query.py:54-78)
    Q12 RAG prompt assembly (chat_llm.py:30-51)
    Q14 citation aggregation (operators.citations)

Q2-Q10 are rendered once (operators/search.py:search_sql, shared
with ``topk_cosine``) over a temp view of the vectors table private
to each open ``VectorDB``. ``search`` returns the lazy ranked text
for consumers that compose it (hybrid, diverse, citations, user
code). The terminal consumers that end in at most k rows — Q11
``chunks_only``, Q12 ``rag_prompt`` and the CLI ``search`` — collect
the root top-k text instead (``_search_rows``): one stage, with the
post-top-k predicate and the rank applied to the collected rows. The
reference's per-search stats (vector_db_query.py:184-201) are
computed on read by ``last_search_stats``, for either form.

The per-database warm cache (Q15, vector_db_query.py:289-317) maps to
``DataFrame.cache()`` on the vectors table: the view reads the cached
frame, so the first search materializes the columnar scan and later
searches skip I/O.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from vectordb_light_spark.functions.embedding import embed_query
from vectordb_light_spark.operators.citations import format_citations
from vectordb_light_spark.operators.ingest import META_FILE
from vectordb_light_spark.operators.search import SearchParams, search_sql

#: Reference prompt strings (constants.py:207-208), reproduced for
#: Q12 parity.
RAG_STRING = (
    "Here are the contexts to base your answer on.  However, I need to "
    "reiterate that I only want you to base your response on these contexts "
    "and do not use outside knowledge that you may have been trained with."
)
SYSTEM_MESSAGE = (
    "You are a helpful person who clearly and directly answers questions in "
    "a succinct fashion based on contexts provided to you. If you cannot "
    "find the answer within the contexts simply tell me that the contexts "
    "do not provide an answer. However, if the contexts partially address "
    "my question I still want you to answer based on what the contexts say "
    "and then briefly summarize the parts of my question that the contexts "
    "didn't provide an answer."
)


def with_parsed_metadata(df, json_col: str, schema, *, out_col: str = "meta"):
    """Q7: parse a JSON metadata string column into a typed struct,
    SILENTLY DROPPING rows whose JSON is malformed (reference
    vector_db_query.py:236-238 skips them, never errors).

    Spark's PERMISSIVE from_json yields an all-null struct for bad
    input (not a null), so malformed rows are detected via a corrupt-
    record field appended to the schema."""
    from pyspark.sql.types import StringType, StructField, StructType

    probe = StructType(list(schema.fields) + [StructField("_corrupt", StringType())])
    parsed = df.withColumn(
        out_col,
        F.from_json(
            F.col(json_col), probe, {"columnNameOfCorruptRecord": "_corrupt"}
        ),
    )
    return (
        parsed.where(F.col(f"{out_col}._corrupt").isNull())
        .withColumn(out_col, F.col(out_col).dropFields("_corrupt"))
    )


#: Index-implementation columns added to ``vectors/`` by the index
#: builders; dropped from every search result so building an index
#: never changes a consumer-visible result schema.
_INDEX_COLS = ("srp_sig", "pq_code", "ivf_cluster")


class VectorDB:
    """An opened database: vectors + documents tables + _meta."""

    def __init__(self, spark: SparkSession, path: str, *, cache: bool = True):
        self.spark = spark
        self.path = path
        self._cache = cache
        with open(os.path.join(path, META_FILE)) as f:
            self.meta = json.load(f)
        self._recover_interrupted_swap()
        # every open database searches through its own view name
        self._view = f"vectordb_{uuid.uuid4().hex}"
        self._last_search: tuple[str, float] | None = None
        self._load_vectors()
        self._documents: DataFrame | None = None

    @property
    def documents(self) -> DataFrame:
        """The documents table, read on first access: nothing in the
        package reads it, so an open pays no listing and schema job
        for it."""
        if self._documents is None:
            self._documents = self.spark.read.parquet(
                os.path.join(self.path, "documents")
            )
        return self._documents

    @property
    def vectors(self) -> DataFrame:
        return self._vectors

    @vectors.setter
    def vectors(self, df: DataFrame) -> None:
        """Replacing the store re-registers the search view over it
        (Spark uncaches the plan of the view it replaces)."""
        self._vectors = df
        self._columns = df.columns
        df.createOrReplaceTempView(self._view)

    def _load_vectors(self) -> None:
        vectors = self.spark.read.parquet(os.path.join(self.path, "vectors"))
        # Q15 warm cache: keep the columnar scan hot across queries
        # (the CLI opens cache=False).
        self.vectors = vectors.cache() if self._cache else vectors

    def _recover_interrupted_swap(self) -> None:
        """Restore a consistent (vectors, _index artifacts) snapshot
        after a crash anywhere in an index build. Builders run: stage
        artifacts to ``_index.tmp`` → write ``vectors.<tier>-tmp`` →
        rename vectors aside (``-old``) → rename tmp in → commit
        artifacts (``_index`` → ``_index.old``, ``.tmp`` → ``_index``)
        → remove ``-old`` + ``_index.old`` together → write
        ``_meta.json``. So on open:

        - a surviving ``vectors.<tier>-old`` means the build never
          reached joint cleanup — ROLL BACK: restore the newest
          ``-old`` as ``vectors/`` (discarding a half-adopted new
          store) and restore ``_index.old`` if the artifact commit
          had started. Rolling forward is never safe here because the
          artifact/vector pairing can't be verified.
        - no ``-old`` means any ``_index.tmp`` / ``_index.old`` /
          ``vectors.*-tmp`` leftovers are garbage from a build that
          either finished cleanup or never touched ``vectors/`` —
          remove them.

        ``_meta.json`` is written strictly last, so a crash before it
        costs at most a cosmetically-stale parameter block (search
        reads PQ/IVF geometry from the artifact arrays, not meta) —
        never NEW centroids/codebooks ranked against OLD assignments.

        When multiple ``-old`` dirs exist (compound crashes across
        different builds), the MOST RECENTLY MODIFIED one is the true
        pre-crash store — a fixed tier order could resurrect a stale
        snapshot and silently lose rows ingested between builds.
        """
        import shutil

        vectors_dir = os.path.join(self.path, "vectors")
        index_dir = os.path.join(self.path, "_index")
        leftovers = [
            os.path.join(self.path, d)
            for d in os.listdir(self.path)
            if d.startswith("vectors.")
            and (d.endswith("-old") or d.endswith("-tmp"))
        ]
        olds = [d for d in leftovers if d.endswith("-old") and os.path.isdir(d)]
        if olds:
            # build died before joint cleanup: roll back vectors AND
            # artifacts to the matching pre-build snapshot
            newest = max(olds, key=os.path.getmtime)
            shutil.rmtree(vectors_dir, ignore_errors=True)
            os.rename(newest, vectors_dir)
            for d in leftovers:
                if d != newest:
                    shutil.rmtree(d, ignore_errors=True)
            if os.path.isdir(index_dir + ".old"):
                shutil.rmtree(index_dir, ignore_errors=True)
                os.rename(index_dir + ".old", index_dir)
        else:
            for d in leftovers:
                shutil.rmtree(d, ignore_errors=True)
            if not os.path.isdir(index_dir) and os.path.isdir(index_dir + ".old"):
                # standalone save_index_artifacts crashed between its
                # two renames (_index → _index.old done, .tmp → _index
                # not): _index.old is the ONLY surviving artifact copy
                # and _meta.json still advertises the index — roll it
                # back before the cleanup below would destroy it.
                os.rename(index_dir + ".old", index_dir)
            shutil.rmtree(index_dir + ".old", ignore_errors=True)
        shutil.rmtree(index_dir + ".tmp", ignore_errors=True)

    @classmethod
    def open(cls, spark: SparkSession, db_root: str, name: str, **kw) -> "VectorDB":
        return cls(spark, os.path.join(db_root, name), **kw)

    # -- search ---------------------------------------------------------

    def embed(self, query_text: str) -> list[float]:
        """Q1: embed with the database's own stored embedder spec."""
        return embed_query(query_text, self.meta["embedder"])

    def _query_vector(
        self, query_text: str | None, query_vector: list[float] | None
    ) -> list[float]:
        """The search entry points' query: ``query_vector`` as given,
        else the embedding of ``query_text``."""
        if query_vector is not None:
            return query_vector
        if query_text is None:
            raise ValueError("need query_text or query_vector")
        return self.embed(query_text)

    def _swap_vectors(
        self,
        tier: str,
        df: DataFrame,
        meta: dict,
        *,
        partition_by: str | None = None,
        artifacts: dict | None = None,
    ) -> None:
        """Replace ``vectors/`` with ``df``, written by
        :func:`~vectordb_light_spark.operators.ingest.write_vectors` (in
        IVF cluster directories when ``partition_by`` says so or the
        store has them), and record ``meta`` in ``_meta.json``, in the
        crash-safe order
        :meth:`_recover_interrupted_swap` relies on. ``artifacts`` are
        STAGED before the write and committed only after the vectors
        swap: committed artifacts must never get ahead of it (a crash
        would pair NEW codebooks/centroids with OLD codes/cluster
        assignments — silent wrong results)."""
        import shutil

        from vectordb_light_spark.operators.ingest import (
            commit_index_artifacts,
            stage_index_artifacts,
            store_partition,
            vector_files,
            write_vectors,
        )

        if artifacts:
            stage_index_artifacts(self.path, artifacts)
        vectors_dir = os.path.join(self.path, "vectors")
        tmp_dir = f"{vectors_dir}.{tier}-tmp"
        old_dir = f"{vectors_dir}.{tier}-old"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        # at most as many files per directory as the store has now
        files = vector_files(vectors_dir)
        n_dirs = len({os.path.dirname(f) for f in files}) or 1
        n_files = max(1, len(files) // n_dirs)
        partition_by = partition_by or store_partition(vectors_dir)
        write_vectors(df, tmp_dir, n_files, mode="error", partition_by=partition_by)
        # Release the old cached scan BEFORE the swap — re-caching
        # without unpersisting leaks the superseded blocks for the
        # session's lifetime.
        self.vectors.unpersist()
        # a stale -old dir from a crashed earlier build must not block
        # the rename below
        shutil.rmtree(old_dir, ignore_errors=True)
        os.rename(vectors_dir, old_dir)
        os.rename(tmp_dir, vectors_dir)
        if artifacts:
            commit_index_artifacts(self.path)
        # joint cleanup LAST: while vectors.<tier>-old exists, open-time
        # recovery still has the matching pre-build snapshot to restore
        shutil.rmtree(old_dir)
        shutil.rmtree(
            os.path.join(self.path, "_index.old"), ignore_errors=True
        )
        self.meta.update(meta)
        with open(os.path.join(self.path, META_FILE), "w") as f:
            json.dump(self.meta, f)
        self._load_vectors()

    def build_srp_index(self, *, n_planes: int = 16, seed: int = 42) -> None:
        """One-time ANN index build for an existing database: rewrite
        ``vectors/`` with the SRP signature column (atomic tmp+swap —
        a crash mid-build leaves the original intact), and record the
        plane parameters in ``_meta.json`` so query-side signatures
        always agree with the store. Streaming databases get the same
        column live via ``start_incremental_ingest(index_srp=True)``.
        """
        from vectordb_light_spark.operators.similarity import add_srp_signature

        fresh = self.spark.read.parquet(os.path.join(self.path, "vectors"))
        indexed = add_srp_signature(
            fresh, vec_col="vector", n_planes=n_planes,
            seed=seed, dim=int(self.meta.get("dimensions", 64)),
        )
        self._swap_vectors(
            "srp", indexed,
            {"srp_index": {"n_planes": n_planes, "seed": seed}},
        )

    def build_pq_index(
        self, *, m: int = 16, n_codes: int = 64, seed_note: str | None = None
    ) -> None:
        """One-time PQ index build: train sampled-Lloyd codebooks,
        persist them as ``_index/`` artifacts (atomic swap), and
        rewrite ``vectors/`` with the m-byte ``pq_code`` column (same
        atomic tmp+swap discipline as :meth:`build_srp_index`). After
        this, ``search(pq=True)`` scans codes (m bytes/row) instead of
        float vectors and exact-re-ranks the ADC pool."""
        from vectordb_light_spark.operators.similarity import (
            add_pq_codes,
            train_pq_codebooks,
        )

        fresh = self.spark.read.parquet(os.path.join(self.path, "vectors"))
        books = train_pq_codebooks(
            fresh, vec_col="vector", id_col="id", m=m, n_codes=n_codes
        )
        coded = add_pq_codes(fresh, books, vec_col="vector")
        self._swap_vectors(
            "pq", coded,
            {"pq_index": {"m": m, "n_codes": n_codes}},
            artifacts={"pq_codebooks": books},
        )

    def search_pq(
        self,
        query_text: str | None = None,
        *,
        query_vector: list[float] | None = None,
        k: int = 6,
        rerank_pool: int = 50,
    ) -> DataFrame:
        """Compressed-domain search over the PQ store: ADC scan of the
        m-byte codes + exact re-rank of the top ``rerank_pool``
        (ANN_EVAL.md operating point: recall@10 ≥ 0.92 at < 10%
        relative scan cost). Requires :meth:`build_pq_index`."""
        if "pq_index" not in self.meta:
            raise ValueError("no PQ index on this database — run build_pq_index()")
        import numpy as np

        from vectordb_light_spark.operators.ingest import load_index_artifacts
        from vectordb_light_spark.operators.similarity import ann_topk_pq

        query_vector = self._query_vector(query_text, query_vector)
        books = np.asarray(load_index_artifacts(self.path)["pq_codebooks"])
        return ann_topk_pq(
            self.vectors,
            books,
            query_vector,
            k=k,
            id_col="id",
            vec_col="vector",
            rerank_pool=rerank_pool,
        )

    def build_ivf_index(self, *, n_centroids: int = 16) -> None:
        """One-time IVF index build: train sampled-Lloyd centroids
        (operators/similarity.py train_ivf_centroids), persist them as
        ``_index/`` artifacts, and rewrite ``vectors/`` PARTITIONED BY
        nearest-centroid id — after this every :meth:`search_ivf`
        probe is a partition-pruned read that never opens the other
        clusters' files. Same atomic tmp+swap discipline as
        :meth:`build_pq_index`."""
        from vectordb_light_spark.operators.similarity import (
            add_ivf_cluster,
            train_ivf_centroids,
        )

        fresh = self.spark.read.parquet(os.path.join(self.path, "vectors"))
        centroids = train_ivf_centroids(
            fresh, vec_col="vector", id_col="id", n_centroids=n_centroids
        )
        clustered = add_ivf_cluster(fresh, centroids, vec_col="vector")
        self._swap_vectors(
            "ivf", clustered,
            {"ivf_index": {"n_centroids": n_centroids}},
            partition_by="ivf_cluster",
            artifacts={"ivf_centroids": centroids},
        )

    def search_ivf(
        self,
        query_text: str | None = None,
        *,
        query_vector: list[float] | None = None,
        k: int = 6,
        nprobe: int = 4,
    ) -> DataFrame:
        """Partition-pruned ANN over the IVF store: rank centroids
        driver-side (tiny), scan only the ``nprobe`` nearest
        clusters — with the partitioned layout from
        :meth:`build_ivf_index` the non-probed clusters' files are
        never opened. ``nprobe >= n_centroids`` degenerates to the
        exact scan. Requires :meth:`build_ivf_index`."""
        if "ivf_index" not in self.meta:
            raise ValueError(
                "no IVF index on this database — run build_ivf_index()"
            )
        import numpy as np

        from vectordb_light_spark.operators.ingest import load_index_artifacts
        from vectordb_light_spark.operators.similarity import ann_topk_ivf

        query_vector = self._query_vector(query_text, query_vector)
        centroids = np.asarray(load_index_artifacts(self.path)["ivf_centroids"])
        return ann_topk_ivf(
            self.vectors,
            centroids,
            query_vector,
            k=k,
            nprobe=nprobe,
            id_col="id",
            vec_col="vector",
        ).drop(*_INDEX_COLS)

    def search_batch(
        self,
        query_texts: list[str],
        *,
        k: int = 6,
        threshold: float = 0.0,
    ) -> DataFrame:
        """Batch search: ONE scan of the store serves every query
        (operators/search.py topk_cosine_batch — broadcast query
        matrix, per-partition block matmul, k rows per query per
        partition into the final rank). Returns (query_id, id,
        similarity_score, rank) with query_id = position in
        ``query_texts``."""
        from vectordb_light_spark.operators.search import topk_cosine_batch

        rows = [
            (i, [float(x) for x in self.embed(t)]) for i, t in enumerate(query_texts)
        ]
        queries = self.spark.createDataFrame(
            rows, "query_id long, query_vec array<float>"
        )
        return topk_cosine_batch(
            self.vectors,
            queries,
            k=k,
            threshold=threshold,
            id_col="id",
            vec_col="vector",
            assume_normalized=True,
        )

    def _search_text(
        self,
        query_text: str | None,
        query_vector: list[float] | None,
        params: SearchParams,
        ann_radius: int | None,
    ) -> tuple[str, str, dict]:
        """:func:`search_sql`'s ``(ranked, top, args)`` over this
        database's view, recorded as the latest search for
        :attr:`last_search_stats`."""
        query_vector = self._query_vector(query_text, query_vector)
        where = None
        if ann_radius is not None:
            if "srp_sig" not in self._columns:
                raise ValueError(
                    "no SRP index on this database — run build_srp_index() "
                    "or ingest with index_srp=True"
                )
            from vectordb_light_spark.operators.similarity import srp_radius_sql

            spec = self.meta.get("srp_index", {"n_planes": 16, "seed": 42})
            where = srp_radius_sql(
                query_vector, ann_radius,
                n_planes=int(spec["n_planes"]), seed=int(spec["seed"]),
            )

        # Write-path invariant: stored vectors are L2-normalized.
        scored, ranked, top, args = search_sql(
            self._view, self._columns, query_vector,
            dataclasses.replace(params, assume_normalized=True),
            drop=_INDEX_COLS, where=where,
        )
        self._last_search = (scored, params.threshold)
        return ranked, top, args

    def search(
        self,
        query_text: str | None = None,
        *,
        query_vector: list[float] | None = None,
        params: SearchParams = SearchParams(),
        ann_radius: int | None = None,
    ) -> DataFrame:
        """Q1-Q10; returns a rank-ordered DataFrame of surviving hits
        with similarity_score, text and the chunk metadata columns:
        the :func:`search_sql` ranked text over this database's view,
        built in one ``spark.sql`` call.

        ``ann_radius`` switches the scan from exact-FLAT to
        signature-pruned ANN: only rows whose SRP signature lies
        within the Hamming radius of the query's are exact-ranked —
        the rest are never dot-multiplied (requires
        :meth:`build_srp_index` or a stream maintained with
        ``index_srp=True``). At full radius (= n_planes) this degrades
        gracefully to the exact scan."""
        ranked, _, args = self._search_text(query_text, query_vector, params, ann_radius)
        return self.spark.sql(ranked, args)

    def _search_rows(
        self,
        query_text: str | None = None,
        *,
        query_vector: list[float] | None = None,
        params: SearchParams = SearchParams(),
        ann_radius: int | None = None,
    ) -> list[Row]:
        """:meth:`search`'s rows, collected for the consumers that end
        in them (Q11, Q12, the CLI): the :func:`search_sql` top-k text
        is the root of its plan, so it runs as one stage with no rank
        Window, and the post-top-k predicate is applied here to the
        ≤k collected rows. A row's rank is its position in the
        collected top-k, so surviving rows keep their original rank
        exactly as in :meth:`search`."""
        _, top, args = self._search_text(query_text, query_vector, params, ann_radius)
        rows = self.spark.sql(top, args).collect()
        return [  # __keep is the last column
            Row(**dict(zip(r.__fields__[:-1], r[:-1])), rank=rank)
            for rank, r in enumerate(rows, start=1)
            if r["__keep"]
        ]

    def search_hybrid(
        self,
        query_text: str,
        *,
        k: int = 6,
        fetch_k: int = 20,
        c: float = 60.0,
    ) -> DataFrame:
        """Hybrid retrieval (beyond-reference; operators/keyword.py):
        dense top-``fetch_k`` (cosine over stored vectors) and lexical
        top-``fetch_k`` (BM25 over the chunk text), fused by
        reciprocal rank (``1/(c+rank)`` summed per chunk), top-``k``.

        Catches what either arm alone misses: exact keywords the
        embedder smears out, paraphrases BM25 can't match. Returns
        (id, text, file_name, rrf_score, n_systems, rank).
        """
        from pyspark.sql import Window

        from vectordb_light_spark.operators.keyword import bm25_topk, rrf_fuse

        dense = self.search(
            query_text, params=SearchParams(k=fetch_k, threshold=0.0)
        ).select("id", "rank")
        terms = [t for t in query_text.split() if t.strip()]
        lex = bm25_topk(
            self.vectors.select("id", "text"),
            terms,
            k=fetch_k,
            id_col="id",
            text_col="text",
        ).select("id", "rank")

        fused = rrf_fuse([dense, lex], id_col="id", c=c)
        key = F.round(F.col("rrf_score"), 6)
        top = fused.orderBy(key.desc(), F.col("id").asc()).limit(k)
        w = Window.orderBy(key.desc(), F.col("id").asc())
        ranked = top.withColumn("rank", F.row_number().over(w))
        # late materialization: broadcast the ≤k survivors into one
        # pruned pass over the chunk table to fetch text
        return (
            self.vectors.select("id", "text", "file_name")
            .join(F.broadcast(ranked), "id")
            .orderBy("rank")
        )

    def search_diverse(
        self,
        query_text: str | None = None,
        *,
        query_vector: list[float] | None = None,
        k: int = 6,
        fetch_k: int = 24,
        lam: float = 0.5,
    ) -> DataFrame:
        """Diversified retrieval: exact top-``fetch_k`` pool, then MMR
        re-rank (operators/search.py:mmr_rerank) so near-duplicate
        chunks stop crowding the result — the query-time complement of
        the corpus dedup operators. Returns (id, similarity_score,
        mmr_score, mmr_rank, text, file_name) ordered by mmr_rank."""
        from vectordb_light_spark.operators.search import mmr_rerank

        query_vector = self._query_vector(query_text, query_vector)
        pool = self.search(
            query_vector=query_vector,
            params=SearchParams(k=fetch_k, threshold=0.0),
        ).select("id")
        pool_vecs = self.vectors.select("id", "vector", "text", "file_name").join(
            F.broadcast(pool), "id"
        )
        ranked = mmr_rerank(pool_vecs, query_vector, k=k, lam=lam, id_col="id")
        return (
            self.vectors.select("id", "text", "file_name")
            .join(F.broadcast(ranked), "id")
            .orderBy("mmr_rank")
        )

    # -- corpus dedup over the built store -------------------------------

    def _size_hints(self) -> dict:
        """``n_rows``/``dim`` for the tiered similarity operators,
        read from ``_meta.json`` instead of count()/first() probe
        jobs (r6 verdict item 6 — the ``left_rows`` pattern
        generalized): ``num_vectors`` and ``dimensions`` are written
        at build time and ``num_vectors`` re-synchronized by
        ``compact_vectors`` (the documented post-stream maintenance
        step), so tier dispatch over a built DB runs ZERO jobs before
        the first action. A stream-appended store that has not been
        compacted since may under-count; its tier gate has ~64x
        headroom at the default dims, and callers can always pass
        ``tier=`` explicitly."""
        hints: dict = {}
        if "num_vectors" in self.meta:
            hints["n_rows"] = int(self.meta["num_vectors"])
        if "dimensions" in self.meta:
            hints["dim"] = int(self.meta["dimensions"])
        return hints

    def near_duplicates(self, *, threshold: float = 0.9, **kw) -> DataFrame:
        """Embedding-cosine near-duplicate pairs over the stored
        vectors (operators/similarity.py cosine_pairs, auto-tiered
        exact↔LSH) — the corpus-maintenance complement of
        :meth:`search_diverse`. Size hints come from the store
        metadata, so planning runs no probe jobs."""
        from vectordb_light_spark.operators.similarity import cosine_pairs

        return cosine_pairs(
            self.vectors,
            id_col="id",
            vec_col="vector",
            threshold=threshold,
            **{**self._size_hints(), **kw},
        )

    def dedup_semantic(self, *, threshold: float = 0.9, **kw) -> DataFrame:
        """SemDeDup over the stored vectors: ``(id, cluster_id,
        cluster_size, keep)`` for EVERY stored chunk; filter ``keep``
        for the deduplicated corpus. Same metadata size hints as
        :meth:`near_duplicates` (the transitive-closure rounds
        themselves do run jobs — they are iterative by nature).
        CC strategy defaults to ``pointer_jumping="auto"`` here (r11):
        a user store's cluster-graph depth is corpus-dependent, so the
        facade escalates only if the graph turns out deep — the
        registered ``dd_semantic_dedup`` entry keeps its A/B-measured
        plain propagation on the known-shallow benchmark cliques."""
        from vectordb_light_spark.operators.similarity import semantic_dedup

        kw.setdefault("pointer_jumping", "auto")
        return semantic_dedup(
            self.vectors,
            id_col="id",
            vec_col="vector",
            threshold=threshold,
            **{**self._size_hints(), **kw},
        )

    def train_val_test_split(
        self,
        weights: dict[str, float] | None = None,
        *,
        threshold: float = 0.9,
        seed: int = 0,
        pointer_jumping: bool | str = "auto",
        **kw,
    ) -> DataFrame:
        """Leakage-safe split of the stored chunks: semantic near-dup
        clusters (the :meth:`dedup_semantic` machinery) route every
        chunk by its CLUSTER label through a deterministic
        md5-threshold CASE, so a test chunk can never have a near-copy
        in train — the eval-contamination guard
        (operators/sampling.py leakage_safe_split; registry twin
        ``pipe_leakage_safe_split``). Returns ``(id, split)`` for
        every stored chunk. ``pointer_jumping`` defaults to ``"auto"``
        (r11, VERDICT r10 item 8): the store's cluster-graph depth is
        corpus-dependent, so the CC escalates from plain rounds to
        O(log D) jumping only if the fixed point is still open after
        the first rounds — the sf0.1 facade A/B measured jumping
        warm-best 3.21 s vs plain 3.62 s on the bench store (a small
        win, inside band), and auto matches whichever side the actual
        graph favors without a per-corpus A/B. Pass True/False to pin
        a measured choice."""
        from vectordb_light_spark.operators.sampling import (
            leakage_safe_split,
        )
        from vectordb_light_spark.operators.similarity import (
            semantic_dedup,
        )

        weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
        # only rows that HAVE near-dups enter the routing join:
        # semantic_dedup coalesces singletons to their own id, and
        # leakage_safe_split's design contract is a broadcast-sized
        # cluster table (singletons route by id anyway) — shipping
        # the full corpus as the build side would defeat it at scale.
        clusters = (
            semantic_dedup(
                self.vectors,
                id_col="id",
                vec_col="vector",
                threshold=threshold,
                pointer_jumping=pointer_jumping,
                **{**self._size_hints(), **kw},
            )
            .where(F.col("cluster_size") > 1)
            .select("id", "cluster_id")
        )
        return leakage_safe_split(
            self.vectors.select("id"),
            clusters,
            weights,
            id_col="id",
            cluster_col="cluster_id",
            seed=seed,
        )

    @property
    def last_search_stats(self) -> dict:
        """The reference's per-search similarity stats
        (vector_db_query.py:184-201) for the most recently BUILT
        search: n_scanned, min/max/avg similarity over every scanned
        row, and n_passing_threshold at that search's threshold. One
        aggregate job over the search's scored text, run on each read
        (over the store as it is registered now), so searches that
        nobody asks about never pay for it."""
        if self._last_search is None:
            raise ValueError("no search has run yet")
        scored, threshold = self._last_search
        return self.spark.sql(
            "SELECT count(1) AS n_scanned, min(similarity_score) AS min_sim, "
            "max(similarity_score) AS max_sim, avg(similarity_score) AS avg_sim, "
            f"count_if(similarity_score >= {float(threshold)!r}D) AS n_passing_threshold "
            f"FROM ({scored}) AS scored"
        ).first().asDict()

    # -- presentation ---------------------------------------------------

    @staticmethod
    def format_chunks(hits: list[tuple[str, str]]) -> str:
        """Q11 chunks-only formatting: numbered CONTEXT banners
        (reference vector_db_query.py:61-74). ``hits`` is
        [(text, file_name)] in rank order."""
        formatted = []
        for index, (context, file_name) in enumerate(hits, start=1):
            cleaned = re.sub(r"\n[ \t]+\n", "\n\n", context)
            cleaned = re.sub(r"\n\s*\n\s*\n*", "\n\n", cleaned.strip())
            formatted.append(
                f"{'-' * 80}\nCONTEXT {index} | {file_name}\n{'-' * 80}\n{cleaned}\n"
            )
        return "\n".join(formatted)

    def chunks_only(self, query_text: str, params: SearchParams = SearchParams()) -> str:
        """Entry point B (SURVEY §3.2): search + Q11 formatting."""
        rows = self._search_rows(query_text, params=params)
        return self.format_chunks([(r["text"], r["file_name"]) for r in rows])

    def rag_prompt(self, query_text: str, params: SearchParams = SearchParams()) -> str:
        """Q12: assemble the augmented RAG prompt (reference
        chat_llm.py:45-50). Raises if no contexts survive, like the
        reference."""
        contexts = [r["text"] for r in self._search_rows(query_text, params=params)]
        if not contexts:
            raise ValueError("No relevant contexts found.")
        return (
            f"{RAG_STRING}\n\n---\n\n"
            + "\n\n---\n\n".join(contexts)
            + f"\n\n-----\n\n{query_text}"
        )

    def citations(self, results: DataFrame) -> DataFrame:
        """Q14 over a search() result."""
        return format_citations(results)

    def close(self) -> None:
        self.vectors.unpersist()
        self.spark.catalog.dropTempView(self._view)
