"""The write path: documents → chunks → vectors database (SURVEY
§3.1 / §2.2).

The reference's 6-stage subprocess pipeline (vector_db_creator.py:
368-526) collapses into one declarative Spark job:

    scan binaryFile → extract (sources.extract) → chunk (T3/T4)
    → normalize (T5 pandas UDF) → embed (mapInPandas, E1-E10)
    → write parquet vectors + documents + _meta sidecar (K1-K6)

Sink-semantics parity:
  K1  batched TileDB write            → parquet write through
      :func:`write_vectors`, zstd-compressed
  K2  random uint64 ids               → xxhash64(doc_hash, file_name,
      chunk_index) (deterministic by design — SURVEY §7 hard-parts
      list; the reference's random ids at vector_db_creator.py:288-291
      are a testability bug we do not reproduce). file_name keeps two
      files with the same content apart.
  K3  fragment consolidation          → at most ``target_files``
      document-clustered files per write, and :func:`compact_vectors`
      for appended stores
  K4  FLAT index ingest               → no-op: FLAT ≡ full scan of the
      vectors table (index = the L2-normalized vector column)
  K5  index metadata sidecar          → _meta.json with the same keys
      (vector_db_creator.py:346-354) + the embedder spec;
      ``num_vectors`` is the row count :func:`write_vectors` observes
      in the write itself (no re-read of the store)
  K6  SQLite documents/hash tables    → documents parquet (zstd, at most
      ``target_files`` files); id→hash is the doc_hash column on
      vectors (no separate join table)
  K7  exists guard                    → mkdir(exist_ok=False) parity
  K8  failed-write cleanup            → write to <db>.tmp-…, atomic
      rename on success, rmtree on failure
  K10 backup / restore / delete       → directory copy / rename / rm

Layout per database (all relative to a ``db_root``):
    <db_root>/<name>/vectors/   parquet: id, doc_hash, chunk_index,
                                page_number, text, vector, metadata
    <db_root>/<name>/documents/ parquet: one row per source document
    <db_root>/<name>/_meta.json index + embedder + chunk config

Every writer of ``vectors/`` (create_database, the index builds in
``engine.VectorDB``, compaction and the streaming append) goes through
:func:`write_vectors`: rows hash-partition on (doc_hash, file_name,
chunk_index DIV 64), so a document's overlapping chunks land in one
file, sorted by (doc_hash, file_name, chunk_index), and the file is
zstd-compressed. Neighbouring chunks share half their text (1200/600),
so zstd's window sees each shared half twice in a row; the
round-robin snappy layout this replaces stored 2.22 bytes per corpus
text byte on the benchmark's ``query`` store, this one 0.87.

Scale: chunk + normalize is one ``spark.sql`` text on the scan's
partitioning (narrow explode), widened by a round-robin exchange to
the core count when the scan is narrower; the embed stage is
map-only; the other shuffle is the write's partitioning. The 64-chunk
block keeps one huge document from landing in one file, and
``target_files`` is an upper bound: a bucket no key hashes to writes
no file.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from vectordb_light_spark.functions.embedding import DEFAULT_DIM, embed_map
from vectordb_light_spark.operators.chunker import (
    DEFAULT_CHUNK_OVERLAP,
    DEFAULT_CHUNK_SIZE,
    fixed_size_chunks_sql,
    pdf_page_chunks_sql,
)
from vectordb_light_spark.session import num_partitions, quote_ident, sql_over
from vectordb_light_spark.sql import ensure_sql_functions

META_FILE = "_meta.json"
#: parquet codec of every table a database stores
COMPRESSION = "zstd"
#: chunks per document block in :func:`write_vectors`' partition key
CHUNK_BLOCK = 64


@dataclass(frozen=True)
class IngestConfig:
    """Build-time knobs (reference config.py:26-39 defaults)."""

    chunk_size: int = DEFAULT_CHUNK_SIZE
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP
    embedder_spec: dict = field(
        default_factory=lambda: {"encoder": "hashing", "dim": DEFAULT_DIM, "seed": 0}
    )
    target_files: int = 32  # K3 consolidate analogue

    def __post_init__(self) -> None:
        if self.chunk_overlap >= self.chunk_size:
            # reference config validator (config.py:35-39)
            raise ValueError("chunk_overlap must be < chunk_size")


def build_chunks(documents: DataFrame, cfg: IngestConfig) -> DataFrame:
    """T3/T4 + T5: split every document into normalized chunks.

    ``documents`` needs (hash, file_name, text, file_type); all other
    columns pass through (the reference copies parent metadata onto
    every chunk, document_processor.py:404-406). PDFs (by
    ``file_type``) go through the page-aware splitter; everything else
    through the fixed-size builtin splitter. Output adds chunk_index,
    page_number (null for non-PDF), chunk text in ``text``.

    One ``spark.sql`` text over the documents: the chunk rule
    (:func:`~vectordb_light_spark.operators.chunker.fixed_size_chunks_sql`),
    the page split and the normalize explode, with the pandas UDFs
    called by their registered names. The DataFrame-API build of the
    same plan cost ~810 py4j round trips.

    Widening: when ``documents`` has fewer partitions than the cluster
    has cores, the text ends in a ``REPARTITION`` to the core count,
    after normalize, so the embed stage that follows runs on every
    core. The decision reads the documents' own partition count: the
    chunk plan's union counts the PDF branch's partitions too, empty
    or not. Each partition is then sorted by chunk length, longest
    first, the order :func:`build_vectors`' encoder batches want (E2).
    """
    columns = documents.columns
    meta = "".join(f"{quote_ident(c)}, " for c in columns if c != "text")
    split = {"chunk_size": cfg.chunk_size, "chunk_overlap": cfg.chunk_overlap}
    view = f"ingest_docs_{uuid.uuid4().hex}"
    # T5 normalize (whitespace mode, reference stage_split.py:60-63);
    # empty-after-normalize chunks drop (normalize returns null). The
    # null-drop is fused into the SAME expression as the UDF — a
    # separate filter referencing the UDF column would get its own
    # ArrowEvalPython node and run normalize twice.
    text = (
        f"WITH plain_docs AS (SELECT * FROM {view} WHERE NOT (file_type = '.pdf')), "
        f"pdf_docs AS (SELECT * FROM {view} WHERE file_type = '.pdf'), "
        f"chunks AS ("
        f"SELECT {meta}chunk_index, chunk, CAST(NULL AS INT) AS page_number "
        f"FROM ({fixed_size_chunks_sql('plain_docs', columns, **split)}) "
        f"UNION ALL SELECT {meta}chunk_index, chunk, page_number "
        f"FROM ({pdf_page_chunks_sql('pdf_docs', columns, **split)})), "
        f"normalized AS (SELECT {meta}chunk_index, page_number, explode(filter("
        f"array(vdb_normalize_text(chunk)), x -> x IS NOT NULL)) AS text FROM chunks) "
        f"SELECT {_widen_hint(documents)}* FROM normalized SORT BY length(text) DESC"
    )
    ensure_sql_functions(documents.sparkSession)
    return sql_over(documents, view, text)


def _widen_hint(documents: DataFrame) -> str:
    """A ``REPARTITION`` hint to the core count when ``documents`` is
    narrower, else nothing."""
    cores = documents.sparkSession.sparkContext.defaultParallelism
    return f"/*+ REPARTITION({cores}) */ " if num_partitions(documents) < cores else ""


def build_vectors(chunks: DataFrame, cfg: IngestConfig) -> DataFrame:
    """E-stage + K2: embed chunks, assign deterministic 64-bit ids.

    The embed map runs on ``chunks``' partitioning and order, which
    :func:`build_chunks` has widened and sorted by length. id =
    xxhash64(doc_hash, file_name, chunk_index) — stable across runs
    and executors, and distinct for two files with identical content
    (chunk_index numbers each file's chunks from 0, so (doc_hash,
    chunk_index) alone would collide); collision odds at 100 TB
    (~2^40 chunks) stay below the reference's own random-uint64
    scheme. The file NAME, not the full path: the same corpus gets the
    same ids wherever it is mounted. The loaders scan one flat
    directory, so names are unique within a load; identical content
    under one name in two directories of a glob load would share ids.
    """
    embedded = embed_map(chunks, cfg.embedder_spec, text_col="text")
    ident = "xxhash64(`hash`, `file_name`, `chunk_index`) AS `id`"
    columns = chunks.columns + ["vector"]
    select = [
        ident if c == "id" else "`hash` AS `doc_hash`" if c == "hash" else quote_ident(c)
        for c in columns
    ]
    if "id" not in columns:
        select.append(ident)
    view = f"embedded_{uuid.uuid4().hex}"
    return sql_over(embedded, view, f"SELECT {', '.join(select)} FROM {view}")


def _meta_payload(cfg: IngestConfig, num_vectors: int) -> dict:
    # K5 sidecar keys (reference vector_db_creator.py:346-354).
    return {
        "distance_metric": "cosine",
        "dimensions": int(cfg.embedder_spec.get("dim", DEFAULT_DIM)),
        "vector_type": "float32",
        "index_type": "FLAT",
        "num_vectors": num_vectors,
        "embedder": cfg.embedder_spec,
        "chunk_size": cfg.chunk_size,
        "chunk_overlap": cfg.chunk_overlap,
    }


def write_vectors(
    df: DataFrame,
    path: str,
    n_files: int,
    *,
    mode: str,
    partition_by: str | None = None,
) -> int:
    """Write a ``vectors/`` store: at most ``n_files`` zstd parquet
    files (per ``partition_by`` directory), each holding whole 64-chunk
    blocks of documents sorted by (doc_hash, file_name, chunk_index).
    Returns the number of rows written.

    The hash key is (doc_hash, file_name, chunk_index DIV 64), so a
    document's neighbouring, half-overlapping chunks sit next to each
    other in one file, where zstd compresses the shared halves, and a
    huge document still spreads over several files. ``partition_by``
    leads the sort, so the partitioned write keeps this order instead
    of adding its own sort.

    The row count is an ``observe`` metric of the write's result
    stage, between the exchange and the sort: Spark merges each result
    task's metrics once, so a retried task cannot count twice, and no
    job re-reads the store. Below the sort, it leaves the sort's order
    in sight of the partitioned write, which would otherwise plan a
    sort of its own by ``partition_by``."""
    keys = ["doc_hash", "file_name", "chunk_index"]
    order = ([partition_by] if partition_by else []) + keys
    written = Observation(f"write_vectors_{uuid.uuid4().hex}")
    w = (
        df.repartition(
            int(n_files), "doc_hash", "file_name",
            F.expr(f"chunk_index DIV {CHUNK_BLOCK}"),
        )
        .observe(written, F.count(F.lit(1)).alias("rows"))
        .sortWithinPartitions(*order)
        .write.mode(mode)
        .option("compression", COMPRESSION)
    )
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)
    return int(written.get["rows"])


def vector_files(vectors_dir: str) -> list[str]:
    """Paths of the parquet data files under ``vectors_dir``, partition
    directories included."""
    return [
        os.path.join(d, f)
        for d, _, names in os.walk(vectors_dir)
        for f in names
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def store_partition(vectors_dir: str) -> str | None:
    """``"ivf_cluster"`` when the store is written in IVF cluster
    directories, else None: a rewrite keeps the layout it finds."""
    if any(d.startswith("ivf_cluster=") for d in os.listdir(vectors_dir)):
        return "ivf_cluster"
    return None


def create_database(
    spark: SparkSession,
    documents: DataFrame,
    db_root: str,
    name: str,
    cfg: IngestConfig = IngestConfig(),
) -> dict:
    """Full write path into <db_root>/<name>; returns the _meta dict.

    Atomic: stages into <name>.tmp-<uuid>, renames on success, removes
    on any failure (K8). Raises FileExistsError if the database exists
    (K7, reference vector_db_creator.py:464-471).

    The vectors write and the documents write run as concurrent jobs;
    ``num_vectors`` is the count the vectors write observes, so nothing
    re-reads the store.
    """
    final_dir = os.path.join(db_root, name)
    if os.path.exists(final_dir):
        raise FileExistsError(f"database '{name}' already exists at {final_dir}")
    os.makedirs(db_root, exist_ok=True)
    tmp_dir = os.path.join(db_root, f"{name}.tmp-{uuid.uuid4().hex[:8]}")

    try:
        # Stage counters as observe() metrics — the reference's stage
        # logs (docs extracted vector_db_creator.py:397, chunks after
        # split+normalize :438, stage_split.py:429-431) computed inside
        # the SAME job as the write, no extra scan.
        obs_docs, obs_chunks = Observation("ingest_docs"), Observation("ingest_chunks")
        documents = documents.observe(obs_docs, F.expr("count(1) AS n_docs"))
        chunks = build_chunks(documents, cfg).observe(
            obs_chunks,
            F.expr("count(1) AS n_chunks"),
            F.expr("avg(length(text)) AS avg_chunk_chars"),
        )
        # the input's partitioning leaves one small file per scan split;
        # coalescing merges them without a shuffle
        docs_writer = documents.coalesce(cfg.target_files).write.mode("error").option(
            "compression", COMPRESSION
        )
        # documents/ is written while the vectors are: its small job
        # runs on cores the chunk stage leaves idle. Leaving the pool
        # waits for it, so a failed vectors write cleans up after both.
        with ThreadPoolExecutor(1) as pool:
            docs_written = pool.submit(
                inheritable_thread_target(spark)(docs_writer.parquet),
                os.path.join(tmp_dir, "documents"),
            )
            num_vectors = write_vectors(
                build_vectors(chunks, cfg), os.path.join(tmp_dir, "vectors"),
                cfg.target_files, mode="error",
            )
            docs_written.result()

        meta = _meta_payload(cfg, num_vectors=num_vectors)
        stats = {**_observed(obs_docs), **_observed(obs_chunks)}
        meta["observed"] = {
            k: (round(v, 3) if isinstance(v, float) else v)
            for k, v in stats.items()
            if v is not None
        }
        with open(os.path.join(tmp_dir, META_FILE), "w") as f:
            json.dump(meta, f, indent=2)

        os.rename(tmp_dir, final_dir)
        return meta
    except BaseException:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        raise


def _observed(obs: Observation) -> dict:
    """``obs``'s metrics, or nothing when the optimizer proved the
    observed frame empty and dropped the metric node (an empty input:
    PySpark's ``get`` fails on the empty row it then completes with)."""
    if obs._jo.getRow().length() == 0:
        return {}
    return obs.get


def delete_database(db_root: str, name: str) -> None:
    """K10 delete (reference gui_tabs_manage_databases.py:153-197)."""
    shutil.rmtree(os.path.join(db_root, name))


def backup_database(db_root: str, name: str, backup_root: str) -> str:
    """K10 backup: directory copy (reference utilities.py:79-105)."""
    dst = os.path.join(backup_root, name)
    shutil.copytree(os.path.join(db_root, name), dst, dirs_exist_ok=True)
    return dst


def restore_database(backup_root: str, name: str, db_root: str) -> str:
    """K10 restore from backup (reference initialize.py:55-81)."""
    dst = os.path.join(db_root, name)
    if os.path.exists(dst):
        shutil.rmtree(dst)
    shutil.copytree(os.path.join(backup_root, name), dst)
    return dst


def list_databases(db_root: str) -> list[str]:
    """Registry scan: every subdirectory with a _meta.json (the
    reference's config.yaml created_databases map, config.py:64-67)."""
    if not os.path.isdir(db_root):
        return []
    return sorted(
        d
        for d in os.listdir(db_root)
        if os.path.isfile(os.path.join(db_root, d, META_FILE))
    )


def compact_vectors(
    spark: SparkSession,
    db_path: str,
    *,
    target_mb: int = 128,
    min_files: int = 1,
    drop_duplicates_on: list[str] | None = None,
) -> dict:
    """Maintenance compaction of a database's ``vectors/`` directory.

    The streaming ingest path (streaming/ingest_stream.py) appends one
    file set per micro-batch; after N triggers a table is N× more
    files than it needs, and at scale the scan pays per-file open +
    scheduling cost (the classic small-files problem — the Spark
    analogue of the reference's TileDB fragment consolidation,
    vector_db_creator.py K3). Rewrites the directory through
    :func:`write_vectors` to at most ``max(min_files,
    ceil(bytes/target_mb))`` files (per IVF cluster directory) via an atomic
    tmp-write + rename (crash mid-compact leaves the original intact).

    Run it when file count ≫ size/target_mb — e.g. from the same
    scheduler that triggers the stream. ``files_after`` counts the
    files written: :func:`write_vectors` leaves a bucket no key hashes
    to without a file. Row content is unchanged
    (test asserts set equality and file-count reduction) unless
    ``drop_duplicates_on`` is given — e.g. ``["id"]`` to heal the
    exact row duplicates a crash-replayed streaming micro-batch can
    leave (ids are content-deterministic, K2), which is the
    documented backstop for the ingest stream's at-least-once window.
    """
    vectors_dir = os.path.join(db_path, "vectors")
    files = vector_files(vectors_dir)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(min_files, -(-total_bytes // (target_mb * 1024 * 1024)))
    df = spark.read.parquet(vectors_dir)
    if drop_duplicates_on:
        df = df.dropDuplicates(drop_duplicates_on)
    tmp_dir = vectors_dir + ".compact-tmp"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    try:
        num_vectors = write_vectors(
            df, tmp_dir, n_out, mode="error", partition_by=store_partition(vectors_dir)
        )
        n_written = len(vector_files(tmp_dir))
        old_dir = vectors_dir + ".compact-old"
        os.rename(vectors_dir, old_dir)
        os.rename(tmp_dir, vectors_dir)
        shutil.rmtree(old_dir)
    except BaseException:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        raise
    out = {
        "files_before": len(files),
        "files_after": n_written,
        "bytes": int(total_bytes),
    }

    # Refresh the num_vectors size hint (r7): streaming micro-batches
    # append rows without touching _meta.json, and compaction is the
    # documented post-stream maintenance step — so this is where the
    # hint re-synchronizes, from the rows the rewrite wrote.
    # engine._size_hints feeds it to the tiered similarity operators in
    # place of probe jobs.
    meta_path = os.path.join(db_path, META_FILE)
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["num_vectors"] = num_vectors
        # Atomic swap, matching the manifest fold below: an in-place
        # open('w') truncates first, so a crash mid-dump corrupts the
        # store's metadata; os.replace of a fully-written temp cannot.
        m_tmp_path = meta_path + ".tmp"
        with open(m_tmp_path, "w") as f:
            json.dump(meta, f, indent=2)
        os.replace(m_tmp_path, meta_path)
        out["num_vectors"] = meta["num_vectors"]

    # A content-upsert stream (dedup_content=True) appends one tiny
    # manifest file per micro-batch; fold it to a single file with the
    # same atomic swap so the per-batch anti-join probe stays one read.
    manifest_dir = os.path.join(db_path, "_ingested_hashes")
    if os.path.isdir(manifest_dir):
        m_files = [
            f for f in os.listdir(manifest_dir) if f.endswith(".parquet")
        ]
        if len(m_files) > 1:
            mdf = spark.read.parquet(manifest_dir).distinct()
            m_tmp = manifest_dir + ".compact-tmp"
            shutil.rmtree(m_tmp, ignore_errors=True)
            try:
                mdf.coalesce(1).write.option("compression", COMPRESSION).parquet(m_tmp)
                m_old = manifest_dir + ".compact-old"
                os.rename(manifest_dir, m_old)
                os.rename(m_tmp, manifest_dir)
                shutil.rmtree(m_old)
            except BaseException:
                shutil.rmtree(m_tmp, ignore_errors=True)
                raise
            out["manifest_files_before"] = len(m_files)
            out["manifest_files_after"] = 1
    return out


INDEX_DIR = "_index"


def stage_index_artifacts(db_path: str, artifacts: dict) -> list[str]:
    """Write trained ANN artifacts (IVF centroids, PQ codebooks, PCA
    projections — numpy arrays), MERGED with whatever is already
    committed, into the staging dir ``_index.tmp`` — visible to
    nothing until :func:`commit_index_artifacts` swaps it in. The
    index builders stage before their vectors rewrite and commit only
    after the vectors swap succeeds, so a crash mid-build can never
    leave NEW artifacts beside OLD cluster/code assignments (which
    would silently return near-zero-recall results)."""
    import numpy as np

    tmp_dir = os.path.join(db_path, INDEX_DIR) + ".tmp"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    # MERGE with what's already trained: building one index tier must
    # not clobber another's artifacts (e.g. pq-index then ivf-index on
    # the same database keeps both .npy files).
    artifacts = {**load_index_artifacts(db_path), **artifacts}
    names = []
    for name, arr in artifacts.items():
        if not name.replace("_", "").isalnum():
            raise ValueError(f"artifact name {name!r} must be alnum/underscore")
        np.save(os.path.join(tmp_dir, f"{name}.npy"), np.asarray(arr))
        names.append(name)
    return sorted(names)


def commit_index_artifacts(db_path: str) -> None:
    """Swap staged ``_index.tmp`` into ``_index/``. The superseded
    ``_index.old`` is KEPT — the caller removes it together with its
    ``vectors.<tier>-old`` in the same cleanup step, so open-time
    recovery can restore the matching (vectors, artifacts) snapshot
    from any crash point."""
    out_dir = os.path.join(db_path, INDEX_DIR)
    tmp_dir = out_dir + ".tmp"
    old_dir = out_dir + ".old"
    shutil.rmtree(old_dir, ignore_errors=True)
    if os.path.isdir(out_dir):
        os.rename(out_dir, old_dir)
    os.rename(tmp_dir, out_dir)


def save_index_artifacts(db_path: str, artifacts: dict) -> list[str]:
    """Stage + commit in one step (atomic swap, old removed) — for
    callers managing no concurrent vectors rewrite. Training is
    sampled and deterministic but NOT free — a deployment trains once
    per (re)build and every query session loads the artifacts instead
    of re-collecting a sample (reference analogue: the FLAT index's
    metadata sidecar, vector_db_creator.py:346-354).
    """
    names = stage_index_artifacts(db_path, artifacts)
    commit_index_artifacts(db_path)
    shutil.rmtree(os.path.join(db_path, INDEX_DIR) + ".old", ignore_errors=True)
    return names


def load_index_artifacts(db_path: str) -> dict:
    """Load every saved artifact: name → numpy array. Empty dict if
    the database has none."""
    import numpy as np

    out_dir = os.path.join(db_path, INDEX_DIR)
    if not os.path.isdir(out_dir):
        return {}
    return {
        f[: -len(".npy")]: np.load(os.path.join(out_dir, f))
        for f in sorted(os.listdir(out_dir))
        if f.endswith(".npy")
    }
