"""Streaming watch-folder ingest — the reference's 500 ms QTimer
directory poll (S14, reference gui_tabs_databases.py:253-257)
re-expressed as the thing it actually is: a file-source stream with
incremental index maintenance.

    spark.readStream (file source, wholetext)
      → foreachBatch: chunk → normalize → embed → APPEND to the
        database's vectors parquet
      → checkpointLocation gives exactly-once file processing across
        restarts (the reference's resume machinery,
        stage_tokenize.py:341-382, collapses into this).

Each micro-batch runs the SAME build_chunks/build_vectors operators
as the batch write path — one code path, two execution modes. The
trigger is the knob: ``availableNow`` drains the backlog and stops
(used in tests and backfills); ``processingTime='500 milliseconds'``
reproduces the reference's polling cadence for a live folder.

Scale: the file source lists incrementally (maxFilesPerTrigger bounds
batch size); appends are new parquet files only — no rewrite of
existing data; downstream readers see them on the next query. Each
batch appends through the batch path's ``write_vectors``: at most
``cfg.target_files`` document-clustered zstd files. Text
formats stream via the wholetext text source; binary formats would
use the same pipeline behind a binaryFile batch re-list (Spark's file
stream source handles text-like formats natively).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectordb_light_spark.operators.ingest import (
    COMPRESSION,
    IngestConfig,
    build_chunks,
    build_vectors,
    write_vectors,
)


def watch_folder_stream(
    spark: SparkSession,
    source_dir: str,
    *,
    glob: str = "*.{txt,md}",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S14: streaming scan of a document folder (text formats).

    Returns a streaming DataFrame with the same column contract the
    batch extractor produces (file_path, file_type, file_name, text,
    hash, document_type), so everything downstream is shared."""
    reader = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(source_dir).select(
        F.col("value").alias("text"),
        F.input_file_name().alias("file_path"),
    )
    return raw.where(F.trim("text") != "").select(
        "file_path",
        F.lower(F.regexp_extract("file_path", r"(\.[^./\\]+)$", 1)).alias("file_type"),
        F.element_at(F.split("file_path", "/"), -1).alias("file_name"),
        "text",
        F.sha2(F.col("text"), 256).alias("hash"),
        F.lit("document").alias("document_type"),
    )


def start_incremental_ingest(
    spark: SparkSession,
    source_dir: str,
    db_path: str,
    cfg: IngestConfig = IngestConfig(),
    *,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    processing_time: str = "500 milliseconds",
    dedup_content: bool = False,
    index_srp: bool = False,
) -> StreamingQuery:
    """Maintain <db_path>/vectors incrementally from a watched folder.

    foreachBatch reuses the batch operators verbatim; the vectors
    parquet grows by append-only files. ``available_now=True`` drains
    and terminates (deterministic for tests/backfill); otherwise runs
    at the reference's 500 ms cadence.

    ``dedup_content=True`` upgrades append to an idempotent UPSERT on
    document content: the checkpoint already makes each FILE
    exactly-once, but the same content re-staged under a new path (or
    re-delivered by an at-least-once source) would embed twice — the
    reference records the content hash but never dedups on it
    (reference document_processor.py:275-276). Each batch is
    anti-joined against a compact ``_ingested_hashes`` manifest (one
    64-byte row per document ever ingested) — NOT against the vectors
    store, so the dedup probe reads kilobytes of manifest instead of
    re-scanning a 100 TB store per micro-batch, and the manifest
    grows by one append per batch.

    At-least-once window: the vectors append and the manifest append
    are two writes, so a crash BETWEEN them lets the replayed
    micro-batch re-embed that batch's content — the upsert is
    idempotent for clean runs and source re-delivery, not
    crash-atomic. The backstop is deterministic ids (K2: the same
    chunk always hashes to the same id), so replay duplicates are
    exact row duplicates that the next
    ``compact_vectors(..., drop_duplicates_on=["id"])`` maintenance
    pass removes.

    ``index_srp=True`` maintains the SRP-LSH ANN index UNDER the
    stream: each appended batch carries its ``srp_sig`` signature
    column (map-only, computed batch-side), so signature-pruned ANN
    queries see new vectors the moment their files land — no rebuild,
    no reindex job. Choose once per database: appends with and
    without the column must not mix."""
    checkpoint_dir = checkpoint_dir or os.path.join(db_path, "_checkpoint")
    vectors_dir = os.path.join(db_path, "vectors")
    manifest_dir = os.path.join(db_path, "_ingested_hashes")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if dedup_content:
            batch_df = batch_df.dropDuplicates(["hash"])
            if os.path.isdir(manifest_dir):
                seen = batch_df.sparkSession.read.parquet(manifest_dir)
                batch_df = batch_df.join(seen, "hash", "left_anti")
            # foreachBatch re-evaluates its input per action; persist so
            # the anti-join, the write, and the manifest append agree.
            batch_df = batch_df.persist()
            if batch_df.isEmpty():
                batch_df.unpersist()
                return
        chunks = build_chunks(batch_df, cfg)
        vectors = build_vectors(chunks, cfg)
        if index_srp:
            from vectordb_light_spark.operators.similarity import add_srp_signature

            vectors = add_srp_signature(
                vectors, vec_col="vector", dim=int(cfg.embedder_spec.get("dim", 64))
            )
        write_vectors(vectors, vectors_dir, cfg.target_files, mode="append")
        if dedup_content:
            batch_df.select("hash").write.mode("append").option(
                "compression", COMPRESSION
            ).parquet(manifest_dir)
            batch_df.unpersist()

    stream = watch_folder_stream(spark, source_dir)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
