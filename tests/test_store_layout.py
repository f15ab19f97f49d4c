"""The stored layout of every ``vectors/`` writer: create_database, the
three index builds, compaction and the streaming append all write
zstd parquet files, each sorted by (doc_hash, file_name, chunk_index),
that split a huge document over several files, and that store the same
frames in well under the bytes of a round-robin snappy write."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest

from vectordb_light_spark.engine import VectorDB
from vectordb_light_spark.operators.ingest import (
    CHUNK_BLOCK,
    IngestConfig,
    compact_vectors,
    create_database,
    vector_files,
)
from vectordb_light_spark.sources.extract import load_directory

TARGET_FILES = 2
#: the default 1200/600 chunks: neighbours share half their text
CFG = IngestConfig(
    embedder_spec={"encoder": "hashing", "dim": 16, "seed": 3},
    target_files=TARGET_FILES,
)
BIG_DOC = "big.txt"
#: Blocks hash to files independently, so a document of B blocks lands
#: in a single one of n files with odds n^(1-B): 2^-9 for this one.
BIG_CHUNKS = CHUNK_BLOCK * 10


def _corpus() -> dict[str, str]:
    """Zipf-distributed words of 1-3 syllables: text that compresses
    like prose, with no repeats inside a chunk for snappy to find."""
    rng = np.random.default_rng(7)
    onsets = "b c d f g h k l m n p r s t v w br ch st tr".split()
    vowels = "a e i o u ai ea ou".split()
    vocab = sorted({
        "".join(
            onsets[rng.integers(len(onsets))] + vowels[rng.integers(len(vowels))]
            for _ in range(rng.integers(1, 4))
        )
        for _ in range(4000)
    })
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    p /= p.sum()

    def text(n_chars: int) -> str:
        words = rng.choice(len(vocab), size=n_chars // 3, p=p)
        return " ".join(vocab[w] for w in words)[:n_chars]

    docs = {f"d{i:02d}.txt": text(int(rng.integers(2000, 6000))) for i in range(24)}
    docs[BIG_DOC] = text(CFG.chunk_overlap * BIG_CHUNKS)
    return docs


def _codecs(files: list[str]) -> set[str]:
    """The codec of every column chunk in the files' parquet footers."""
    out = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            out |= {md.row_group(g).column(c).compression for c in range(md.num_columns)}
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )


def _assert_layout(spark, tmp_path, vectors_dir: str, *, partition_by=None, extra=()):
    """The four layout checks on one written store; ``extra`` are
    (written dir, frame) pairs that enter the byte comparison too."""
    files = vector_files(vectors_dir)
    assert _codecs(files) == {"ZSTD"}

    big_files, block_files = 0, {}
    for f in files:
        t = pq.read_table(f, columns=["doc_hash", "file_name", "chunk_index"]).to_pylist()
        keys = [(r["doc_hash"], r["file_name"], r["chunk_index"]) for r in t]
        assert keys == sorted(keys), f
        big_files += any(name == BIG_DOC for _, name, _ in keys)
        for h, name, i in keys:
            block_files.setdefault((h, name, i // CHUNK_BLOCK), set()).add(f)
    assert big_files > 1
    if partition_by is None:
        # a block never splits over files
        assert all(len(fs) == 1 for fs in block_files.values())

    # the same frames written round-robin + snappy, as the store was
    # written before write_vectors
    baseline = str(tmp_path / "round_robin")
    n = TARGET_FILES if partition_by else len(files)
    w = spark.read.parquet(vectors_dir).repartition(n).write.option("compression", "snappy")
    (w.partitionBy(partition_by) if partition_by else w).parquet(os.path.join(baseline, "v"))
    ours, theirs = _dir_bytes(vectors_dir), _dir_bytes(os.path.join(baseline, "v"))
    for i, (written, frame) in enumerate(extra):
        frame.write.option("compression", "snappy").parquet(os.path.join(baseline, f"e{i}"))
        ours += _dir_bytes(written)
        theirs += _dir_bytes(os.path.join(baseline, f"e{i}"))
    assert ours <= 0.6 * theirs, (ours, theirs)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    src = tmp_path_factory.mktemp("layout_docs")
    for name, body in _corpus().items():
        (src / name).write_text(body)
    return str(src)


@pytest.fixture(scope="module")
def layout_db(spark, corpus_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("layout_dbs"))
    docs, _ = load_directory(spark, corpus_dir)
    meta = create_database(spark, docs, root, "lay", CFG)
    assert meta["num_vectors"] > BIG_CHUNKS
    return os.path.join(root, "lay")


def _copy(db_path: str, tmp_path) -> str:
    dst = str(tmp_path / "db")
    shutil.copytree(db_path, dst)
    return dst


def test_create_database_layout(spark, layout_db, tmp_path):
    docs_dir = os.path.join(layout_db, "documents")
    assert _codecs(vector_files(docs_dir)) == {"ZSTD"}
    _assert_layout(
        spark, tmp_path, os.path.join(layout_db, "vectors"),
        extra=[(docs_dir, spark.read.parquet(docs_dir))],
    )


@pytest.mark.parametrize("tiers", [["srp"], ["pq"], ["ivf"], ["ivf", "srp"]])
def test_index_build_layout(spark, layout_db, tmp_path, tiers):
    path = _copy(layout_db, tmp_path)
    db = VectorDB(spark, path, cache=False)
    before = {tuple(r) for r in db.vectors.select("id", "text").collect()}
    builds = {
        "srp": lambda: db.build_srp_index(n_planes=8),
        "pq": lambda: db.build_pq_index(m=4, n_codes=16),
        "ivf": lambda: db.build_ivf_index(n_centroids=2),
    }
    for tier in tiers:
        builds[tier]()
    assert {tuple(r) for r in db.vectors.select("id", "text").collect()} == before
    vec_dir = os.path.join(path, "vectors")
    # a build over an IVF store keeps its cluster directories
    ivf = "ivf" in tiers
    assert sum(d.startswith("ivf_cluster=") for d in os.listdir(vec_dir)) == (2 if ivf else 0)
    _assert_layout(spark, tmp_path, vec_dir, partition_by="ivf_cluster" if ivf else None)


@pytest.mark.parametrize("ivf", [False, True])
def test_compact_vectors_layout(spark, layout_db, tmp_path, ivf):
    path = _copy(layout_db, tmp_path)
    vec_dir = os.path.join(path, "vectors")
    part = "ivf_cluster" if ivf else None
    if ivf:
        VectorDB(spark, path, cache=False).build_ivf_index(n_centroids=2)
    # fragment the store like streaming micro-batches would
    w = spark.read.parquet(vec_dir).repartition(6).write
    (w.partitionBy(part) if part else w).parquet(vec_dir + "_frag")
    shutil.rmtree(vec_dir)
    os.rename(vec_dir + "_frag", vec_dir)
    n_before = len(vector_files(vec_dir))
    stats = compact_vectors(spark, path, min_files=TARGET_FILES)
    n_dirs = 2 if ivf else 1
    assert stats["files_after"] == len(vector_files(vec_dir)) <= TARGET_FILES * n_dirs < n_before
    # an IVF store keeps its cluster directories
    assert sum(d.startswith("ivf_cluster=") for d in os.listdir(vec_dir)) == (2 if ivf else 0)
    _assert_layout(spark, tmp_path, vec_dir, partition_by=part)


def test_stream_append_layout(spark, corpus_dir, tmp_path):
    from vectordb_light_spark.streaming.ingest_stream import start_incremental_ingest

    db = str(tmp_path / "streamdb")
    os.makedirs(db)
    q = start_incremental_ingest(spark, corpus_dir, db, CFG)
    q.awaitTermination(120)
    assert not q.isActive
    assert len(vector_files(os.path.join(db, "vectors"))) <= TARGET_FILES
    _assert_layout(spark, tmp_path, os.path.join(db, "vectors"))
