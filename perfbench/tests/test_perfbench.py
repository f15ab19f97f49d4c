"""Tests of the benchmark's own code: the corpus generator, the numpy
oracles against the engine, the Spark accounting helpers and the metric
names.  From the root of a checkout:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The engine test starts a small local Spark session (about 30 s).
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from sparkstats import union_length  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _docs(seed: int) -> list[corpus.Doc]:
    return corpus.generate(seed, 12, n_clusters=3, hot_cluster=6, max_dup_chars=1100)


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a, b = _docs(7), _docs(7)
    assert a == b
    corpus.write_parquet(a, str(tmp_path / "a.parquet"))
    corpus.write_parquet(b, str(tmp_path / "b.parquet"))
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    assert corpus.queries(7, a, 20) == corpus.queries(7, b, 20)


def test_generator_differs_across_seeds():
    a, b = _docs(7), _docs(8)
    assert [d.text for d in a] != [d.text for d in b]
    assert corpus.queries(7, a, 20) != corpus.queries(8, b, 20)


def test_planted_copies_keep_the_chunking_of_their_base():
    docs = _docs(3)
    for c in {d.cluster for d in docs if d.cluster >= 0}:
        members = [d for d in docs if d.cluster == c]
        assert len(members) >= 2
        lengths = {len(d.text) for d in members}
        assert len(lengths) == 1, "a copy swaps words for words of the same length"
        assert len({d.text for d in members}) > 1


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert union_length([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2.0)
    assert union_length([], 0, 10) == 0.0


def test_topk_oracle_breaks_ties_by_id_and_filters_after_topk():
    mat = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.6, 0.8]])
    ids = np.array([30, 10, 20, 40])
    q = np.array([1.0, 0.0])
    # ties at cosine 1.0 go to the smaller id; the 0.0 row is cut by the
    # threshold and never replaced by a lower-ranked row
    assert oracles.topk(mat, ids, q, k=3, threshold=0.5) == [1, 0, 3]
    assert oracles.topk(mat, ids, q, k=2, threshold=0.7) == [1, 0]
    texts = np.array(["a", "b", "c", "bd"])
    assert oracles.topk(mat, ids, q, k=3, threshold=0.0, texts=texts, search_term="b") == [1, 3]


def test_union_find_oracle_labels_components_by_min_id():
    mat = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 1.0], [0.7071, 0.7071]])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.array([5, 3, 9, 7, 1])
    labels, _ = oracles.near_dup_labels(mat, ids, 0.9)
    assert labels.tolist() == [3, 3, 7, 7, 1]


def test_metric_names_match_the_benchmark_definition():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    for name in e2e + layer:
        assert NAME_RE.fullmatch(name), name
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    units = {**worker.UNITS, run.RSS_METRIC: "MB"}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == units
    assert set(e2e) == {"setup_s", "op_p50_ms", "store_bytes_per_text_byte"}
    assert {w["name"] for w in bench["workloads"]} <= set(worker.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from vectordb_light_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_oracles_agree_with_the_engine(spark, tmp_path):
    from pyspark.sql import functions as F

    from vectordb_light_spark.engine import VectorDB
    from vectordb_light_spark.operators.ingest import create_database

    docs = _docs(5)
    path = str(tmp_path / "docs.parquet")
    corpus.write_parquet(docs, path)
    meta = create_database(
        spark, spark.read.parquet(path), str(tmp_path), "db", worker._ingest_cfg(worker.HASH_SPEC)
    )
    assert meta["num_vectors"] == oracles.expected_chunks([d.text for d in docs])

    db = VectorDB.open(spark, str(tmp_path), "db", cache=True)
    st = oracles.read_store(str(tmp_path / "db"), ["id", "vector", "text", "document_type"])
    for q in corpus.queries(5, docs, 8):
        got = [int(r["id"]) for r in db.search(q["text"], params=worker._params(q)).collect()]
        want = oracles.topk(
            st["vector"],
            st["id"],
            worker._query_vec(worker.HASH_SPEC, q["text"]),
            k=worker.TOP_K,
            threshold=worker.THRESHOLD,
            texts=st["text"],
            doc_types=st["document_type"],
            search_term=q["search_term"],
            document_type=q["document_type"],
        )
        assert got == [int(st["id"][j]) for j in want]

    labels, _ = oracles.near_dup_labels(st["vector"], st["id"], worker.DEDUP_THRESHOLD)
    kept = db.dedup_semantic(threshold=worker.DEDUP_THRESHOLD).where(F.col("keep")).count()
    assert kept == len(np.unique(labels))
    assert kept < len(labels), "the planted clusters must merge"
    db.close()
