"""Pipeline-plan composition tests + Q7 JSON-metadata semantics."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from vectordb_light_spark.plans.pipelines import (
    corpus_report_plan,
    rag_ingest_plan,
    training_corpus_plan,
)
from vectordb_light_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_training_corpus_plan_filters_and_dedups(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog sat on the mat for it was warm " * 20),
            (2, "the cat and the dog sat on the mat for it was warm " * 20),  # dup
            (3, "x"),  # low quality (too short)
            (4, "the quick brown fox jumps over the lazy dog again and again " * 20),
        ],
        "doc_id long, text string",
    )
    out = training_corpus_plan(docs, min_quality=0.5, near_dup_threshold=None)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == [1, 4]  # dup 2 dropped (min-id wins), 3 quality-gated
    cols = set(out.columns)
    assert {"quality", "detected_lang"} <= cols


def test_training_corpus_near_dup_tier(spark):
    base = "the cat and the dog sat on the mat for it was warm and sunny today "
    docs = spark.createDataFrame(
        [(1, base * 20), (2, (base * 20) + " tiny tail change"), (3, "completely different words about spark engines and parallel data processing systems " * 10)],
        "doc_id long, text string",
    )
    out = training_corpus_plan(docs, min_quality=0.0, near_dup_threshold=0.7)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 1 in ids and 3 in ids
    assert 2 not in ids  # near-dup of 1 removed (min-id survives)


def test_corpus_report_plan(spark):
    docs = load_table(spark, SF, "documents")
    rep = corpus_report_plan(docs).collect()
    assert sum(r["n_docs"] for r in rep) == docs.count()
    for r in rep:
        assert 0.0 <= r["avg_quality"] <= 1.0
        assert r["n_exact_dups"] >= 0


def test_rag_ingest_plan_shape(spark):
    docs = spark.createDataFrame(
        [("h1", "alpha beta gamma " * 50, ".txt", "a.txt", "/a.txt")],
        "hash string, text string, file_type string, file_name string, file_path string",
    )
    from vectordb_light_spark.operators.ingest import IngestConfig

    out = rag_ingest_plan(docs, IngestConfig(chunk_size=100, chunk_overlap=20))
    rows = out.collect()
    assert len(rows) > 1
    assert {"id", "doc_hash", "chunk_index", "vector", "text"} <= set(out.columns)


def test_q7_malformed_json_rows_skipped(spark):
    """Q7 semantics (reference vector_db_query.py:236-238): rows whose
    metadata JSON fails to parse are silently skipped, not errored."""
    schema = StructType(
        [StructField("file_name", StringType()), StructField("page", StringType())]
    )
    df = spark.createDataFrame(
        [
            (1, '{"file_name": "a.txt", "page": "3"}'),
            (2, "not json at all {{{"),
            (3, '{"file_name": "b.txt"}'),
        ],
        "id long, metadata string",
    )
    from vectordb_light_spark.engine import with_parsed_metadata

    parsed = with_parsed_metadata(df, "metadata", schema)
    rows = {r["id"]: r["meta"] for r in parsed.collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["file_name"] == "a.txt"
    assert rows[3]["page"] is None


def test_run_curation_chain_and_reports(spark):
    """The composable curation runner: each stage drops what its
    operator is documented to drop, survivors keep original ids and
    schema, per-stage reports account for every row, and report=False
    returns the same survivors as one lazy plan."""
    from vectordb_light_spark.operators.curate_pipeline import run_curation

    good = (
        "the quick brown fox jumps over the lazy dog and it was that kind "
        "of day for everyone involved in the field trial. later that week "
        "the committee reviewed every single observation with care because "
        "results of this nature tend to shape policy for seasons to come. "
        "nobody objected when the final tally showed a clear improvement "
        "across nearly all measured categories of the ongoing study"
    )
    rows = [
        (1, good + "one"),
        (2, good + "two"),
        (3, good + "one"),      # exact dup of 1 -> exact_dedup drops
        (4, "spam spam spam spam spam spam spam spam spam spam"),  # repetition
        (5, "x"),                # gopher word-count fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, reports = run_curation(
        df, ("exact_dedup", "repetition", "gopher"), report=True
    )
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 2]
    assert [r["stage"] for r in reports] == ["exact_dedup", "repetition", "gopher"]
    assert reports[0]["rows_in"] == 5 and reports[0]["rows_out"] == 4
    for r in reports:
        assert r["rows_in"] - r["dropped"] == r["rows_out"]
    assert set(out.columns) == {"doc_id", "text"}

    lazy, lazy_reports = run_curation(
        df, ("exact_dedup", "repetition", "gopher"), report=False
    )
    assert sorted(r["doc_id"] for r in lazy.collect()) == ids
    assert all(set(r) == {"stage"} for r in lazy_reports)


def test_run_curation_decontaminate_and_errors(spark):
    """The decontaminate stage needs a bench frame (clear error
    otherwise) and drops exactly the leaking documents; unknown stage
    names fail fast with the available list."""
    import pytest

    from vectordb_light_spark.operators.curate_pipeline import run_curation

    df = spark.createDataFrame(
        [
            (1, "totally clean document about gardening and soil quality"),
            (2, "the secret eval answer is forty two exactly plus padding"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "the secret eval answer is forty two exactly")],
        "doc_id long, text string",
    )
    out, _ = run_curation(df, ("decontaminate",), bench=bench,
                          decontaminate_n=4)
    assert [r["doc_id"] for r in out.collect()] == [1]

    with pytest.raises(ValueError, match="bench"):
        run_curation(df, ("decontaminate",))
    with pytest.raises(ValueError, match="unknown curation stages"):
        run_curation(df, ("nope",))


def test_run_curation_new_r8_stages(spark):
    """bloom_decontaminate drops leakers via the constant-memory
    filter, readability gates on the integer FK milligrade, and
    curriculum is a pure reordering (drops nothing, easy-first)."""
    import pytest

    from vectordb_light_spark.operators.curate_pipeline import run_curation

    df = spark.createDataFrame(
        [
            (1, "totally clean document about gardening and soil quality"),
            (2, "the secret eval answer is forty two exactly plus padding"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "the secret eval answer is forty two exactly")],
        "doc_id long, text string",
    )
    out, _ = run_curation(df, ("bloom_decontaminate",), bench=bench,
                          decontaminate_n=4)
    assert [r["doc_id"] for r in out.collect()] == [1]
    with pytest.raises(ValueError, match="bloom_decontaminate"):
        run_curation(df, ("bloom_decontaminate",))

    # readability: one simple-word doc, one polysyllabic monster
    rdf = spark.createDataFrame(
        [
            (1, "the cat sat on the mat. the dog ran to the top."),
            (2, "extraordinarily incomprehensible institutionalization "
                "notwithstanding overcapitalization internationalization "
                "incontrovertibility characteristically"),
        ],
        "doc_id long, text string",
    )
    out, _ = run_curation(rdf, ("readability",),
                          readability_max_grade_milli=10000)
    assert [r["doc_id"] for r in out.collect()] == [1]
    # a min bound flips the survivor set
    out, _ = run_curation(rdf, ("readability",),
                          readability_max_grade_milli=10**9,
                          readability_min_grade_milli=10001)
    assert [r["doc_id"] for r in out.collect()] == [2]

    # curriculum: nothing dropped, schema preserved, easy-first order
    cdf = spark.createDataFrame(
        [
            (1, "extraordinarily incomprehensible institutionalization "
                "notwithstanding overcapitalization"),
            (2, "the cat sat on the mat."),
            (3, "a dog ran up."),
        ],
        "doc_id long, text string",
    )
    out, _ = run_curation(cdf, ("curriculum",), curriculum_stages=3)
    rows = out.collect()
    assert set(out.columns) == {"doc_id", "text"}
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 3]
    # the polysyllabic doc (hardest) comes last
    assert rows[-1]["doc_id"] == 1


def test_run_curation_report_releases_intermediate_frames(spark):
    """With report=True only the FINAL stage's frame may stay
    persisted once the chain returns — intermediates unpersist as
    soon as the next stage's count materializes (r7 ADVICE)."""
    from vectordb_light_spark.operators.curate_pipeline import run_curation

    df = spark.createDataFrame(
        [(i, f"unique text number {i} with words") for i in range(20)],
        "doc_id long, text string",
    )
    before = {
        rdd_id for rdd_id, _ in
        spark.sparkContext._jsc.getPersistentRDDs().items()
    }
    out, reports = run_curation(
        df, ("exact_dedup", "line_dedup", "repetition"), report=True
    )
    after = {
        rdd_id for rdd_id, _ in
        spark.sparkContext._jsc.getPersistentRDDs().items()
    }
    new = after - before
    assert len(new) <= 1, (
        f"{len(new)} intermediate frames still persisted; expected "
        "at most the final stage's"
    )
    out.unpersist()


def test_bloom_stage_prebuilt_words_and_curriculum_score_col(spark):
    """ctx['bloom_words'] skips the benchmark-side build entirely
    (amortized filters), and ctx['curriculum_score_col'] orders by a
    caller-provided column instead of the FK milligrade."""
    from vectordb_light_spark.operators.curate_pipeline import run_curation
    from vectordb_light_spark.operators.dedup import bloom_build

    df = spark.createDataFrame(
        [
            (1, "totally clean document about gardening and soil quality"),
            (2, "the secret eval answer is forty two exactly plus padding"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "the secret eval answer is forty two exactly")],
        "doc_id long, text string",
    )
    words = bloom_build(bench, n=4)
    # no ctx['bench'] at all — the prebuilt array alone must suffice
    out, _ = run_curation(df, ("bloom_decontaminate",),
                          bloom_words=words, decontaminate_n=4)
    assert [r["doc_id"] for r in out.collect()] == [1]

    cdf = spark.createDataFrame(
        [(1, "aaa", 30), (2, "bbb", 10), (3, "ccc", 20)],
        "doc_id long, text string, difficulty int",
    )
    out, _ = run_curation(cdf, ("curriculum",),
                          curriculum_score_col="difficulty",
                          curriculum_stages=3)
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [2, 3, 1]  # ascending difficulty
    assert set(out.columns) == {"doc_id", "text", "difficulty"}


def test_run_curation_split_stage_is_leakage_safe(spark):
    """The terminal 'split' stage annotates survivors with a
    leakage-safe split column: near-dup pairs land in ONE split, the
    row count is unchanged, and weights are honored in shape."""
    from vectordb_light_spark.operators.curate_pipeline import run_curation

    base = (
        "the quick brown fox jumps over the lazy dog and it was that "
        "kind of day for everyone involved in the field trial across "
        "many categories of the ongoing longitudinal study period "
    )
    rows = [(i, base + f"variant {i}") for i in range(40)]
    # two near-dup pairs: same text modulo one token
    rows += [(100, base + "variant 7 "), (101, base + "variant 13 ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, _ = run_curation(
        df,
        ("split",),
        report=False,
        split_weights={"train": 0.5, "test": 0.5},
        split_jaccard=0.8,
    )
    got = out.collect()
    assert len(got) == len(rows)
    assert set(out.columns) == {"doc_id", "text", "split"}
    by_id = {r["doc_id"]: r["split"] for r in got}
    assert set(by_id.values()) <= {"train", "test"}
    # the planted near-dup pairs must not straddle splits
    assert by_id[100] == by_id[7]
    assert by_id[101] == by_id[13]


def test_split_straddle_counter_detects_planted_leak(spark):
    """Negative control for the split leak invariant
    (tools/scale_probe.py count_split_straddlers): on the stage's own
    output it reads 0, and flipping ONE near-dup's split assignment
    must be detected — proving the counter is not vacuous (the
    broadcast-detector precedent)."""
    from pyspark.sql import functions as F

    from tools.scale_probe import count_split_straddlers
    from vectordb_light_spark.operators.curate_pipeline import run_curation

    base = (
        "the quick brown fox jumps over the lazy dog and it was that "
        "kind of day for everyone involved in the field trial across "
        "many categories of the ongoing longitudinal study period "
    )
    rows = [(i, base + f"variant {i}") for i in range(30)]
    rows += [(100, base + "variant 7 "), (101, base + "variant 13 ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, _ = run_curation(
        df, ("split",), report=False,
        split_weights={"train": 0.5, "test": 0.5}, split_jaccard=0.8,
    )
    # jaccard must mirror the run's split_jaccard — a looser counter
    # threshold would surface pairs the stage never clustered
    assert count_split_straddlers(out, jaccard=0.8) == 0

    # plant a leak: move doc 100 (near-dup of doc 7) to the other side
    other = out.where(F.col("doc_id") == 7).head()["split"]
    flipped = "test" if other == "train" else "train"
    corrupted = out.withColumn(
        "split",
        F.when(F.col("doc_id") == 100, F.lit(flipped)).otherwise(
            F.col("split")
        ),
    )
    assert count_split_straddlers(corrupted, jaccard=0.8) > 0
