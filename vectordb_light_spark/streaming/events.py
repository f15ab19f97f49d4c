"""Event-time windowed aggregations over the events stream.

The reference has no true streaming operators (SURVEY §2.9) — these
are the engine's beyond-reference streaming surface, built on the
canonical Structured Streaming pattern:

    readStream (parquet file source)
      → withWatermark(ts, …)           late-data bound / state GC
      → groupBy(window(ts, …), keys)   tumbling event-time windows
      → agg(count, sum, avg)
      → sink (append/update)

The SAME aggregation expression runs in batch mode (it's just a
DataFrame), which is how the tests and the DuckDB oracle check it:
batch result ≡ streaming availableNow result on identical input — the
exactly-once guarantee made observable.

Scale: watermark bounds the state store to (windows in flight ×
keys); partial aggregation happens map-side per micro-batch; the
shuffle carries only (window, key) partials. Each stream runs in a
session of its own (:func:`read_events_stream`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_light_spark.session import stream_session

#: Legacy schema of the driver's events table (Spark ≤3.x read
#: parquet nanos as long under nanosAsLong). Kept for reference; the
#: stream reader now sniffs the actual batch schema, which on Spark
#: 4.x is TIMESTAMP_NTZ for the ts column.
EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to a plain (session-UTC) TIMESTAMP
    regardless of how this Spark version surfaced the parquet
    nanosecond column: long (legacy nanosAsLong) or TIMESTAMP_NTZ."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # Integer division: nano longs exceed double's 2^53 mantissa.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        # Wall-clock-preserving cast (session tz is UTC).
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events_stream(
    spark: SparkSession, events_dir: str, *, glob: str = "events.parquet"
) -> DataFrame:
    """Streaming parquet source over an events directory (file
    streaming sources require a directory; ``glob`` narrows it).

    The stream, and what its sinks return, lives in
    :func:`session.stream_session` (a copy of ``spark``); those frames
    join freely with the caller's.

    File streaming sources need an explicit schema; we sniff it from a
    batch read of the same files so the declared types always match
    what this Spark version produces, then normalize ``ts`` exactly
    like the batch loader (session.load_table)."""
    spark = stream_session(spark)
    schema = (
        spark.read.option("pathGlobFilter", glob).parquet(events_dir).schema
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(events_dir)
    )
    return normalize_event_ts(raw)


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window per event_type: count, total value,
    average value. Works on a batch OR streaming events DataFrame —
    the watermark is applied only when streaming (it is a no-op
    annotation in batch mode)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            # round(4): an average over hundreds of doubles differs
            # from an independent engine's sum order at the 1e-6 digit
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """SLIDING event-time windows per event_type (hopping aggregate —
    each event lands in window/slide overlapping windows). Same
    batch/stream duality as the tumbling form; streaming state holds
    window/slide times more entries per key, which the watermark still
    bounds."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_user_activity(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user: activity runs separated by ≥gap of
    silence collapse into one session (session_window builtin — state
    merges adjacent windows as events arrive)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def _gc_timeout(state, state_ttl_ms: int | None, last_event_ms: int) -> None:
    """Arm the event-time GC clock for a key: expire ``state_ttl_ms``
    of EVENT TIME after the key's last activity (the timeout fires
    once the stream's watermark passes that point). The base is the
    key's own latest event timestamp, NOT the current watermark — the
    watermark is epoch 0 on the first micro-batch, and basing the TTL
    on it would expire every first-batch key the moment the watermark
    jumps. Clamped to watermark+1 (Spark rejects timeout timestamps
    at or below the watermark; a key that is already past due expires
    at the next possible tick). Shared by all three stateful
    operators so the GC contract is uniform."""
    if state_ttl_ms is not None:
        state.setTimeoutTimestamp(
            max(last_event_ms + state_ttl_ms, state.getCurrentWatermarkMs() + 1)
        )


def running_user_totals(
    events: DataFrame,
    *,
    state_ttl_ms: int | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): cumulative
    per-user event count and value total, emitted on every micro-batch
    a user appears in.

    This is the operator class Structured Streaming's builtin apparatus
    can't express — arbitrary per-key state carried across batches
    (builtin windowed aggs bound state by event time; this state lives
    for the key's lifetime). State is two scalars per user; the emitted
    row is the state after the batch, so on a single availableNow batch
    the output equals the batch groupBy aggregate — which is exactly
    how the oracle checks it (st_user_running_totals).

    **State GC (always-on deployments)**: with the default
    ``state_ttl_ms=None`` state lives for the key's lifetime — correct
    for availableNow backfills (the registry/oracle configuration),
    unbounded for a live stream whose key set grows forever. Pass
    ``state_ttl_ms`` to arm an ``EventTimeTimeout``: a watermark
    (``watermark_delay`` lateness on ``ts``) is applied upstream, and
    a user whose last event is more than the TTL behind the watermark
    has its state dropped (the last row emitted for the key — update
    mode — is its final total). In-window output is UNCHANGED; only
    retired keys stop consuming state. Same contract on
    :func:`streaming_heavy_hitters` / :func:`streaming_windowed_quantiles`.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    # last_ms rides IN the state (r6 ADVICE): the TTL must re-arm from
    # the key's true latest event time, not the current batch's max —
    # an out-of-order batch older than the stored maximum would
    # otherwise shrink the effective TTL and drop live state early.
    state_schema = "n long, total double, last_ms long"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total, last_ms = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            if state_ttl_ms is not None and len(pdf):
                last_ms = max(last_ms, int(pdf["ts"].max().value // 1_000_000))
        state.update((n, total, last_ms))
        _gc_timeout(state, state_ttl_ms, last_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    timeout = GroupStateTimeout.NoTimeout
    if state_ttl_ms is not None:
        events = events.withWatermark("ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def user_totals_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`running_user_totals` — the final state per
    user is definitionally this aggregate."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )


def spacesaving_merge(
    summary: dict[int, tuple[int, int]],
    batch_counts: dict[int, int],
    capacity: int,
) -> dict[int, tuple[int, int]]:
    """Fold a batch's key→count map into a SpaceSaving summary of
    ``capacity`` (count, max_err) counters, in place. Keys merge in
    sorted order and eviction picks the smallest key among minimum
    counts, so state evolution is deterministic for a given batch
    sequence. Invariants (unit-tested): true ≤ est ≤ true + max_err,
    and any key with true frequency > total/capacity is retained.

    Eviction uses a lazily-built min-heap with stale-entry skipping
    (the dict stays authoritative), so a batch of B fresh keys against
    a full summary costs O((B + cap) log cap), not B × cap linear
    scans — the difference between a stall and a shrug when millions
    of new keys hit a saturated 65536-counter shard."""
    import heapq

    heap: list[tuple[int, int]] | None = None  # (count, key), lazy
    for k in sorted(batch_counts):
        c = batch_counts[k]
        if k in summary:
            cnt, err = summary[k]
            summary[k] = (cnt + c, err)
            if heap is not None:
                heapq.heappush(heap, (cnt + c, k))
        elif len(summary) < capacity:
            summary[k] = (c, 0)
            if heap is not None:
                heapq.heappush(heap, (c, k))
        else:  # evict the min count (smallest key among ties)
            if heap is None:
                heap = [(cnt, q) for q, (cnt, _) in summary.items()]
                heapq.heapify(heap)
            while True:  # skip entries stale from updates/evictions
                mc, mk = heap[0]
                if summary.get(mk, (None,))[0] == mc:
                    break
                heapq.heappop(heap)
            heapq.heappop(heap)
            del summary[mk]
            summary[k] = (mc + c, mc)
            heapq.heappush(heap, (mc + c, k))
    return summary


def streaming_heavy_hitters(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    threshold: int = 1,
    capacity: int = 65536,
    shards: int = 8,
    state_ttl_ms: int | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming heavy hitters via SHARDED SpaceSaving summaries
    (Metwally et al., "Efficient Computation of Frequent and Top-k
    Elements in Data Streams", ICDT 2005) — emit every key whose
    estimated count is ≥ ``threshold``.

    Scale design: keys hash into ``shards`` state groups, each
    carrying ONE SpaceSaving summary of ``capacity`` counters across
    micro-batches (applyInPandasWithState). A key lives in exactly one
    shard, so the union of shard summaries needs no cross-shard merge
    — total state is a constant shards × capacity counters no matter
    how many events or distinct keys flow through, which is the whole
    point at 100 TB (an exact groupBy count over billions of keys
    would grow state without bound).

    Accuracy contract: each summary guarantees
    ``true ≤ est ≤ true + max_err`` and retains every key whose true
    shard-local frequency exceeds shard_events / capacity. When a
    shard sees ≤ capacity distinct keys it never evicts, every
    max_err is 0 and counts are EXACT — the regime the registry
    oracle pins (asserted against graded SFs in tests); the overflow
    bounds get their own unit tests.

    State is already CONSTANT-bounded (shards × capacity counters);
    ``state_ttl_ms`` additionally retires a shard's whole summary
    after that much event-time idleness (EventTimeTimeout +
    ``watermark_delay`` watermark on ``ts``) — the epoch-reset an
    always-on deployment uses so ancient counts don't dominate
    forever. Default ``None`` keeps lifetime summaries (the
    availableNow/oracle configuration). See
    :func:`running_user_totals` for the shared GC contract.
    """
    import pickle

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = events.schema[key_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"streaming_heavy_hitters needs an integral key column; "
            f"{key_col} is {dt.simpleString()} (hash it to a long first)"
        )
    out_schema = f"{key_col} long, est_count long, max_err long"
    state_schema = "blob binary"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        # state blob is (summary, last_ms): the TTL re-arms from the
        # shard's true latest event time, not the batch max (r6
        # ADVICE — out-of-order batches must not shrink the TTL)
        summary: dict[int, tuple[int, int]]
        summary, last_ms = (
            pickle.loads(bytes(state.get[0])) if state.exists else ({}, 0)
        )
        batch_counts: dict[int, int] = {}
        for pdf in pdfs:
            for k, c in pdf[key_col].value_counts().items():
                batch_counts[int(k)] = batch_counts.get(int(k), 0) + int(c)
            if state_ttl_ms is not None and len(pdf):
                last_ms = max(last_ms, int(pdf["ts"].max().value // 1_000_000))
        spacesaving_merge(summary, batch_counts, capacity)
        state.update((pickle.dumps((summary, last_ms), protocol=4),))
        _gc_timeout(state, state_ttl_ms, last_ms)
        keys = sorted(k for k, (cnt, _) in summary.items() if cnt >= threshold)
        yield pd.DataFrame(
            {
                key_col: keys,
                "est_count": [summary[k][0] for k in keys],
                "max_err": [summary[k][1] for k in keys],
            }
        )

    timeout = GroupStateTimeout.NoTimeout
    if state_ttl_ms is not None:
        events = events.withWatermark("ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    sharded = events.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(shards))
    )
    return sharded.groupBy("__shard").applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def heavy_hitters_batch(
    events: DataFrame, *, key_col: str = "user_id", threshold: int = 1
) -> DataFrame:
    """Exact batch twin of :func:`streaming_heavy_hitters` — in the
    no-eviction regime the sketch output equals this aggregate with
    max_err ≡ 0."""
    return (
        events.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("est_count"))
        .where(F.col("est_count") >= threshold)
        .withColumn("max_err", F.lit(0).cast("long"))
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, *, output_mode: str = "complete"
) -> DataFrame:
    """Drain a streaming aggregate into an in-memory table with an
    availableNow trigger and return the result as a batch DataFrame
    (test/backfill harness). The view ``query_name`` is registered in
    ``stream_df``'s session."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def clicks_to_purchases_join(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream (or batch-batch) inner join: each click matched
    to every purchase by the SAME user that lands within ``horizon``
    after the click (attribution join).

    Streaming: the canonical watermarked stream-stream join — both
    sides carry an event-time watermark and the join predicate bounds
    purchase time to [click_ts, click_ts + horizon], so each side's
    state store only buffers rows inside watermark+horizon and is GC'd
    as event time advances. Without the time bound the state would
    grow without limit; with it, state size is (arrival rate ×
    horizon) per side — the property that makes this run forever on an
    unbounded stream.

    Batch: the identical expression is a plain equi-join on user_id
    with the same BETWEEN post-condition (one shuffle per side; the
    range condition rides on the hash join) — which is how the tests
    and the SQL oracle check the streaming result.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("buy_id"),
        F.col("user_id").alias("buy_user_id"),
        F.col("ts").alias("buy_ts"),
        F.col("value").alias("buy_value"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("buy_ts", watermark)
    return c.join(
        p,
        (c.user_id == p.buy_user_id)
        & (p.buy_ts >= c.click_ts)
        & (p.buy_ts <= c.click_ts + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("click_id", "buy_id", "user_id", "click_ts", "buy_ts", "buy_value")


# ---------------------------------------------------------------------------
# Streaming windowed quantiles (Greenwald-Khanna summaries; r5)
# ---------------------------------------------------------------------------


def gk_insert_sorted(
    state: tuple[int, list[list[float]]],
    values,
    eps: float,
) -> tuple[int, list[list[float]]]:
    """Fold a SORTED batch of values into a Greenwald-Khanna ε-summary
    (Greenwald & Khanna, "Space-Efficient Online Computation of
    Quantile Summaries", SIGMOD 2001). ``state`` is ``(n, tuples)``
    with tuples ``[v, g, d]`` sorted by v: rmin(i) = Σ g_1..i,
    rmax(i) = rmin(i) + d_i, and the invariant max(g_i + d_i) ≤
    ⌊2εn⌋ + 1 guarantees every quantile query lands within εn ranks.

    One merge walk over (tuples, batch): each value inserts as
    ``[v, 1, ⌊2εn⌋ − 1]`` (0 at the extremes or while ⌊2εn⌋ < 1 —
    which means summaries stay EXACT, every d = 0, until
    n ≥ 1/(2ε)), then one compress pass merges adjacent tuples while
    g_i + g_{i+1} + d_{i+1} ≤ ⌊2εn⌋. Deterministic for a given batch
    sequence — no randomness anywhere, unlike KLL compaction coins —
    which is what makes a streaming oracle hashable."""
    n, tuples = state
    merged: list[list[float]] = []
    ti, bi = 0, 0
    nt, nb = len(tuples), len(values)
    while ti < nt or bi < nb:
        if ti < nt and (bi >= nb or tuples[ti][0] <= values[bi]):
            merged.append(tuples[ti])
            ti += 1
        else:
            v = float(values[bi])
            band = int(2 * eps * n)
            d = 0 if (not merged or ti >= nt or band < 1) else band - 1
            merged.append([v, 1, d])
            n += 1
            bi += 1
    # compress right-to-left so capacity frees where tuples are dense
    band = int(2 * eps * n)
    out: list[list[float]] = []
    i = len(merged) - 1
    while i >= 0:
        cur = merged[i]
        while i > 0 and merged[i - 1][1] + cur[1] + cur[2] <= band:
            cur = [cur[0], cur[1] + merged[i - 1][1], cur[2]]
            i -= 1
        out.append(cur)
        i -= 1
    out.reverse()
    return n, out


def gk_query(
    state: tuple[int, list[list[float]]], phi: float, eps: float
) -> float:
    """Quantile query (GK 2001): the first value whose rank envelope
    satisfies r − rmin ≤ εn AND rmax − r ≤ εn for r = ⌈φ·n⌉ — such a
    tuple always exists under the insert invariant, and the returned
    value's true rank is within εn of r. While every d = 0 and εn < 1
    (the no-compression regime) this is EXACTLY the ⌈φ·n⌉-th order
    statistic. A minimum-violation fallback keeps the query total if
    a caller hands it a summary built with a different ε."""
    import math

    n, tuples = state
    if n == 0 or not tuples:
        return float("nan")
    r = max(1, math.ceil(phi * n))
    en = eps * n
    rmin = 0
    best, best_viol = tuples[-1][0], float("inf")
    for v, g, d in tuples:
        rmin += g
        viol = max(r - rmin, (rmin + d) - r, 0)
        if viol <= en:
            return v
        if viol < best_viol:
            best_viol, best = viol, v
    return best


def streaming_windowed_quantiles(
    events: DataFrame,
    *,
    value_col: str = "value",
    eps: float = 0.002,
    quantiles: tuple[float, ...] = (0.5, 0.95),
    state_ttl_ms: int | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Windowed streaming percentiles: one Greenwald-Khanna ε-summary
    per (event_type, event day) under ``applyInPandasWithState`` —
    the quantile sibling of :func:`streaming_heavy_hitters`, and the
    other sketch every 100 TB telemetry pipeline needs (latency
    p50/p95 per service per window, without ever sorting a window's
    raw values globally).

    Scale design: a summary holds O((1/ε)·log(εn)) tuples however
    many events a window sees — the compress pass is the state bound.
    State is keyed by (type, day): the active key set is
    types × windows-in-flight, and ``state_ttl_ms`` retires CLOSED
    windows — a (type, day) key whose last event sits more than the
    TTL behind the event-time watermark (``watermark_delay`` lateness
    on ``ts``) drops its summary via ``EventTimeTimeout``; the last
    row emitted for the key (update mode) is the closed window's
    final quantile set, and in-window output is unchanged. The
    default ``None`` keeps every key live — correct for availableNow
    file backfills, which process everything in one pass (the
    registry run carries all 150 sf-keys live — still KB-scale).
    Each micro-batch folds map-side-sorted values into the summary in
    one merge walk; nothing ever shuffles but the raw events, once,
    into their state partition.

    Accuracy contract: every emitted quantile is within εn ranks of
    exact; while n < 1/(2ε) the summary holds every value with d = 0
    and emissions are EXACTLY the ⌈φn⌉-th order statistics — the
    regime the registry oracle pins at graded SFs (eps=0.002 ⇒ exact
    below n = 250; sf0.01's largest window holds ~90 events, a >2.7×
    margin asserted in tests). Compression-regime rank bounds get
    dedicated unit tests."""
    import pickle

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    qcols = [f"p{int(q * 100):02d}" for q in quantiles]
    out_schema = "event_type string, day date, n_events long, " + ", ".join(
        f"{c} double" for c in qcols
    )
    state_schema = "blob binary"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        st: tuple[int, list[list[float]]] = (
            pickle.loads(bytes(state.get[0])) if state.exists else (0, [])
        )
        for pdf in pdfs:
            vals = pdf[value_col].dropna().sort_values().to_numpy()
            if len(vals):
                st = gk_insert_sorted(st, vals, eps)
        state.update((pickle.dumps(st, protocol=4),))
        if state_ttl_ms is not None:
            # the key IS the window: TTL counts from the window's
            # close (end of the key's day, UTC) — a replayed late row
            # re-arms from the same base, so the retirement point is
            # a property of the window, not of arrival order
            import datetime as _dt

            day_end = _dt.datetime.combine(
                key[1], _dt.time(), tzinfo=_dt.timezone.utc
            ) + _dt.timedelta(days=1)
            _gc_timeout(state, state_ttl_ms, int(day_end.timestamp() * 1000))
        else:
            _gc_timeout(state, state_ttl_ms, 0)
        row = {"event_type": key[0], "day": key[1], "n_events": st[0]}
        for q, c in zip(quantiles, qcols):
            row[c] = gk_query(st, q, eps)
        yield pd.DataFrame([row])

    timeout = GroupStateTimeout.NoTimeout
    cols = ["event_type", F.to_date("ts").alias("day"), F.col(value_col)]
    if state_ttl_ms is not None:
        events = events.withWatermark("ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
        # the watermarked ts column must survive the projection or
        # Spark cannot attach the event-time timeout to this operator
        cols.append(F.col("ts"))
    keyed = events.select(*cols)
    return keyed.groupBy("event_type", "day").applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def windowed_quantiles_batch(
    events: DataFrame,
    *,
    value_col: str = "value",
    quantiles: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """Exact batch twin of :func:`streaming_windowed_quantiles` in the
    no-compression regime: the ⌈φn⌉-th order statistic per
    (event_type, day) — nearest-rank (ceil) quantiles, computed with
    an exact sort-based percentile."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for q in quantiles:
        c = f"p{int(q * 100):02d}"
        aggs.append(
            F.expr(
                f"sort_array(collect_list({value_col}))"
                f"[cast(ceil({q} * count({value_col})) as int) - 1]"
            ).alias(c)
        )
    return (
        events.select("event_type", F.to_date("ts").alias("day"), value_col)
        .groupBy("event_type", "day")
        .agg(*aggs)
    )


def dedup_events(
    events: DataFrame,
    *,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once event deduplication, batch or streaming.

    Streaming: ``dropDuplicatesWithinWatermark`` — state holds one
    entry per key seen within the watermark horizon and is GC'd as
    the watermark advances, so state size is bounded by (key arrival
    rate × horizon), not by stream length. This is the at-least-once
    source → exactly-once pipeline adapter (file sources re-list,
    Kafka redelivers). Batch: plain ``dropDuplicates`` on the same
    keys — the tests assert stream ≡ batch on identical input.
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def start_daily_rollup(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    *,
    checkpoint_dir: str,
    glob: str = "events.parquet",
    available_now: bool = True,
    processing_time: str = "1 minute",
):
    """Incrementally-maintained materialized view: a per-(day,
    event_type) rollup table kept current by the event stream —
    foreachBatch merges each micro-batch's partial aggregates into
    the parquet rollup, rewriting ONLY the touched day partitions
    (dynamic partition overwrite).

    The 100 TB property: per batch, work is (batch rows → partial
    agg) + (read of the touched days' existing rows) + (write of the
    touched days) — cost tracks the batch's day-spread, never the
    rollup's total history. Counts/sums are associative, so
    batch-partial + stored = exact, whatever the batch boundaries;
    the test replays a split stream and asserts equality with the
    one-shot batch aggregate.
    """
    import os

    stream = read_events_stream(spark, events_dir, glob=glob)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        part = (
            batch_df.groupBy(
                F.to_date("ts").alias("day"), F.col("event_type")
            ).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("total_value"),
            )
        ).persist()
        days = [r["day"] for r in part.select("day").distinct().collect()]
        merged = part
        if os.path.isdir(rollup_dir):
            old = (
                batch_df.sparkSession.read.parquet(rollup_dir)
                .where(F.col("day").isin(days))
            )
            merged = (
                part.unionByName(old)
                .groupBy("day", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_value").alias("total_value"),
                )
            )
            # Materialize the merged slice BEFORE overwriting: the
            # plan reads rollup_dir, and writing over a path a running
            # plan still reads is Spark-version-sensitive (static
            # overwrite mode raises; some versions can lose data).
            # localCheckpoint severs the lineage to the input files.
            merged = merged.localCheckpoint(eager=True)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(rollup_dir)
        )
        part.unpersist()

    writer = stream.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
