"""SparkSession construction and test-table loading.

The engine targets a large multi-executor cluster; locally we run
``local[N]`` with the same conf surface so plans (shuffle partition
counts, AQE, broadcast thresholds) translate 1:1.
"""

from __future__ import annotations

import math
import os
import weakref

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver materializes at each scale factor (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: The module Spark runs as the Python worker daemon (``get_spark``).
WORKER_DAEMON_MODULE = "vectordb_light_spark.worker_daemon"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "vectordb_light_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf.

    - AQE on: runtime coalescing + skew-join handling stand in for the
      reference's hand-tuned "wave" parallelism presets
      (reference stage_split.py:286-296, constants.py:74-110).
    - Arrow on: all pandas UDF stages (normalize, extract, embed) move
      data in Arrow record batches.
    - shuffle.partitions sized to the local core count; on a real
      cluster this is overridden per-deploy (or left to AQE).
    - Python workers fork from :mod:`vectordb_light_spark.worker_daemon`,
      which stops each task re-reading every zip archive on the
      worker's path (~77 ms a task on 4 cores) and has numpy's OpenBLAS
      run the GEMM kernels the CPU's flags support. The executors' Python
      path gets this package's parent directory, which holds locally;
      a cluster installs or ships the package to every executor. Both
      are static confs: they apply only when this call creates the
      SparkContext, not to a session that already exists.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE parallelism-first coalescing only splits post-shuffle
        # stages down to minPartitionSize (default 1 MB). Several
        # stages here are CPU-bound text/HOF work over a few MB of
        # shuffle bytes — a 1 MB floor coalesces them to 1-3 tasks,
        # serializing per-row compute that bytes-based sizing cannot
        # see (r12 measurement: the curate gate stage and the
        # sketch-accuracy merge both ran 1-2 tasks; interleaved A/B
        # 1m vs 256k: pipe_curate_chain 5.99→1.81 s,
        # prof_sketch_accuracy 2.56→1.00 s, CC-iterative entries
        # within band). At cluster byte sizes post-shuffle partitions
        # are far above 1 MB, so the floor only engages where data is
        # small relative to the cores — scale-adaptive by
        # construction, not a local[32] constant.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k"
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores timestamp[ns]; depending on the Spark
        # version it surfaces as long (legacy nanosAsLong) or as
        # TIMESTAMP_NTZ — load_table normalizes either to TIMESTAMP.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        # the daemon starts before any task ships code, so its package
        # must be on the workers' path whatever their working directory
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    return builder.getOrCreate()


#: (session id, sf_dir, table) → DataFrame. Reusing the DataFrame
#: object skips the parquet footer/schema read that every fresh
#: ``spark.read.parquet`` pays; across an 80-query registry run that
#: is ~150 avoided footer reads. Deliberately NOT ``.persist()`` —
#: Spark's cache manager substitutes any cached relation into later
#: matching plans, which would defeat pushdown-assertion tests and
#: change driver-observed plans.
_TABLE_MEMO: dict[tuple[int, str, str], DataFrame] = {}

#: Sessions already runtime-tuned by :func:`_tune_session`.
_TUNED: set[int] = set()


def _tune_session(spark: SparkSession) -> None:
    """Idempotent per-session runtime tuning applied on first table
    load. The engine's own :func:`get_spark` already sets these at
    build time; this path defends the case where the caller (e.g. the
    correctness driver) hands us a vanilla session — 200 shuffle
    partitions and AQE off turn every small-SF query into a 200-task
    shuffle storm. All three confs are runtime-settable SQL confs."""
    key = id(spark)
    if key in _TUNED:
        return
    _TUNED.add(key)
    # Timestamp determinism FIRST, in its own try: the NTZ→TIMESTAMP
    # cast in load_table and every date_trunc/unix_micros read the
    # SESSION timezone — a vanilla session inheriting a non-UTC JVM
    # default would shift epoch values against the (timezone-naive)
    # DuckDB oracle. Kept separate so a failure in the perf tuning
    # below (e.g. no sparkContext on a Connect session) cannot skip it.
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover - conf may be restricted
        pass
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # see get_spark: keep CPU-heavy small-byte post-shuffle stages
        # parallel (no effect at cluster byte sizes)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k"
        )
        if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > 64:
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:  # pragma: no cover - conf may be restricted
        pass


#: Shuffle partitions of a stateful stream's session: one state store
#: each, so the count tracks state size, not the scan width. A
#: checkpoint pins it at the query's first run.
STREAM_STATE_PARTITIONS = 8


def stream_session(spark: SparkSession) -> SparkSession:
    """A copy of ``spark``'s session (runtime conf, UDFs, temp views;
    ``newSession()`` would drop the runtime conf) with its own conf and
    catalog, so a stream's partition count and memory-sink view never
    reach the caller's session. Each copy leaves one streaming-listener
    registration on the SparkContext."""
    out = spark.__class__(spark.sparkContext, spark._jsparkSession.cloneSession())
    out.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided parquet table.

    ``events.ts`` is stored as parquet timestamp[ns]. Spark ≤3.x with
    ``nanosAsLong`` surfaces it as a long; Spark 4.x ignores that conf
    and reads TIMESTAMP_NTZ. Either way we normalize to a plain
    (session-UTC) TIMESTAMP so time functions like ``unix_micros``
    work and collected values match what DuckDB reads.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    _tune_session(spark)
    memo_key = (id(spark), sf_dir, name)
    if memo_key in _TABLE_MEMO:
        return _TABLE_MEMO[memo_key]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            # Integer division: nano longs exceed double's 2^53
            # mantissa, so `/ 1000` + cast would round the microsecond.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, TimestampNTZType):
            # Wall-clock-preserving cast (session tz is UTC).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_MEMO[memo_key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every driver-provided table at ``sf_dir`` into a dict."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


#: Frames persisted by :func:`persist_if_batch` since the last
#: :func:`release_persisted` call — the r13 bench-integrity ledger
#: (VERDICT r12 item 1). Never-unpersisted frames stay registered in
#: Spark's CacheManager, which substitutes a cached plan into any
#: LATER structurally-equal query — so a bench warm-up run's
#: materialized intermediates could silently serve the timed runs
#: (cross-run result caching, which the bench rules forbid). The
#: registry wrapper (queries.register) drains this ledger at the
#: start of every top-level entry build, so each invocation computes
#: its persisted frames from the parquet inputs.
_PERSISTED_FRAMES: list[DataFrame] = []


def persist_if_batch(df: DataFrame) -> DataFrame:
    """MEMORY_AND_DISK-persist a DataFrame consumed by multiple
    downstream branches (e.g. both sides of a self-join), so a derived
    input pipeline — a signature UDF, an embedding stage — computes
    once instead of once per branch. No-op for streaming inputs.
    Every persisted frame is recorded for :func:`release_persisted`
    (r13: per-build cache hygiene — see `_PERSISTED_FRAMES`)."""
    if df.isStreaming:
        return df
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED_FRAMES.append(out)
    return out


def release_persisted() -> int:
    """Unpersist every frame :func:`persist_if_batch` recorded since
    the last call, returning how many were released. Called by the
    query-registry wrapper at the start of each top-level entry build
    so no cached block from a PREVIOUS build (warm-up or earlier
    entry) can be substituted into the new build's plan (r13 cache-
    substitution audit: the pre-fix tool run measured 11 cached RDDs
    carried into a timed build; with this, 0). ``blocking=False`` —
    the async drop never stalls the next build."""
    n = 0
    while _PERSISTED_FRAMES:
        df = _PERSISTED_FRAMES.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:  # pragma: no cover - session already gone
            pass
    return n


def rebalance(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen a narrow DataFrame to the cluster's core count before an
    expensive per-row stage (pandas UDF / mapInPandas / heavy string
    expressions).

    A small local parquet table is one file → ONE partition, so
    everything downstream runs in one task; on a real cluster the same
    happens after a collapsed aggregation or a tiny-side join. The
    round-robin shuffle moves only the pre-stage rows — always call
    this BEFORE the stage that widens rows (embedding, chunk
    explosion), never after.
    """
    if df.isStreaming:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) < target:
        return df.repartition(target)
    return df


def num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan, read off its own
    query execution: three py4j round trips, where ``df.rdd`` builds a
    Python RDD over it first. Like ``df.rdd``, it runs the shuffle
    stages of a plan with an exchange, so probe a frame that has none.
    An ``observe``d frame keeps its metrics (``df._jdf.rdd()``, the
    Dataset's own RDD, would complete them with zeros)."""
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def quote_ident(name: str) -> str:
    """Back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


#: SparkSession → its JVM session catalog, so :func:`sql_over`'s drop
#: is one py4j round trip instead of three
_SESSION_CATALOGS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _session_catalog(spark: SparkSession):
    catalog = _SESSION_CATALOGS.get(spark)
    if catalog is None:
        catalog = _SESSION_CATALOGS[spark] = spark._jsparkSession.sessionState().catalog()
    return catalog


def sql_over(df: DataFrame, view: str, text: str, args: dict | None = None) -> DataFrame:
    """``spark.sql(text, args)`` with ``df`` registered as the temp view
    ``view`` only while the text is analyzed."""
    spark = df.sparkSession
    df.createOrReplaceTempView(view)
    try:
        if args:
            return spark.sql(text, args)
        # one py4j round trip, where spark.sql converts an empty
        # argument list in four more
        return DataFrame(spark._jsparkSession.sql(text), spark)
    finally:
        # The session catalog's drop: spark.catalog.dropTempView, and so
        # spark.sql(..., vectors=df), also uncaches the view's plan,
        # which would unpersist a cached ``df`` for every later
        # consumer. The analyzed result no longer needs the name.
        _session_catalog(spark).dropTempView(view)


def pushdown_barrier(df: DataFrame) -> DataFrame:
    """Pushdown BARRIER (r13): a vacuously-true NON-DETERMINISTIC
    filter (monotonically increasing ids are non-negative by
    contract) that pins every LATER deterministic filter above this
    point — PushDownPredicates may not reorder across a
    non-deterministic condition. Row set unchanged at any scale.

    Use it directly above a rebalanced small scan when ONE expensive
    downstream gate (quality fold, canonicalization chain) would
    otherwise be pushed below the round-robin exchange into the
    single-split scan task, serializing per-row compute on one core
    (r12 measured 3.26 s of 1-task gate work inside
    pipe_curate_chain; r13 interleaved A/B on pipe_training_corpus:
    barrier 0.58 s vs pushed 1.15 s).

    Do NOT use above MULTI-consumer persisted pipelines: a filter
    pushed into the exchange's map side is evaluated once and its
    result is reused through the shuffle files by every consumer
    query stage, while a post-exchange filter re-evaluates per racing
    consumer (r13 interleaved A/B: dd_duplicate_clusters 4.02 s with
    a blanket barrier vs 3.74 s without — the blanket form was
    reverted for exactly this)."""
    if df.isStreaming:
        return df
    from pyspark.sql import functions as F

    return df.where(F.monotonically_increasing_id() >= 0)


def literal_array_sql(values, sql_type: str = "bigint") -> str:
    """Array literal as ONE SQL expression text. ``F.array`` over
    per-element ``F.lit`` pays a py4j driver round-trip per element —
    ~3 ms each, so a 2048-word Bloom filter literal cost ~6 s of plan
    CONSTRUCTION wall per query build (measured; the executed plan is
    identical either way). Integer types render exactly; doubles use
    repr (shortest round-trip) with the ``D`` suffix so the parsed
    value is bit-identical to the Python float. SQL has no NaN/inf
    literal syntax, so a non-finite double raises ``ValueError``
    naming its index instead of rendering unparseable text."""
    t = sql_type.lower()
    values = list(values)  # accept numpy arrays / generators (r13)
    if not values:
        return f"CAST(array() AS array<{t}>)"
    if t in ("bigint", "long", "int", "integer", "smallint", "tinyint"):
        suffix = "L" if t in ("bigint", "long") else ""
        body = ",".join(str(int(v)) + suffix for v in values)
    elif t in ("double", "float"):
        floats = [float(v) for v in values]
        bad = next((i for i, v in enumerate(floats) if not math.isfinite(v)), None)
        if bad is not None:
            raise ValueError(
                f"literal_array: non-finite value {floats[bad]!r} at index {bad}"
            )
        body = ",".join(repr(v) + "D" for v in floats)
    else:
        raise ValueError(f"unsupported literal_array type: {sql_type}")
    if t in ("bigint", "long", "double"):
        return f"array({body})"
    return f"CAST(array({body}) AS array<{t}>)"


def literal_array(values, sql_type: str = "bigint"):
    """:func:`literal_array_sql` parsed into a Column."""
    from pyspark.sql import functions as F

    return F.expr(literal_array_sql(values, sql_type))
