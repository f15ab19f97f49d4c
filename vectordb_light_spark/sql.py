"""SQL surface: make the engine usable from ``spark.sql`` directly.

The reference exposes only a Python/GUI API; Spark gives a full ANSI
SQL dialect for free once tables and functions are registered — and
Spark SQL's native higher-order functions mean the vector math needs
NO registration at all. After ``register_sql_surface(spark, sf_dir)``
the flagship search is one SQL statement::

    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           aggregate(zip_with(embedding, q.qv,
                     (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                     0D, (acc, v) -> acc + v) AS similarity
    FROM embeddings, q
    ORDER BY similarity DESC, vec_id LIMIT 6

Only genuinely non-SQL computations register as functions: the NFKC
normalizers (``vdb_normalize_text`` / ``vdb_normalize_query``) and the
PDF page splitter (``vdb_page_split(text, chunk_size, chunk_overlap)``)
run as Arrow-batched pandas UDFs. The write path's chunk text
(``operators/ingest.build_chunks``) calls them by these names, so the
SQL route and the engine's own plans are the same plans. Table
registration is plain ``createOrReplaceTempView`` over the parquet
scans — every Catalyst optimization (pushdown, pruning, AQE) applies
unchanged.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from vectordb_light_spark.session import TESTDATA_TABLES, load_table

#: Pure-SQL idioms for the engine's vector math (Spark SQL evaluates
#: higher-order functions natively — no UDF, no registration). Use
#: them inline; `{a}`/`{b}` are array<float/double> expressions.
SQL_IDIOMS = {
    "dot": (
        "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        "CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    ),
    "l2norm": (
        "sqrt(aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * "
        "CAST(x AS DOUBLE)))"
    ),
    "similarity_clipped": (
        "least(greatest(aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v), "
        "0D), 1D)"
    ),
}


#: The Python-backed functions :func:`ensure_sql_functions` registers.
SQL_FUNCTIONS = ("vdb_normalize_text", "vdb_normalize_query", "vdb_page_split")


def _register_functions(spark: SparkSession) -> None:
    from vectordb_light_spark.functions.text import make_normalize_udf
    from vectordb_light_spark.operators.chunker import make_page_split_udf

    spark.udf.register("vdb_normalize_text", make_normalize_udf(True))
    spark.udf.register("vdb_normalize_query", make_normalize_udf(False))
    # registered last: ensure_sql_functions probes this name
    spark.udf.register("vdb_page_split", make_page_split_udf())


def ensure_sql_functions(spark: SparkSession) -> None:
    """Register :data:`SQL_FUNCTIONS` in ``spark`` unless they are
    there. A registration costs ~18 py4j round trips per function,
    the probe one."""
    if not spark.catalog.functionExists(SQL_FUNCTIONS[-1]):
        _register_functions(spark)


def register_sql_surface(
    spark: SparkSession, sf_dir: str | None = None
) -> list[str]:
    """Register the engine's Python-backed scalar functions (Arrow
    pandas UDFs) for ``spark.sql``, and optionally the testdata
    tables at ``sf_dir`` as temp views. Returns the function names.
    Idempotent — re-registration replaces."""
    _register_functions(spark)

    if sf_dir:
        for t in TESTDATA_TABLES:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)

    return list(SQL_FUNCTIONS)
