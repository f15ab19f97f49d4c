"""vectordb_light_spark — a PySpark-native analytics/vector engine.

A from-scratch re-expression of the capabilities of the reference
BBC-Esq/VectorDB-Light (a local RAG vector database) as an idiomatic
Spark DataFrame engine, extended with the large-scale training-data
pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) that a 100 TB corpus needs.

Design principles
-----------------
- DataFrame/SQL first: every operator is declared against the Catalyst
  optimizer; RDDs are never used.
- JVM-side hot path: built-in ``pyspark.sql.functions`` everywhere the
  semantics allow; Arrow-batched pandas UDFs only for NFKC
  normalization, format extraction, and model inference.
- Scale-aware: broadcast joins for small dims, salting hooks for skew,
  partition-count knobs on every wide operator, no driver-side loops.
"""

__all__ = ["get_spark", "load_tables"]

__version__ = "0.1.0"


def __getattr__(name: str):
    # session (and with it pyspark and numpy) loads on first use, so the
    # worker daemon can set up its process before numpy loads
    if name in __all__:
        from vectordb_light_spark import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
