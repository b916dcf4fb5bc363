"""sportstv_streaming_data_warehouse_spark — PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
``ayushvarma7/sportstv-streaming-data-warehouse`` (an R + MySQL star-schema
batch ETL; see /root/reference), re-expressed idiomatically on Spark:

- sources land as DataFrames with explicit schemas (``sources/``)
- dimension enrichment is broadcast hash joins, the reference's 50K-row
  batching + additive upsert machinery collapses into a single
  Catalyst-optimized groupBy (``plans/star.py``)
- the full analytics catalog runs as DataFrame/SQL queries (``plans/catalog.py``)
- streaming ingestion is Structured Streaming with event-time windows and
  idempotent sinks (``streaming/``)
- scale-oriented extensions (dedup, similarity search, text analysis,
  multimodal plumbing) live in ``operators/`` and ``functions/``.
"""

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]


def __getattr__(name):
    # lazy (PEP 562): importing the package must not import pyspark, so
    # the worker daemon (``daemon.py``, run as ``python -m``) can filter
    # sys.path before pyspark loads
    if name == "get_spark":
        from .session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
