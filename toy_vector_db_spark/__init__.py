"""toy_vector_db_spark — a PySpark-native analytics engine with the query
capabilities of wadefletch/toy-vector-db (reference: /root/reference, Rust).

The reference is an in-memory toy vector database: NDJSON scan, prefix
dataset split, brute-force exact KNN, an HNSW ANN index, and recall/precision
evaluation (see SURVEY.md). This package re-expresses every one of those
capabilities Spark-first — declarative DataFrame plans optimized by Catalyst,
with Python kernels (applyInPandas) only for the graph-walk ANN search — and
extends them with the large-scale training-data-pipeline operators a 100 TB
deployment needs (dedup, similarity search, text analysis, streaming).

Layout:
    functions/   column-expression libraries (vector math, text) — pure
                 Catalyst expressions, no Python UDFs in hot paths
    sources/     scans and ingestion (NDJSON with DROPMALFORMED, prefix split)
    operators/   query operators (exact KNN, HNSW, evaluation, dedup,
                 similarity search, text analytics, relational suite)
    streaming/   Structured Streaming operators over the events table
    plans/       plan-inspection helpers (pushdown/broadcast/codegen audits)
    pyworker.py  Python-worker patch: a stat-checked zip-directory refresh
"""

__version__ = "0.1.0"

from pyspark import TaskContext as _TaskContext

# inside a Python worker (never on the driver): every engine kernel
# unpickles by reference to an engine module, so a reused worker is
# patched from its first engine task on (see pyworker.py)
if _TaskContext.get() is not None:
    from . import pyworker

    pyworker.install()
