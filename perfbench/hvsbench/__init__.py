"""Search-serving and ingest benchmark for hybrid_vector_search_spark.

Entry point: ``perfbench/run.py``. See ``perfbench/README.md``.
"""
