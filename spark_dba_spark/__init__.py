"""spark_dba_spark — a PySpark-native analytics & data-management engine.

A from-scratch engine providing the capabilities of the reference
``guptam/spark-dba`` (an Avro small-files compactor; see
``/root/reference/src/com/guptam/spark/dba``) re-expressed Spark-first, plus a
full relational query layer, structured-streaming layer, and LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing) —
everything declared through the DataFrame/SQL API so Catalyst/Tungsten/AQE own
the physical plan.

Layout:
  session    — SparkSession builder tuned for local[N] test + cluster posture
  catalog    — fixture-table loaders (schema-stable, pushdown-friendly)
  functions/ — column-expression helpers (exact decimal aggs, shingles, hashes)
  operators/ — relational, dedup, similarity, text, multimodal operator builders
  sources/   — format-generic readers + Hadoop FileSystem metadata ops
  plans/     — data-management jobs (compaction with atomic swap/trash/audit)
  streaming/ — Structured Streaming jobs + their batch-equivalent oracles
  registry   — the query registry consumed by __spark_entry__ and the bench
"""

__version__ = "0.2.0"

from spark_dba_spark import zipcache as _zipcache  # noqa: E402

# Every PySpark task re-reads pyspark.zip's directory unless this is in
# place; a worker gets it when it unpickles its first engine function.
_zipcache.install()


def __getattr__(name):  # lazy top-level API (avoids import-time Spark deps)
    _API = {
        "get_spark": ("spark_dba_spark.session", "get_spark"),
        "compact": ("spark_dba_spark.plans.compact", "compact"),
        "CompactionParams": ("spark_dba_spark.plans.compact", "CompactionParams"),
        "folder_stats": ("spark_dba_spark.plans.stats", "folder_stats"),
        "needs_compaction": ("spark_dba_spark.plans.stats", "needs_compaction"),
        "vacuum_trash": ("spark_dba_spark.plans.stats", "vacuum_trash"),
        "restore_from_trash": ("spark_dba_spark.plans.stats", "restore_from_trash"),
        "read_folder": ("spark_dba_spark.sources.readers", "read_folder"),
        "write_folder": ("spark_dba_spark.sources.readers", "write_folder"),
        "read_avro_folder": ("spark_dba_spark.sources.avro_spark", "read_avro_folder"),
        "write_avro_folder": ("spark_dba_spark.sources.avro_spark", "write_avro_folder"),
        "read_avro_stream": ("spark_dba_spark.sources.avro_spark", "read_avro_stream"),
        "FsOps": ("spark_dba_spark.sources.fsops", "FsOps"),
        "salted_agg": ("spark_dba_spark.functions.skew", "salted_agg"),
        "salted_join": ("spark_dba_spark.functions.skew", "salted_join"),
        "queries": ("spark_dba_spark.registry", "queries"),
        "oracle_sql": ("spark_dba_spark.registry", "oracle_sql"),
    }
    if name in _API:
        import importlib

        mod, attr = _API[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'spark_dba_spark' has no attribute {name!r}")
