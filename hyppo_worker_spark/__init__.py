"""hyppo_worker_spark — a PySpark-native analytics & ingestion engine.

A from-scratch re-expression of the capabilities of
``harrystech/hyppo-worker`` (a distributed ingestion work-execution
system) on top of Apache Spark:

- **Data plane**: DataFrames over parquet/avro/binary files with the
  reference's S3 key layout, checksums, and record-count manifests
  (reference: ``worker/src/main/scala/com/harrys/hyppo/worker/data/S3DataFileHandler.scala``).
- **Control plane**: an in-driver scheduler reproducing the reference's
  queue topology, priority orderings, resource leasing (semaphores +
  token buckets), Gompertz contention backoff, TTL expiry, and
  idempotency-aware ack semantics
  (reference: ``worker/src/main/scala/com/harrys/hyppo/worker/scheduling/``).
- **Processing surface**: the DataFrame operator algebra (joins, aggs,
  windows, set ops) plus large-scale training-data operators
  (dedup, similarity search, text analysis, multimodal plumbing).

Everything here is built only from public knowledge: the Apache Spark
API and the reference repository's observable behavior.
"""

from hyppo_worker_spark import _gcfreeze, _zipimport

# Spark's Python workers import the package when they unpickle engine
# code. Two hooks cut a reused worker's fixed cost per task: it stops
# re-reading pyspark.zip on every task (_zipimport), and its post-task
# gc.collect() stops re-scanning the whole import-time heap (_gcfreeze).
_zipimport.install()
_gcfreeze.install()

__version__ = "0.1.0"
