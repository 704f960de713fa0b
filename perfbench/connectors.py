"""Benchmark-owned integrations (the connector layer): the callbacks
the engine runs for each operation. They read only the seeded inputs
from ``inputs.py`` and persist into the run's scratch root."""

from __future__ import annotations

import gzip
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hyppo_worker_spark.registry import ProcessedDataIntegration, RawDataIntegration

LINEITEM_COLUMNS = (
    "l_orderkey",
    "l_partkey",
    "l_returnflag",
    "l_quantity",
    "l_extendedprice",
)


class LineitemFeed(ProcessedDataIntegration):
    """Processed-data family: each task fetches the source rows whose
    seeded key hash falls in its bucket."""

    def __init__(self, name: str, source: str, out_dir: str, n_tasks: int, salt: int):
        self.source_name = name
        self.source = source
        self.out_dir = out_dir
        self.n_tasks = n_tasks
        self.salt = salt

    def record_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField("l_orderkey", T.LongType()),
                T.StructField("l_partkey", T.LongType()),
                T.StructField("l_returnflag", T.StringType()),
                T.StructField("l_quantity", T.DoubleType()),
                T.StructField("l_extendedprice", T.DoubleType()),
            ]
        )

    def create_tasks(self, job):
        return [{"bucket": i} for i in range(self.n_tasks)]

    def fetch_processed(self, spark: SparkSession, task) -> DataFrame:
        bucket = F.pmod(F.xxhash64("l_orderkey", F.lit(self.salt)), F.lit(self.n_tasks))
        return (
            spark.read.parquet(self.source)
            .filter(bucket == task.task_arguments["bucket"])
            .select(*LINEITEM_COLUMNS)
        )

    def persist(self, spark: SparkSession, task, records: DataFrame) -> None:
        records.write.mode("overwrite").parquet(
            f"{self.out_dir}/job-{task.job.id}/task-{task.task_number}"
        )


_DOC_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
)


def _parse_payload(content: bytes) -> list[tuple]:
    """gzip JSON-lines payload → (doc_id, lang, n_chars) rows; runs in
    Spark's Python workers."""
    out = []
    for line in gzip.decompress(bytes(content)).splitlines():
        d = json.loads(line)
        out.append((d["doc_id"], d["lang"], len(d["text"])))
    return out


class DocsRawFeed(RawDataIntegration):
    """Raw-data family: each task lands its slice of the shuffled
    documents as JSON-line payloads; the processor parses them in a
    Python UDF over the ``binaryFile`` rows."""

    def __init__(
        self, name: str, docs: list[dict], out_dir: str, n_tasks: int, payloads_per_task: int
    ):
        self.source_name = name
        self.docs = docs
        self.out_dir = out_dir
        self.n_tasks = n_tasks
        self.payloads_per_task = payloads_per_task

    def record_schema(self) -> T.StructType:
        return _DOC_SCHEMA.elementType

    def create_tasks(self, job):
        step = -(-len(self.docs) // self.n_tasks)
        return [
            {"lo": lo, "hi": min(lo + step, len(self.docs))}
            for lo in range(0, len(self.docs), step)
        ]

    def fetch_raw(self, task) -> list[bytes]:
        args = task.task_arguments
        docs = self.docs[args["lo"] : args["hi"]]
        k = self.payloads_per_task
        return [
            "\n".join(json.dumps(d, separators=(",", ":")) for d in docs[i::k]).encode()
            for i in range(k)
        ]

    def process_raw(self, spark: SparkSession, task, raw_df: DataFrame) -> DataFrame:
        parse = F.udf(_parse_payload, _DOC_SCHEMA)
        return raw_df.select(F.explode(parse("content")).alias("r")).select("r.*")

    def persist(self, spark: SparkSession, task, records: DataFrame) -> None:
        records.write.mode("overwrite").parquet(
            f"{self.out_dir}/job-{task.job.id}/task-{task.task_number}"
        )


class ControlFeed(ProcessedDataIntegration):
    """Control-plane family: a job plans ``n_tasks`` tasks and each one
    is finished by a ``HandleJobCompleted`` item; no Spark job runs."""

    def __init__(self, name: str, n_tasks: int):
        self.source_name = name
        self.n_tasks = n_tasks

    def record_schema(self) -> T.StructType:
        return T.StructType([T.StructField("task", T.LongType())])

    def create_tasks(self, job):
        return [{"task": i} for i in range(self.n_tasks)]

    def fetch_processed(self, spark, task):
        raise NotImplementedError("control-plane jobs fetch nothing")

    def persist(self, spark, task, records):
        raise NotImplementedError("control-plane jobs persist nothing")
