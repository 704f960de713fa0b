"""Storage layer: the reference's S3 data-file layout, checksums, and
record-count manifests, realized with Spark readers/writers.

Key scheme preserved from ``worker/src/main/scala/com/harrys/hyppo/worker/data/S3DataFileHandler.scala``:

- raw:     ``{prefix}/{source}/{yyyy-MM-dd}/job-{jobId}/raw/task-{n}/data-{i}.raw.gz``  (:113-118, :98-106)
- records: ``{prefix}/{source}/{yyyy-MM-dd}/job-{jobId}/records/task-{n}/data.{ext}``   (:108-111, :120-125)
- logs:    ``{prefix}/{source}/{date}/ingestion-job-{jobId}/log/{executionId}.out``     (:127-136)

Uploads record size + MD5 (:62-69, :146-148); downloads verify the
checksum against the manifest (:138-144). Record files are written
in the handler's ``records_fmt`` (parquet by default; ``avro-py`` is
the pure-Python Avro container, written as ONE file per task like the
reference's records file; ``avro`` the spark-avro jar). Avro
record files read back through the jar when it is present (probed
once per session) and through the pure-Python reader otherwise. Raw
files are opaque gzipped blobs, read back via Spark's ``binaryFile``
source.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hyppo_worker_spark.model import (
    DataIngestionTask,
    RemoteLogFile,
    RemoteProcessedDataFile,
    RemoteRawDataFile,
    RemoteStorageLocation,
)


class ChecksumMismatch(IOError):
    pass


def md5_hex(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


def _avro_available(spark: SparkSession) -> bool:
    from hyppo_worker_spark.sources.formats import _jar_probe

    return _jar_probe(spark, "avro")


@dataclass
class StorageLayout:
    """Path builder for the reference's key scheme."""

    bucket: str  # local dir (starts with '/') or S3 bucket name
    prefix: str = "hyppo"

    def _date(self, task_or_job) -> str:
        job = getattr(task_or_job, "job", task_or_job)
        return job.started_at.strftime("%Y-%m-%d")

    def raw_key(self, task: DataIngestionTask, index: int) -> str:
        job = task.job
        return (
            f"{self.prefix}/{_sanitize(job.source.name)}/{self._date(task)}/"
            f"job-{job.id}/raw/task-{task.task_number}/data-{index}.raw.gz"
        )

    def records_key(self, task: DataIngestionTask, ext: str = "parquet") -> str:
        job = task.job
        return (
            f"{self.prefix}/{_sanitize(job.source.name)}/{self._date(task)}/"
            f"job-{job.id}/records/task-{task.task_number}/data.{ext}"
        )

    def log_key(self, job, execution_id: str) -> str:
        return (
            f"{self.prefix}/{_sanitize(job.source.name)}/{self._date(job)}/"
            f"ingestion-job-{job.id}/log/{execution_id}.out"
        )

    def loc(self, key: str) -> RemoteStorageLocation:
        return RemoteStorageLocation(self.bucket, key)


def _sanitize(name: str) -> str:
    """Queue/key-safe name: whitespace → '_', '.' → '-'
    (parity with ``QueueNaming.scala:107-112``)."""
    return name.strip().replace(".", "-").replace(" ", "_")


class DataFileHandler:
    """Upload/download with checksum + record-count manifests
    (Spark-native port of ``S3DataFileHandler.scala:43-148``)."""

    def __init__(
        self,
        spark: SparkSession,
        layout: StorageLayout,
        records_fmt: str | None = None,
    ):
        self.spark = spark
        self.layout = layout
        # Records-zone format: parquet by default (columnar scans for
        # the engine's own intermediate storage, encoded in the JVM).
        # records_fmt="avro-py" (jar-free pure-Python container,
        # sources/avro_container.py) or "avro" (jar) persists the
        # reference's actual wire format; the benchmark's raw_ingest
        # workload runs the avro-py path.
        self.records_fmt = records_fmt

    # -- raw files (opaque bytes, gzipped at rest) ---------------------

    def upload_raw(self, task: DataIngestionTask, payloads: list[bytes]) -> list[RemoteRawDataFile]:
        out = []
        for i, payload in enumerate(payloads):
            loc = self.layout.loc(self.layout.raw_key(task, i))
            path = loc.uri()
            os.makedirs(os.path.dirname(path), exist_ok=True)
            blob = gzip.compress(payload, mtime=0)
            with open(path, "wb") as f:
                f.write(blob)
            out.append(
                RemoteRawDataFile(
                    location=loc, file_size=len(blob), checksum=md5_hex(blob)
                )
            )
        return out

    def download_raw(self, manifest: RemoteRawDataFile) -> bytes:
        path = manifest.location.uri()
        with open(path, "rb") as f:
            blob = f.read()
        if md5_hex(blob) != manifest.checksum:
            raise ChecksumMismatch(
                f"raw file {path}: checksum {md5_hex(blob)} != manifest {manifest.checksum}"
            )
        return gzip.decompress(blob)

    def read_raw_df(self, manifests: list[RemoteRawDataFile]) -> DataFrame:
        """Raw files as a Spark binaryFile DataFrame (path, content
        decompressed is up to the processor — content column carries
        the gzipped bytes as stored)."""
        paths = [m.location.uri() for m in manifests]
        return self.spark.read.format("binaryFile").load(paths)

    # -- processed record files ---------------------------------------

    def write_records(self, task: DataIngestionTask, df: DataFrame) -> RemoteProcessedDataFile:
        """Write a typed DataFrame to the records zone; manifest
        carries total size + md5-of-sorted-part-md5s + record count
        (count observed from the write, not a second scan)."""
        fmt = self.records_fmt or "parquet"
        ext = "avro" if fmt == "avro-py" else fmt
        loc = self.layout.loc(self.layout.records_key(task, ext=ext))
        path = loc.uri()
        if fmt == "avro-py":
            import shutil

            from hyppo_worker_spark.sources.avro_container import write_avro

            shutil.rmtree(path, ignore_errors=True)
            # One records file per task, as the reference writes it: the
            # connector's parse (or fetch) and the encoder share one
            # Spark task, so an item is sized for one task, as a
            # reference executor handles one task's files in turn;
            # parallelism comes from the work slots. The encoder streams
            # block by block, so its memory does not grow with the item.
            record_count = write_avro(df.coalesce(1), path, codec="deflate")
        else:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation(f"write-{task.job.id}-{task.task_number}")
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).format(fmt).save(path)
            record_count = int(obs.get["n"])
        size, checksum = _dir_manifest(path)
        return RemoteProcessedDataFile(
            location=loc, file_size=size, checksum=checksum, record_count=record_count
        )

    def read_records(self, manifest: RemoteProcessedDataFile) -> DataFrame:
        path = manifest.location.uri()
        size, checksum = _dir_manifest(path)
        if checksum != manifest.checksum:
            raise ChecksumMismatch(
                f"records {path}: checksum {checksum} != manifest {manifest.checksum}"
            )
        fmt = path.rsplit(".", 1)[-1]
        if fmt == "avro" and not _avro_available(self.spark):
            from hyppo_worker_spark.sources.avro_container import read_avro

            return read_avro(self.spark, path)
        return self.spark.read.format(fmt).load(path)

    # -- logs ----------------------------------------------------------

    def upload_log(self, job, execution_id: str, content: str) -> RemoteLogFile:
        loc = self.layout.loc(self.layout.log_key(job, execution_id))
        path = loc.uri()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = content.encode()
        with open(path, "wb") as f:
            f.write(data)
        return RemoteLogFile(location=loc, file_size=len(data))


def _dir_manifest(path: str) -> tuple[int, str]:
    """(total size, md5 of sorted per-file md5s) over a written
    dataset directory — a deterministic dataset digest independent of
    partition enumeration order."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(f) and not f.endswith((".crc", "_SUCCESS"))
    )
    total = 0
    digests = []
    for f in files:
        with open(f, "rb") as fh:
            data = fh.read()
        total += len(data)
        digests.append(md5_hex(data))
    return total, md5_hex("".join(sorted(digests)).encode())
