"""Persisted MinHash-LSH index for ingestion-time deduplication.

The batch operators (``operators/dedup.py``) re-hash the corpus on
every run; an ingestion pipeline cannot — at 100 TB the corpus text
must be hashed ONCE, when each document is admitted. This index stores
the two frames the candidate+verify join actually needs:

- ``banded/``  : (did, band_id, band_key) — narrow banding rows;
- ``shingles/``: (did, sh array<string>)  — shingle sets for exact
  Jaccard verification of candidates.

Both are parquet directories written in append mode: admitting a batch
appends its rows; nothing existing is rewritten (object-store
friendly — no read-modify-write). Checking a new batch then joins the
batch's (broadcast) banding rows against ``banded/`` and pulls shingle
arrays only for candidate ids — the corpus text is never re-read; the
caller verifies the candidates.

``banded/`` is directory-partitioned by ``band_pt`` (an md5 bucket of
the band key) and sorted by ``band_key`` within each file:

- a probe batch only ever joins rows whose band_pt values it itself
  hashes into, so ``pairs_against`` statically prunes the scan to
  those partitions. The values come with the probe rows: the
  streaming sink pulls each batch doc's band_pt together with its
  hashes (at most ``n_pt`` small integers, never corpus data), so
  pruning costs no extra job. A single-doc lookup reads ~bands/n_pt
  of the index files; a large batch covers every bucket and degrades
  gracefully to a full scan;
- the in-file sort gives parquet row-group min/max stats on
  band_key, so even inside a surviving partition, row groups whose
  key range misses the probe keys are skipped by pushdown.

The append contract is unchanged: each admission writes only its own
rows into the partition dirs it touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hyppo_worker_spark.functions import text as TX
from hyppo_worker_spark.operators.dedup import _minhash_banded


class MinHashLshIndex:
    """Filesystem-backed LSH index with append-only admission."""

    def __init__(
        self,
        path: str,
        *,
        num_hashes: int = 12,
        bands: int = 6,
        shingle_n: int = 3,
        n_pt: int = 16,
    ) -> None:
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.n_pt = n_pt
        self._banded_dir = os.path.join(path, "banded")
        self._shingles_dir = os.path.join(path, "shingles")

    def band_pt(self, band_key):
        """The ``banded/`` partition of a band key column."""
        return TX.md5_bucket(band_key, self.n_pt)

    def exists(self) -> bool:
        """Whether any banding rows were admitted (an admission of
        only sub-``shingle_n`` docs writes none)."""
        return os.path.isdir(self._banded_dir) and any(
            d.startswith("band_pt=") for d in os.listdir(self._banded_dir)
        )

    def compute_frames(
        self, docs: DataFrame, id_col: str, text_col: str
    ) -> tuple[DataFrame, DataFrame]:
        """Hash a document frame into (shingles, banded) — one pass
        over the text, exactly the batch operators' signature stage."""
        return _minhash_banded(
            docs,
            id_col,
            text_col,
            num_hashes=self.num_hashes,
            bands=self.bands,
            shingle_n=self.shingle_n,
        )

    def append(self, shingles: DataFrame, banded: DataFrame) -> None:
        """Admit documents: append their frames (no rewrite). Banding
        rows land in their band_pt partition dir, sorted by band_key
        within each file (row-group min/max stats for probe pushdown);
        repartition first so each touched partition gets ONE file per
        admission, not one per upstream task."""
        (
            banded.withColumn("band_pt", self.band_pt(F.col("band_key")))
            .repartition("band_pt")
            .sortWithinPartitions("band_key")
            .write.mode("append")
            .partitionBy("band_pt")
            .parquet(self._banded_dir)
        )
        shingles.write.mode("append").parquet(self._shingles_dir)

    def load(
        self, spark: SparkSession, id_type: T.DataType | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """(shingles, banded) frames. Given the ``did`` type, both reads
        take an explicit schema instead of running parquet's
        footer-reading schema-inference job."""
        if id_type is None:
            return (
                spark.read.parquet(self._shingles_dir),
                spark.read.parquet(self._banded_dir),
            )
        did = T.StructField("did", id_type)
        return (
            spark.read.schema(
                T.StructType([did, T.StructField("sh", T.ArrayType(T.StringType()))])
            ).parquet(self._shingles_dir),
            spark.read.schema(
                T.StructType(
                    [
                        did,
                        T.StructField("band_id", T.IntegerType()),
                        T.StructField("band_key", T.StringType()),
                        T.StructField("band_pt", T.IntegerType()),
                    ]
                )
            ).parquet(self._banded_dir),
        )

    def pairs_against(
        self,
        spark: SparkSession,
        probe: DataFrame,
        band_pts: list[int] | None = None,
    ) -> DataFrame:
        """Candidate rows (a_id, b_id, sh) of a probe against everything
        admitted so far: every indexed doc ``a_id`` that shares a band
        bucket with probe doc ``b_id`` (``a_id != b_id``), with
        ``a_id``'s indexed shingle set for the caller's exact-Jaccard
        verify — one row per indexed shingle row of ``a_id``.

        ``probe`` holds (did, band_id, band_key) banding rows and is
        broadcast: one batch's rows. ``band_pts`` are the band_pt
        values of the probe's band keys; given them, the index scan is
        statically filtered to those partitions and the filter reaches
        the scan as a partition filter, so non-matching index files
        are never opened (None scans every partition)."""
        docs_c, band_c = self.load(spark, probe.schema["did"].dataType)
        if band_pts is not None and len(band_pts) < self.n_pt:
            band_c = band_c.filter(F.col("band_pt").isin(band_pts))
        cand = (
            band_c.alias("l")
            .join(
                F.broadcast(probe).alias("r"),
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.band_key") == F.col("r.band_key"))
                & (F.col("l.did") != F.col("r.did")),
            )
            .select(F.col("l.did").alias("a_id"), F.col("r.did").alias("b_id"))
            .distinct()
        )
        return docs_c.join(
            F.broadcast(cand), F.col("did") == F.col("a_id")
        ).select("a_id", "b_id", "sh")
