"""Ingestion-time streaming deduplication: admit each micro-batch of
documents only if it survives exact AND near-duplicate checks against
everything admitted before — the "dedup a batch BEFORE appending it"
contract, run continuously.

Per micro-batch (foreachBatch), the batch is hashed once and pulled
once:

1. hash the batch in Spark (the index's Catalyst MinHash,
   ``MinHashLshIndex.compute_frames``) and pull every row's (id,
   content digest, shingle set, banding rows with their band_pt) to
   the driver in ONE collect;
2. dedup WITHIN the batch on the driver: one row per content digest
   (min id), then LSH band-bucket candidates verified by exact Jaccard
   (the batch operators' unrounded ``icnt/(na+nb-icnt) >= threshold``
   rule) and ``local_connected_components`` → keep each cluster's
   minimum id;
3. exact dup AGAINST the corpus: one broadcast semi-join of the
   survivors' digests against the admitted digest log;
4. near-dup AGAINST the persisted LSH index
   (``operators/lsh_index.py``): one probe — ``banded/`` pruned to the
   pulled band_pt values, joined to the broadcast probe rows, then to
   ``shingles/`` for the candidates' shingle sets — verified on the
   driver with the same Jaccard rule; the admitted corpus text is
   never re-read or re-hashed, and an id both indexed and re-sent is
   verified with its incoming shingles;
5. append the survivors' batch rows to the corpus, and their digests
   and index frames (built from the pulled rows), one file per zone
   (one per touched band_pt partition for ``banded/``).

Everything the batch persists is released when the call returns
(``persist_scope``).

Batch replays (at-least-once delivery after a crash) are absorbed by
the marker guard from ``IdempotentBatchSink`` — admission is
ack-early, never re-run, so a replayed batch cannot reject ITSELF
against the index entries it already wrote.

Scale: hashing and the index scan stay in Spark; the driver holds one
batch's shingle sets (plus the shingle sets of its index candidates),
so the source's per-trigger option (e.g. ``maxFilesPerTrigger``) is
what bounds the driver's share. Per-batch cost is a fixed handful of
Spark jobs plus work proportional to the batch (broadcast probe rows,
candidate-only shingle pulls); the per-batch index append is a pure
parquet append (no read-modify-write). The index grows with admitted
docs only — rejected near-dups never enter it.
"""

from __future__ import annotations

import os
from collections import defaultdict
from itertools import combinations
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hyppo_worker_spark.operators.dedup import local_connected_components
from hyppo_worker_spark.operators.lsh_index import MinHashLshIndex
from hyppo_worker_spark.session import local_frame, persist_scope


class _Doc(NamedTuple):
    """One pulled batch doc: content digest, shingles (as hashed, and
    as a set for verification), banding rows (band_id, band_key,
    band_pt)."""

    h: str
    sh: list
    shset: frozenset
    bands: list


def _similar(a: frozenset, b: frozenset, threshold: float) -> bool:
    """Exact Jaccard on the unrounded ratio — ``_verify_pairs``'
    rule; both sides are integers, so the division is bit-identical."""
    icnt = len(a & b)
    return icnt / (len(a) + len(b) - icnt) >= threshold


class DedupIngestSink:
    """foreachBatch callable: incremental exact + near-dup admission."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.8,
        num_hashes: int = 12,
        bands: int = 6,
        shingle_n: int = 3,
    ) -> None:
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.index = MinHashLshIndex(
            os.path.join(base_dir, "index"),
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
        )
        self.corpus_dir = os.path.join(base_dir, "corpus")
        self.digest_dir = os.path.join(base_dir, "digests")
        self.marker_dir = os.path.join(base_dir, "markers")
        os.makedirs(self.marker_dir, exist_ok=True)
        self.admitted_counts: list[tuple[int, int, int]] = []  # (batch, in, kept)

    # -- admission ----------------------------------------------------------

    def _pull(self, batch: DataFrame) -> tuple[int, dict]:
        """Hash the batch once and collect it: (row count, {id: _Doc})
        with one doc per content digest (its minimum id) and, for an id
        delivered with several texts, its smallest digest."""
        idc, txt = self.id_col, self.text_col
        keyed = batch.select(
            F.struct(F.col(idc).alias("id"), F.md5(F.col(txt)).alias("h")).alias(
                "k"
            ),
            F.col(txt),
        )
        sh, band = self.index.compute_frames(keyed, "k", txt)
        rows = sh.unionByName(
            band.withColumn("band_pt", self.index.band_pt(F.col("band_key"))),
            allowMissingColumns=True,
        ).collect()

        n_in = 0
        shingles: dict[tuple, list] = {}
        bands: dict[tuple, list] = defaultdict(list)
        for r in rows:
            key = (r.did.id, r.did.h)
            if r.band_id is None:
                n_in += 1
                shingles[key] = r.sh
            else:
                bands[key].append((r.band_id, r.band_key, r.band_pt))
        first: dict = {}  # digest -> min id
        for did, h in shingles:
            if h not in first or did < first[h]:
                first[h] = did
        docs: dict = {}
        for h, did in first.items():
            if did not in docs or (h or "") < (docs[did].h or ""):
                sh_list = shingles[did, h]
                docs[did] = _Doc(h, sh_list, frozenset(sh_list), bands[did, h])
        return n_in, docs

    def _near_dups_within(self, docs: dict) -> set:
        """Ids that LSH + exact Jaccard + connected components drop
        inside the batch (every cluster keeps its minimum id)."""
        buckets: dict[tuple, list] = defaultdict(list)
        for did, doc in docs.items():
            for band_id, band_key, _ in doc.bands:
                buckets[band_id, band_key].append(did)
        cand = {
            pair
            for ids in buckets.values()
            for pair in combinations(sorted(ids), 2)
        }
        edges = [
            (a, b)
            for a, b in cand
            if _similar(docs[a].shset, docs[b].shset, self.threshold)
        ]
        return {n for n, c in local_connected_components(edges) if n != c}

    def _dups_against_corpus(self, docs: dict, id_type: T.DataType) -> set:
        """Ids whose digest is already admitted or that near-duplicate
        an indexed doc."""
        spark = self.spark
        if not os.path.isdir(self.digest_dir):
            return set()
        probe_h = local_frame(spark, [(d.h,) for d in docs.values()], "h string")
        seen = {
            r.h
            for r in spark.read.schema("h string")
            .parquet(self.digest_dir)
            .join(F.broadcast(probe_h), "h", "left_semi")
            .collect()
        }
        left = {did: d for did, d in docs.items() if d.h not in seen}
        dups = docs.keys() - left.keys()
        probe = [
            (did, band_id, band_key)
            for did, d in left.items()
            for band_id, band_key, _ in d.bands
        ]
        if not probe or not self.index.exists():
            return dups
        pts = sorted({pt for d in left.values() for *_, pt in d.bands})
        schema = T.StructType(
            [
                T.StructField("did", id_type),
                T.StructField("band_id", T.IntegerType()),
                T.StructField("band_key", T.StringType()),
            ]
        )
        cand = self.index.pairs_against(
            spark, local_frame(spark, probe, schema), pts
        ).collect()
        for a_id, b_id, sh in cand:
            # an id both indexed and re-sent is verified as it arrives
            a = left[a_id].shset if a_id in left else frozenset(sh)
            if _similar(a, left[b_id].shset, self.threshold):
                dups.add(b_id)
        return dups

    def _append(self, batch: DataFrame, kept: dict, id_type: T.DataType) -> None:
        """Corpus rows from the batch; digests and index frames from
        the pulled rows — one file per zone."""
        spark, idc, txt = self.spark, self.id_col, self.text_col
        keys = local_frame(
            spark,
            [(did, d.h) for did, d in kept.items()],
            T.StructType(
                [T.StructField("_kid", id_type), T.StructField("_kh", T.StringType())]
            ),
        )
        # one partition, so dropping a row delivered twice needs no
        # shuffle
        (
            batch.join(
                F.broadcast(keys),
                (F.col(idc) == F.col("_kid"))
                & F.md5(F.col(txt)).eqNullSafe(F.col("_kh")),
                "left_semi",
            )
            .coalesce(1)
            .dropDuplicates([idc])
            .write.mode("append")
            .parquet(self.corpus_dir)
        )
        local_frame(spark, [(d.h,) for d in kept.values()], "h string").coalesce(
            1
        ).write.mode("append").parquet(self.digest_dir)
        shingles = local_frame(
            spark,
            [(did, d.sh) for did, d in kept.items()],
            T.StructType(
                [
                    T.StructField("did", id_type),
                    T.StructField("sh", T.ArrayType(T.StringType(), False)),
                ]
            ),
        ).coalesce(1)
        banded = local_frame(
            spark,
            [
                (did, band_id, band_key)
                for did, d in kept.items()
                for band_id, band_key, _ in d.bands
            ],
            T.StructType(
                [
                    T.StructField("did", id_type),
                    T.StructField("band_id", T.IntegerType(), False),
                    T.StructField("band_key", T.StringType(), False),
                ]
            ),
        )
        self.index.append(shingles, banded)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(self.marker_dir, f"batch-{batch_id}.started")
        if os.path.exists(marker):
            return
        with open(marker, "w") as f:
            f.write("started")

        with persist_scope():
            n_in, docs = self._pull(batch_df)
            if n_in == 0:
                return
            id_type = batch_df.schema[self.id_col].dataType
            for did in self._near_dups_within(docs):
                del docs[did]
            for did in self._dups_against_corpus(docs, id_type):
                del docs[did]
            kept = dict(sorted(docs.items()))
            if kept:
                self._append(batch_df, kept, id_type)
        self.admitted_counts.append((batch_id, n_in, len(kept)))


def dedup_ingest(
    docs: DataFrame,
    sink: DedupIngestSink,
    checkpoint_dir: str,
):
    """Wire a streaming document source into the admission sink.

    Hashing and the index probe run in Spark, but the sink holds each
    micro-batch's shingle sets on the driver: bound the batch with the
    source's per-trigger option (e.g. ``maxFilesPerTrigger``) —
    ``availableNow`` honours it, splitting a backlog into bounded
    batches."""
    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
