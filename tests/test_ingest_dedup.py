"""Ingestion-time streaming dedup: batches arrive in a deterministic
order (one file per micro-batch, mtime-ordered); the admitted corpus
must keep exactly the first-arrived canonical of every exact/near-dup
cluster, and a replayed batch must be a no-op."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hyppo_worker_spark.streaming.ingest_dedup import (
    DedupIngestSink,
    dedup_ingest,
)


def _text(prefix: str, n: int = 120, changed: int = 0) -> str:
    words = [f"{prefix}{i:03d}" for i in range(n)]
    for j in range(changed):
        words[10 + 7 * j] = f"chg{prefix}{j}"
    return " ".join(words)


@pytest.fixture()
def staged_source(tmp_path):
    """Three single-file micro-batches with increasing mtimes."""
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        # batch 0: two originals
        [("a1", _text("alpha")), ("b1", _text("beta"))],
        # batch 1: near-dup of a1 (reject), exact copy of b1's text
        # under a new id (reject), plus an in-batch near-dup pair
        # c1/c2 (keep c1 only)
        [
            ("a2", _text("alpha", changed=3)),
            ("b9", _text("beta")),
            ("c1", _text("gamma")),
            ("c2", _text("gamma", changed=2)),
        ],
        # batch 2: near-dup of b1 (reject) + a brand-new doc
        [("b2", _text("beta", changed=3)), ("d1", _text("delta"))],
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        table = pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
            }
        )
        path = str(src / f"batch{i}.parquet")
        pq.write_table(table, path)
        os.utime(path, (now - 300 + 100 * i, now - 300 + 100 * i))
    return str(src)


def test_streaming_ingest_admits_first_arrivals_only(
    spark, tmp_path, staged_source
):
    base = str(tmp_path / "store")
    sink = DedupIngestSink(spark, base)
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_source)
    )
    q = dedup_ingest(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(240)

    corpus = spark.read.parquet(os.path.join(base, "corpus"))
    kept = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    assert kept == ["a1", "b1", "c1", "d1"]

    # per-batch admission trace: (in, kept) per batch in arrival order
    trace = [(n_in, n_kept) for _, n_in, n_kept in sorted(sink.admitted_counts)]
    assert trace == [(2, 2), (4, 1), (2, 1)]

    # the index grew only with admitted docs
    sh, band = sink.index.load(spark)
    assert sorted(r.did for r in sh.select("did").distinct().collect()) == [
        "a1", "b1", "c1", "d1",
    ]
    assert band.filter(~F.col("did").isin("a1", "b1", "c1", "d1")).count() == 0


def test_replayed_batch_is_noop(spark, tmp_path, staged_source):
    base = str(tmp_path / "store")
    sink = DedupIngestSink(spark, base)
    b0 = spark.createDataFrame(
        [("x1", _text("xi")), ("x2", _text("xi", changed=2))],
        "doc_id string, text string",
    )
    sink(b0, 0)
    n1 = spark.read.parquet(os.path.join(base, "corpus")).count()
    assert n1 == 1  # in-batch near-dup collapsed
    sink(b0, 0)  # at-least-once replay of the SAME batch id
    n2 = spark.read.parquet(os.path.join(base, "corpus")).count()
    assert n2 == n1

    # a NEW batch id with previously-admitted content is rejected by
    # the corpus checks (not the marker): same text, different ids
    b1 = spark.createDataFrame(
        [("y1", _text("xi")), ("y2", _text("xi", changed=3))],
        "doc_id string, text string",
    )
    sink(b1, 1)
    kept = sorted(
        r.doc_id
        for r in spark.read.parquet(os.path.join(base, "corpus")).collect()
    )
    assert kept == ["x1"]


def test_banded_index_is_partition_pruned(spark, tmp_path):
    """The banded/ frame is directory-partitioned by band_pt and a
    probe's scan is statically pruned to the probe's own partitions;
    pruned and unpruned probes return identical candidate rows."""
    from hyppo_worker_spark.operators.lsh_index import MinHashLshIndex
    from hyppo_worker_spark.plans.explain import formatted_plan

    idx = MinHashLshIndex(str(tmp_path / "idx"))
    corpus = spark.createDataFrame(
        [(f"doc{i}", _text(f"w{i}")) for i in range(30)],
        "doc_id string, text string",
    )
    idx.append(*idx.compute_frames(corpus, "doc_id", "text"))

    # layout: band_pt=N directories, each file sorted by band_key
    banded_dir = os.path.join(str(tmp_path / "idx"), "banded")
    parts = [d for d in os.listdir(banded_dir) if d.startswith("band_pt=")]
    assert len(parts) > 1

    probe = spark.createDataFrame(
        [("probe1", _text("w7", changed=2))], "doc_id string, text string"
    )
    _, band_n = idx.compute_frames(probe, "doc_id", "text")
    pts = sorted(
        r.pt
        for r in band_n.select(idx.band_pt(F.col("band_key")).alias("pt"))
        .distinct()
        .collect()
    )
    pruned = idx.pairs_against(spark, band_n, pts)
    full = idx.pairs_against(spark, band_n)

    # the probe is a near-dup of doc7 and must be found either way
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert pruned.filter(F.col("a_id") == "doc7").count() == 1

    # and the pruned plan's index scan carries a band_pt partition
    # filter (a 6-band single doc cannot cover all 16 buckets)
    plan = formatted_plan(pruned)
    assert "band_pt" in plan and "PartitionFilters" in plan
    import re

    pf = re.findall(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert any("band_pt" in f and f.strip() for f in pf)


def _corpus_rows(spark, sink):
    import hashlib

    return sorted(
        (r.doc_id, hashlib.md5(r.text.encode()).hexdigest())
        for r in spark.read.parquet(sink.corpus_dir).collect()
    )


def _index_rows(spark, index):
    sh, band = index.load(spark)
    return (
        sorted((r.did, sorted(r.sh)) for r in sh.collect()),
        sorted(
            (r.did, r.band_id, r.band_key)
            for r in band.select("did", "band_id", "band_key").collect()
        ),
    )


def test_record_delivered_twice_is_admitted_once(spark, tmp_path):
    """At-least-once sources can deliver the same record twice inside
    one micro-batch: it is one document, admitted once, with one
    shingle row in the index (a doubled row would double every
    intersection count it takes part in)."""
    sink = DedupIngestSink(spark, str(tmp_path / "store"))
    t = _text("xi")
    sink(
        spark.createDataFrame(
            [("x1", t), ("x1", t), ("z1", "too short")],
            "doc_id string, text string",
        ),
        0,
    )
    assert [r[0] for r in _corpus_rows(spark, sink)] == ["x1", "z1"]
    assert sink.admitted_counts == [(0, 3, 2)]
    assert spark.read.parquet(sink.digest_dir).count() == 2
    sh, band = sink.index.load(spark)
    assert sorted(r.did for r in sh.collect()) == ["x1", "z1"]
    assert band.filter(F.col("did") == "x1").count() == sink.index.bands


def test_sink_releases_its_persists(spark, tmp_path):
    """A long-running stream must not accumulate cached frames: every
    persist a sink call makes is released before it returns."""
    from hyppo_worker_spark.session import _DEFAULT_PERSISTS

    sink = DedupIngestSink(spark, str(tmp_path / "store"))
    before = len(_DEFAULT_PERSISTS)
    for i in range(3):
        sink(
            spark.createDataFrame(
                [(f"p{i}", _text(f"pi{i}")), (f"q{i}", _text("pi0", changed=2))],
                "doc_id string, text string",
            ),
            i,
        )
    assert len(_DEFAULT_PERSISTS) == before
    assert [k for _, _, k in sink.admitted_counts] == [1, 1, 1]


def _reference_admission(spark, batches, threshold=0.8):
    """Admission composed from the distributed batch operators: exact
    min-id per digest, minhash_lsh_pairs + connected_components inside
    the batch, then the digest log and minhash_pairs_against_banded
    against everything admitted before. Returns the corpus
    (doc_id, md5) rows and the index (shingles, banded) rows."""
    import hashlib

    from hyppo_worker_spark.operators.dedup import (
        _minhash_banded,
        connected_components,
        exact_dedup,
        minhash_lsh_pairs,
        minhash_pairs_against_banded,
    )
    from hyppo_worker_spark.session import persist_scope

    corpus, sh_rows, band_rows = [], [], []
    for rows in batches:
        with persist_scope():
            df = spark.createDataFrame(rows, "doc_id string, text string")
            uniq = exact_dedup(df, "doc_id", "text")
            comp = connected_components(minhash_lsh_pairs(uniq, "doc_id", "text"))
            drop = comp.filter(F.col("node") != F.col("comp")).select(
                F.col("node").alias("doc_id")
            )
            surv = uniq.join(drop, "doc_id", "left_anti")
            if corpus:
                surv = surv.filter(~F.md5("text").isin([h for _, h in corpus]))
                sh_n, band_n = _minhash_banded(
                    surv, "doc_id", "text", num_hashes=12, bands=6, shingle_n=3
                )
                matched = minhash_pairs_against_banded(
                    spark.createDataFrame(sh_rows, "did string, sh array<string>"),
                    spark.createDataFrame(
                        band_rows, "did string, band_id int, band_key string"
                    ),
                    sh_n,
                    band_n,
                    threshold=threshold,
                )
                surv = surv.join(
                    matched.select(F.col("b_id").alias("doc_id")), "doc_id", "left_anti"
                )
            kept = surv.collect()
            sh, band = _minhash_banded(
                spark.createDataFrame(kept, "doc_id string, text string"),
                "doc_id", "text", num_hashes=12, bands=6, shingle_n=3,
            )
            corpus += [
                (r.doc_id, hashlib.md5(r.text.encode()).hexdigest()) for r in kept
            ]
            sh_rows += [(r.did, list(r.sh)) for r in sh.collect()]
            band_rows += [tuple(r) for r in band.collect()]
    return (
        sorted(corpus),
        sorted((d, sorted(s)) for d, s in sh_rows),
        sorted(band_rows),
    )


def test_sink_matches_distributed_operators(spark, tmp_path):
    """The sink's driver-side admission equals the distributed batch
    operators composed batch by batch: corpus ids and index rows."""
    alpha = _text("alpha")
    batches = [
        # only docs shorter than shingle_n: no banding rows at all
        [("s0", "a b"), ("s1", "too short")],
        # an in-batch chain k1~k2~k3 with k1 not similar to k3: one
        # cluster, k1 kept
        [
            ("a1", alpha),
            ("k1", _text("kappa")),
            ("k2", _text("kappa", changed=3)),
            ("k3", _text("kappa", changed=6)),
        ],
        # exact copies of earlier docs (long and short), a near copy,
        # a new short doc and a new long one
        [
            ("e1", alpha),
            ("n1", _text("alpha", changed=2)),
            ("s2", "too short"),
            ("s3", "tiny"),
            ("m1", _text("mu")),
        ],
        # an indexed id re-sent with edited text: y1 is near the OLD
        # a1 only, and is verified against a1 as re-sent
        [
            ("a1", _text("omega")),
            ("y1", _text("alpha", changed=3)),
            ("k4", _text("kappa", changed=6)),
        ],
    ]
    sink = DedupIngestSink(spark, str(tmp_path / "store"))
    for i, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, "doc_id string, text string"), i)

    corpus, sh_rows, band_rows = _reference_admission(spark, batches)
    assert [d for d, _ in corpus] == [
        "a1", "a1", "k1", "k4", "m1", "s0", "s1", "s3", "y1",
    ]
    assert _corpus_rows(spark, sink) == corpus
    assert _index_rows(spark, sink.index) == (sh_rows, band_rows)
