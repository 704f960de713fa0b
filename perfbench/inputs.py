"""Seeded input generation. The same seed gives byte-identical inputs;
the engine only ever sees the files and payloads made here."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("de", "en", "es", "fr", "it")
RETURN_FLAGS = ("A", "N", "R")


def lineitem(seed: int, n_rows: int, path: str) -> str:
    """A lineitem-shaped parquet file (the columns the bulk connector
    reads), written once per run."""
    rng = np.random.default_rng([seed, 1])
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_rows), 2)
    table = pa.table(
        {
            "l_orderkey": np.sort(rng.integers(1, n_rows * 4, n_rows)).astype(np.int64),
            "l_partkey": rng.integers(1, 20_000, n_rows).astype(np.int64),
            "l_returnflag": pa.array(
                np.array(RETURN_FLAGS)[rng.choice(3, n_rows, p=[0.25, 0.5, 0.25])]
            ),
            "l_quantity": qty,
            "l_extendedprice": price,
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _vocabulary(rng: np.random.Generator, n_words: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n_words)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def documents(seed: int, n_docs: int, id_base: int = 0) -> list[dict]:
    """Documents with a language tag and 40-120 words of text drawn
    from a seeded vocabulary; ``n_chars`` is the text length."""
    rng = np.random.default_rng([seed, 2, id_base])
    vocab = _vocabulary(rng, 4000)
    out = []
    for i in range(n_docs):
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(40, 121)))]
        text = " ".join(words)
        out.append(
            {
                "doc_id": id_base + i,
                "lang": LANGS[int(rng.integers(0, len(LANGS)))],
                "n_chars": len(text),
                "text": text,
            }
        )
    return out


def shuffled(seed: int, docs: list[dict]) -> list[dict]:
    order = np.random.default_rng([seed, 3]).permutation(len(docs))
    return [docs[i] for i in order]


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """Replace ~3% of the words: Jaccard similarity of word 3-shingles
    stays well above the admission threshold."""
    words = text.split(" ")
    for j in rng.choice(len(words), max(1, len(words) // 33), replace=False):
        words[j] = words[j][::-1] + "x"
    return " ".join(words)


def stream_batches(
    seed: int, n_batches: int, batch_size: int, dup_share: float = 0.1
) -> list[list[dict]]:
    """A backlog of document batches. About ``dup_share`` of each batch
    copies an earlier document, of an earlier batch or of the same
    one: one in three copies is exact, the rest are near-duplicates."""
    rng = np.random.default_rng([seed, 4])
    fresh = documents(seed, n_batches * batch_size, id_base=1_000_000)
    batches: list[list[dict]] = []
    seen: list[dict] = []
    next_fresh = 0
    for b in range(n_batches):
        n_dup = int(round(batch_size * dup_share))
        rows = fresh[next_fresh : next_fresh + batch_size - n_dup]
        next_fresh += len(rows)
        batch = [{"doc_id": f"d{r['doc_id']}", "text": r["text"]} for r in rows]
        pool = seen + batch
        for k in range(n_dup):
            src = pool[int(rng.integers(0, len(pool)))]
            text = src["text"] if k % 3 == 0 else _near_copy(rng, src["text"])
            batch.append({"doc_id": f"b{b}-dup{k}", "text": text})
        order = rng.permutation(len(batch))
        batch = [batch[i] for i in order]
        seen.extend(batch)
        batches.append(batch)
    return batches


def write_batch(batch: list[dict], path: str) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(
        pa.table(
            {"doc_id": [r["doc_id"] for r in batch], "text": [r["text"] for r in batch]}
        ),
        tmp,
    )
    os.replace(tmp, path)
