"""Seeded input generators for the benchmark workloads.

Every input is derived from ``data/documents.parquet`` (the 5,000-doc sf0.1
documents table: ``doc_id, text, lang, source, n_chars``) and the run's
seed, with numpy and pyarrow only, so the engine under test never sees how
an input was made.  Each generated table is written once per (seed, size)
under the benchmark cache and reused; a table is published by renaming a
finished temporary directory, so an interrupted write is never reused.

Planted structure is encoded in ``doc_id`` (and therefore in the url that
``pages_from_documents`` derives from it), which is what the output checks
read back:

* replicated: ``doc_id = base_id * REPLICA_SPAN + replica``;
* incremental batch: new replicas use replica number ``BATCH_REPLICA``;
  the vocabulary-remapped fresh half lives at ``FRESH_BASE + base_id`` with
  source ``fresh<k>``.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")

REPLICA_SPAN = 1000
BATCH_REPLICA = REPLICA_SPAN - 1
FRESH_BASE = 10_000_000


def base_documents(n_docs: int) -> pa.Table:
    table = pq.read_table(BASE_DOCUMENTS)
    if n_docs > table.num_rows:
        raise ValueError(f"only {table.num_rows} base documents, asked for {n_docs}")
    return table.slice(0, n_docs)


def _token(seed: int, doc: int, replica: int) -> str:
    digest = hashlib.blake2b(f"{seed}:{doc}:{replica}".encode(), digest_size=5)
    return "rp" + digest.hexdigest()


def _remap(text: str, seed: int) -> str:
    """Replace every word by an md5-derived word: the document keeps its
    length and its near-duplicate structure inside the remapped set, but
    shares no shingle, SimHash feature or substring with the index."""
    return " ".join(
        hashlib.md5(f"{w}|{seed}".encode()).hexdigest()[:8] for w in text.split()
    )


def _documents(ids, texts, langs, sources) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _permuted(table: pa.Table, seed: int) -> pa.Table:
    order = np.random.default_rng(seed).permutation(table.num_rows)
    return table.take(pa.array(order))


def _replicas(base: pa.Table, replicas: int, seed: int) -> pa.Table:
    if not 1 <= replicas < BATCH_REPLICA:
        raise ValueError(f"replicas must be in [1, {BATCH_REPLICA}), got {replicas}")
    ids, texts, langs, sources = [], [], [], []
    for doc, text, lang, source in zip(
        base["doc_id"].to_pylist(), base["text"].to_pylist(),
        base["lang"].to_pylist(), base["source"].to_pylist(),
    ):
        for r in range(replicas):
            ids.append(doc * REPLICA_SPAN + r)
            texts.append(f"{text} {_token(seed, doc, r)}")
            langs.append(lang)
            sources.append(source)
    return _permuted(_documents(ids, texts, langs, sources), seed)


def permuted_documents(n_docs: int, seed: int) -> pa.Table:
    """sf0.1-pages: the base table with its rows permuted by the seed."""
    return _permuted(base_documents(n_docs), seed)


def replicated_documents(n_docs: int, replicas: int, seed: int) -> pa.Table:
    """Every base doc ``replicas`` times, each copy with one seeded token
    appended, so the copies of a doc form one planted near-dup cluster."""
    return _replicas(base_documents(n_docs), replicas, seed)


def incremental_batch(n_docs: int, batch: int, seed: int) -> pa.Table:
    """Half new replicas of indexed docs (should attach), half docs with a
    seeded vocabulary remap (should form new clusters).  SimHash is a bag of
    words, so reordering words would not do: the remap changes the words."""
    base = base_documents(n_docs)
    half = batch // 2
    if batch != 2 * half or half > n_docs:
        raise ValueError(f"batch must be even and at most {2 * n_docs}, got {batch}")
    rng = np.random.default_rng(seed)
    rows = base.to_pylist()
    ids, texts, langs, sources = [], [], [], []
    for i in rng.choice(n_docs, size=half, replace=False):
        d = rows[i]
        ids.append(d["doc_id"] * REPLICA_SPAN + BATCH_REPLICA)
        texts.append(f"{d['text']} {_token(seed, d['doc_id'], BATCH_REPLICA)}")
        langs.append(d["lang"])
        sources.append(d["source"])
    for i in rng.choice(n_docs, size=half, replace=False):
        d = rows[i]
        ids.append(FRESH_BASE + d["doc_id"])
        texts.append(_remap(d["text"], seed))
        langs.append(d["lang"])
        sources.append("fresh" + d["source"].removeprefix("src"))
    return _permuted(_documents(ids, texts, langs, sources), seed)


def cached(cache_dir: str, key: str, make) -> str:
    """Directory holding ``documents.parquet`` for ``key``; ``make()``
    builds the table on the first call only."""
    out = os.path.join(cache_dir, "inputs", key)
    if os.path.exists(os.path.join(out, "documents.parquet")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(make(), os.path.join(tmp, "documents.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
