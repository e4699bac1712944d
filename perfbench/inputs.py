"""Seeded benchmark inputs, made by benchmark-owned code only.

No engine function takes part in making an input, so no engine change
can alter what the benchmark feeds it or the counts it expects back.

* ``sequences``: the FIXTURES.md §1 table shape (``doc_id``, ``tokens``,
  ``n_tok``, ``source``), written as hive-partitioned parquet
  ``source=*/bucket=*``.  Violations are planted by row index, so every
  count the validation suite should report is known by construction.
* ``documents``: a near-duplicate corpus.  Base documents are drawn
  from a large vocabulary, then a share of them get a copy whose words
  are each replaced with a per-copy probability, so the planted pairs
  span a range of exact Jaccard scores rather than only J = 1 clones.

Each input lives in ``<cache>/<kind>-n<size>-s<seed>/`` with a
``meta.json`` holding the expected counts and a SHA-256 of every data
file.  A cached input whose checksum no longer matches is rebuilt.
Only the newest few inputs per kind are kept.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

VOCAB_SIZE = 50257
MAX_LEN = 8192
N_BUCKETS = 8
SOURCE_WEIGHTS = {"web": 0.70, "books": 0.15, "code": 0.10,
                  "wiki": 0.04, "BADSRC": 0.01}
ALLOWED_SOURCES = ["web", "books", "code", "wiki"]

#: corpus shape: words per document (like the sf* documents table) and
#: the per-word replacement probability range of the planted copies
DOC_WORDS = (10, 100)
DOC_VOCAB = 4096
COPY_SHARE = 0.5
PERTURB_MAX = 0.12
SHINGLE_K = 3

KEEP_PER_KIND = 3


# -- cache -----------------------------------------------------------------

def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                for block in iter(lambda: fh.read(1 << 22), b""):
                    h.update(block)
    return h.hexdigest()


def _cached(cache_dir: str, kind: str, size: int, seed: int, build) -> dict:
    """Return the meta of input ``kind`` at ``size``/``seed``, building
    it with ``build(data_dir, size, seed) -> expected`` when it is
    missing or its checksum does not match."""
    root = os.path.join(cache_dir, f"{kind}-n{size}-s{seed}")
    data = os.path.join(root, "data")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("sha256") == _digest(data):
            os.utime(root)
            meta["data"] = data
            meta["generated"] = False
            return meta
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    expected = build(data, size, seed)
    meta = {"kind": kind, "size": size, "seed": seed,
            "expected": expected, "sha256": _digest(data)}
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    _evict(cache_dir, kind, keep=root)
    meta["data"] = data
    meta["generated"] = True
    return meta


def _evict(cache_dir: str, kind: str, keep: str) -> None:
    dirs = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
            if d.startswith(kind + "-")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_PER_KIND:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


# -- sequences -------------------------------------------------------------

def sequences_expected(n_rows: int, sources: np.ndarray,
                       buckets: np.ndarray) -> dict:
    """Counts the north-star suite must report, from the index rules."""
    i = np.arange(n_rows)
    null = i % 211 == 0
    length = (i % 173 == 0) & ~null
    vocab = (i % 131 == 0) & ~null
    n_dup = int(((i % 97 == 0) & (i > 0)).sum())
    bad = sources == "BADSRC"
    per_constraint = {
        "len_consistency": int(length.sum()),
        "vocab_bounds": int(vocab.sum()),
        "tokens_not_null": int(null.sum()),
        # a duplicated doc_id fails on both of its rows
        "unique_doc_id": 2 * n_dup,
        "source_allowed": int(bad.sum()),
    }
    # the sink writes one row per row failing any row-level check, plus
    # one row per set-level (unique, referential) violation
    row_level_rows = int((null | length | vocab).sum())
    parts = set(zip(sources.tolist(), buckets.tolist()))
    return {
        "n_rows": n_rows,
        "per_constraint": per_constraint,
        "n_violations": sum(per_constraint.values()),
        "n_violation_rows": (row_level_rows + per_constraint["unique_doc_id"]
                             + per_constraint["source_allowed"]),
        "n_partitions": len(parts),
    }


def _build_sequences(data: str, n_rows: int, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    i = np.arange(n_rows, dtype=np.int64)
    lens = np.clip(np.exp(5.5 + 0.6 * rng.standard_normal(n_rows)),
                   1, MAX_LEN).astype(np.int64)
    names = np.array(list(SOURCE_WEIGHTS), dtype=object)
    cuts = np.cumsum(list(SOURCE_WEIGHTS.values()))
    pick = np.minimum(np.searchsorted(cuts, rng.random(n_rows), "right"),
                      len(names) - 1)
    sources = names[pick]

    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    values = rng.integers(0, VOCAB_SIZE, int(offsets[-1]), dtype=np.int32)
    oov = i % 131 == 0
    values[offsets[:-1][oov]] = (VOCAB_SIZE + i[oov] % 7).astype(np.int32)
    null = i % 211 == 0
    n_tok = lens.astype(np.int32)
    n_tok[i % 173 == 0] += 1

    doc_num = i.copy()
    dup = (i % 97 == 0) & (i > 0)
    doc_num[dup] -= 1
    doc_id = np.char.add("doc-", np.char.zfill(doc_num.astype("U10"), 8))
    # bucket follows doc_id, so both rows of a duplicate share a bucket
    buckets = (_mix64(doc_num.astype(np.uint64) ^ np.uint64(seed))
               % np.uint64(N_BUCKETS)).astype(np.int32)

    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values),
        type=pa.list_(pa.field("element", pa.int32(), nullable=False)),
        mask=pa.array(null))
    table = pa.table({"doc_id": pa.array(doc_id.astype(object)),
                      "tokens": tokens,
                      "n_tok": pa.array(n_tok),
                      "source": pa.array(sources.astype(object)),
                      "bucket": pa.array(buckets)})
    ds.write_dataset(
        table, data, format="parquet",
        partitioning=ds.partitioning(
            pa.schema([("source", pa.string()), ("bucket", pa.int32())]),
            flavor="hive"))
    return sequences_expected(n_rows, sources.astype(str), buckets)


def sequences(cache_dir: str, n_rows: int, seed: int) -> dict:
    return _cached(cache_dir, "sequences", n_rows, seed, _build_sequences)


# -- documents -------------------------------------------------------------

def shingles(text: str, k: int = SHINGLE_K) -> frozenset:
    """Word k-gram set with the engine's documented semantics:
    whitespace split, no case folding, one shingle for short docs."""
    w = text.split()
    if len(w) < k:
        return frozenset([tuple(w)]) if w else frozenset()
    return frozenset(tuple(w[j:j + k]) for j in range(len(w) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def _build_documents(data: str, n_docs: int, seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    n_copy = int(n_docs * COPY_SHARE / (1 + COPY_SHARE))
    n_base = n_docs - n_copy
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(letters[rng.integers(0, 26, 3 + k % 6)])
                      + str(k) for k in range(DOC_VOCAB)], dtype=object)
    # mildly skewed word frequencies
    weights = 1.0 / (np.arange(DOC_VOCAB) + 50.0)
    weights /= weights.sum()

    def words(n: int) -> np.ndarray:
        return rng.choice(DOC_VOCAB, size=n, p=weights)

    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_base)
    base = [words(n) for n in lens]
    src = rng.choice(n_base, size=n_copy, replace=False)
    rates = rng.uniform(0.0, PERTURB_MAX, n_copy)
    copies = []
    for b, p in zip(src, rates):
        w = base[b].copy()
        hit = rng.random(len(w)) < p
        w[hit] = words(int(hit.sum()))
        copies.append(w)
    texts = [" ".join(vocab[w]) for w in base + copies]
    ids = np.arange(n_docs, dtype=np.int64)
    os.makedirs(data)
    pq.write_table(pa.table({"doc_id": pa.array(ids),
                             "text": pa.array(texts)}),
                   os.path.join(data, "documents.parquet"))
    planted = [[int(b), n_base + j,
                jaccard(shingles(texts[b]), shingles(texts[n_base + j]))]
               for j, b in enumerate(src)]
    return {"n_rows": n_docs, "n_base": n_base, "planted": planted}


def documents(cache_dir: str, n_docs: int, seed: int) -> dict:
    return _cached(cache_dir, "documents", n_docs, seed, _build_documents)


def load_texts(meta: dict) -> list[str]:
    t = pq.read_table(os.path.join(meta["data"], "documents.parquet"))
    ids = t.column("doc_id").to_numpy()
    texts = t.column("text").to_pylist()
    out = [""] * len(texts)
    for i, s in zip(ids, texts):
        out[int(i)] = s
    return out
