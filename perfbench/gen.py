"""Seeded input generators for the three workloads.

Every input is a pure function of the seed: the same seed writes the same
bytes. The engine only ever sees the files written here.

Vector inputs follow the reference demo: float32 drawn uniform[0, 1), dim
128, a 10-valued `category` metadata field for filtered search.

The `documents` table follows the shape of the sf0.1 fixture (about 300
characters per doc, words drawn from the fixture's 30-word vocabulary,
five languages, 20 sources). On top of the random text the generator
plants the structures the export chain removes, so that every filtering
stage of `pretraining_export_e2e` drops some rows but not all of them:

- shared 12-token spans (the span cut removes them);
- exact duplicates after the span cut (exact dedup drops one of each pair);
- near duplicates, every 8th token changed (MinHash-LSH near dedup);
- 4-token chunks copied from eval docs, `doc_id % 97 == 0` (n-gram decontam);
- eval docs' words shuffled and repeated (embedding decontam).

Eval docs are kept short so that chance 3-gram overlap with them does not
remove most of the corpus.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128
N_CATEGORIES = 10
EVAL_MOD = 97

# the sf0.1 fixture's word counts (9k each, near uniform)
VOCAB_COUNTS = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144,
    "column": 9127, "vector": 9119, "stream": 9117, "value": 9112,
    "data": 9104, "small": 9100, "join": 9080, "filter": 9063, "big": 9057,
    "group": 9040, "hash": 9024, "customer": 9017, "sort": 9005,
    "order": 8971, "slow": 8960, "line": 8951, "part": 8929, "fast": 8926,
    "row": 8925, "the": 8925, "agg": 8912, "key": 8893, "query": 8881,
    "a": 8877, "scan": 8863, "batch": 8829,
}
VOCAB = np.array(list(VOCAB_COUNTS))
VOCAB_P = np.array(list(VOCAB_COUNTS.values()), dtype=np.float64)
VOCAB_P /= VOCAB_P.sum()
LANGS = np.array(["de", "en", "es", "fr", "zh"])
LANG_P = np.array([0.14, 0.41, 0.15, 0.15, 0.15])

_ROWS_PER_GROUP = 4096


def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream per (seed, purpose...)."""
    return np.random.default_rng([int(seed), *stream])


# ---------------------------------------------------------------- vectors
def vector_ids(n: int) -> list[str]:
    return [f"v{i:08d}" for i in range(n)]


def corpus(seed: int, n: int) -> tuple[list[str], np.ndarray, np.ndarray]:
    """(ids, vectors float32 [n, DIM], category int [n])."""
    r = rng(seed, 1)
    x = r.random((n, DIM), dtype=np.float32)
    cats = r.integers(0, N_CATEGORIES, n)
    return vector_ids(n), x, cats


def queries(seed: int, n: int, stream: int = 2) -> np.ndarray:
    """Fresh uniform query vectors, not corpus rows."""
    return rng(seed, stream).random((n, DIM), dtype=np.float32)


def vectors_table(ids, x: np.ndarray, cats) -> pa.Table:
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(x, dtype=np.float32).ravel()), DIM
    ).cast(pa.list_(pa.field("element", pa.float32(), nullable=False)))
    meta = pa.array([[("category", str(int(c)))] for c in cats],
                    type=pa.map_(pa.string(), pa.string()))
    return pa.table({"vec_id": pa.array(list(ids), pa.string()),
                     "embedding": emb, "metadata": meta})


def write_table(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write `table` as a directory of `n_files` parquet files."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=_ROWS_PER_GROUP)


def mutate_batch(seed: int, round_no: int, live_ids: list[str],
                 n_upsert: int = 1000, n_delete: int = 100,
                 ) -> tuple[list[str], np.ndarray, np.ndarray, list[str]]:
    """One round's writes against the client's model of the store: half
    updates of live ids and half new ids, then deletes of other live ids.
    Returns (upsert ids, vectors, categories, delete ids)."""
    r = rng(seed, 3, round_no)
    half = n_upsert // 2
    pick = r.choice(len(live_ids), half + n_delete, replace=False)
    upd = [live_ids[i] for i in pick[:half]]
    dels = [live_ids[i] for i in pick[half:]]
    new = [f"r{round_no:04d}n{j:05d}" for j in range(n_upsert - half)]
    x = r.random((n_upsert, DIM), dtype=np.float32)
    cats = r.integers(0, N_CATEGORIES, n_upsert)
    return upd + new, x, cats, dels


# -------------------------------------------------------------- documents
def _words(r: np.random.Generator, n: int) -> list[str]:
    return list(VOCAB[r.choice(len(VOCAB), n, p=VOCAB_P)])


def _distinct_span(r: np.random.Generator, n: int, avoid_first: str,
                   avoid_last: str) -> list[str]:
    while True:
        s = _words(r, n)
        if s[0] != avoid_first and s[-1] != avoid_last:
            return s


def documents(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """The `documents` table and a count of each planted structure."""
    r = rng(seed, 4)
    ids = np.arange(n_docs)
    is_eval = ids % EVAL_MOD == 0
    lens = np.where(is_eval, r.integers(10, 17, n_docs),
                    r.integers(10, 101, n_docs))
    docs = [_words(r, int(k)) for k in lens]
    train = [int(i) for i in r.permutation(ids[~is_eval])]
    evals = [int(i) for i in ids[is_eval]]
    planted = {"span_docs": 0, "exact_pairs": 0, "near_pairs": 0,
               "ngram_docs": 0, "semantic_docs": 0}
    take = iter(train)

    # shared spans: 20 spans of 12 tokens, each in 3 docs
    for _ in range(20):
        span = _words(r, 12)
        for _ in range(3):
            d = next(take)
            at = int(r.integers(0, len(docs[d]) + 1))
            docs[d][at:at] = span
            planted["span_docs"] += 1
    # exact duplicates after the cut: both docs are 4 runs of 7 tokens
    # separated by an 8-token span repeated inside the doc; the cut removes
    # the spans and leaves the same 28 tokens in both
    for _ in range(20):
        runs = [_words(r, 7) for _ in range(4)]
        sa = _words(r, 8)
        sb = _distinct_span(r, 8, sa[0], sa[-1])
        for sp in (sa, sb):
            d = next(take)
            docs[d] = runs[0] + sp + runs[1] + sp + runs[2] + sp + runs[3]
        planted["exact_pairs"] += 1
    # near duplicates: every 8th token replaced, so no 8-gram survives
    # intact and about 45% of 3-shingles are shared
    for _ in range(40):
        a, b = next(take), next(take)
        base = _words(r, int(r.integers(40, 81)))
        twin = list(base)
        for p in range(7, len(twin), 8):
            while twin[p] == base[p]:
                twin[p] = _words(r, 1)[0]
        docs[a], docs[b] = base, twin
        planted["near_pairs"] += 1
    # n-gram contamination: a 4-token chunk of an eval doc
    for _ in range(30):
        d, e = next(take), evals[int(r.integers(0, len(evals)))]
        at = int(r.integers(0, len(docs[e]) - 3))
        chunk = docs[e][at:at + 4]
        pos = int(r.integers(0, len(docs[d]) + 1))
        docs[d][pos:pos] = chunk
        planted["ngram_docs"] += 1
    # semantic contamination: an eval doc's words, shuffled, three times
    for _ in range(25):
        d, e = next(take), evals[int(r.integers(0, len(evals)))]
        words = docs[e] * 3
        docs[d] = [words[i] for i in r.permutation(len(words))]
        planted["semantic_docs"] += 1

    text = [" ".join(w) for w in docs]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(LANGS[r.choice(len(LANGS), n_docs, p=LANG_P)],
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    return table, planted


def write_documents(seed: int, n_docs: int, sf_dir: str) -> dict:
    """Write `{sf_dir}/documents.parquet` (a single file, like the sf
    fixtures). Returns the planted counts."""
    table, planted = documents(seed, n_docs)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"),
                   row_group_size=_ROWS_PER_GROUP)
    return planted


def tree_digest(path: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)
