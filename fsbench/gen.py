"""Seeded input generators.

Everything here is plain numpy/Python: the benchmark generates its inputs
before any timing starts and hands the engine only parquet-backed
DataFrames (a driver-side ``createDataFrame`` of 10^5 rows costs more
than the whole set-up it would be timing).  The same ``seed`` always
yields the same arrays and texts; each generator draws from its own
stream so adding one never shifts another.
"""

from __future__ import annotations

import numpy as np

DIM = 64
VOCAB = 20_000
SHINGLE_K = 3

_STREAM_VECTORS, _STREAM_QUERIES, _STREAM_DOCS, _STREAM_SAMPLE = 1, 2, 3, 4


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def clustered_vectors(seed: int, n: int, n_clusters: int = 64,
                      spread: float = 4.0, sigma: float = 1.0) -> np.ndarray:
    """n x DIM float32 points around ``n_clusters`` Gaussian centres (the
    corpus shape the repository's scale tools use)."""
    rng = rng_for(seed, _STREAM_VECTORS)
    centres = rng.normal(0.0, spread, (n_clusters, DIM)).astype(np.float32)
    assign = rng.integers(0, n_clusters, n)
    return centres[assign] + rng.normal(0.0, sigma, (n, DIM)).astype(np.float32)


def perturbed_queries(seed: int, X: np.ndarray, n: int,
                      noise: float = 0.1) -> np.ndarray:
    """n queries, each a distinct corpus point plus small Gaussian noise."""
    rng = rng_for(seed, _STREAM_QUERIES)
    src = rng.choice(len(X), n, replace=False)
    return X[src] + rng.normal(0.0, noise, (n, X.shape[1])).astype(np.float32)


def sample_ids(seed: int, n: int, size: int) -> np.ndarray:
    """Sorted seeded id sample (training sets for the quantizers)."""
    rng = rng_for(seed, _STREAM_SAMPLE)
    return np.sort(rng.choice(n, size, replace=False))


def shingles(text: str, k: int = SHINGLE_K) -> set:
    """k-token shingle set with the engine's tokenization (lower-case,
    whitespace split, empty tokens dropped)."""
    toks = [t for t in text.lower().split() if t]
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 1.0


def chain_documents(seed: int, n_docs: int, n_chains: int, chain_len: int,
                    doc_len: int = 80, edit_frac: float = 0.10,
                    link_min: float = 0.55, apart_max: float = 0.45):
    """Documents with planted near-duplicate chains.

    Each chain starts from a random document; every next member
    substitutes ``edit_frac`` of its predecessor's tokens.  A step is
    redrawn until its shingle Jaccard with the predecessor is at least
    ``link_min`` and with every earlier member below ``apart_max``, so
    each chain is a path: only neighbours pass a threshold between the
    two, and the ends join only through connected components.  The
    remaining documents are independent random texts.  Ids are a seeded
    permutation, so a chain head is not its smallest id.

    Returns ``(texts, chains)``: ``texts[i]`` is document ``i`` and
    ``chains`` lists the member ids of each planted chain in chain order."""
    if n_chains * chain_len > n_docs:
        raise ValueError("more chain members than documents")
    rng = rng_for(seed, _STREAM_DOCS)
    n_edit = max(1, round(edit_frac * doc_len))

    def fresh():
        return rng.integers(0, VOCAB, doc_len)

    bodies = []
    for _ in range(n_chains):
        chain = [fresh()]
        sets = [_sh(chain[0])]
        while len(chain) < chain_len:
            nxt = chain[-1].copy()
            pos = rng.choice(doc_len, n_edit, replace=False)
            nxt[pos] = rng.integers(0, VOCAB, n_edit)
            sh = _sh(nxt)
            if (jaccard(sets[-1], sh) >= link_min
                    and all(jaccard(s, sh) < apart_max for s in sets[:-1])):
                chain.append(nxt)
                sets.append(sh)
        bodies.append(chain)
    singles = [fresh() for _ in range(n_docs - n_chains * chain_len)]
    order = rng.permutation(n_docs)
    texts: list = [None] * n_docs
    chains, slot = [], 0
    for chain in bodies:
        ids = []
        for body in chain:
            texts[order[slot]] = _text(body)
            ids.append(int(order[slot]))
            slot += 1
        chains.append(ids)
    for body in singles:
        texts[order[slot]] = _text(body)
        slot += 1
    return texts, chains


def _text(body: np.ndarray) -> str:
    return " ".join(f"w{t}" for t in body)


def _sh(body: np.ndarray) -> set:
    return {tuple(body[i:i + SHINGLE_K]) for i in range(len(body) - SHINGLE_K + 1)}


def write_vectors(path: str, X: np.ndarray, id_name: str = "id",
                  files: int = 1) -> None:
    """(id LONG, vector ARRAY<DOUBLE>) parquet directory, ids 0..n-1,
    split over ``files`` files so a scan has that many splits to spread."""
    import pyarrow as pa
    n, d = X.shape
    offs = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    vals = pa.array(X.reshape(-1).astype(np.float64))
    _write_parts(path, pa.table({
        id_name: pa.array(np.arange(n, dtype=np.int64)),
        "vector": pa.ListArray.from_arrays(offs, vals)}), files)


def write_docs(path: str, texts: list, files: int = 1) -> None:
    """(doc_id LONG, text STRING) parquet directory, ids 0..n-1."""
    import pyarrow as pa
    _write_parts(path, pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, type=pa.string())}), files)


def _write_parts(path: str, table, files: int) -> None:
    import os

    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i, lo in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))
