"""Independent output oracles.

Each check takes plain Python/numpy values (rows already collected from
the engine) and returns a list of failure messages, empty when the output
is right.  None of them calls into the engine, so they stay independent
of the code under test and run in the self-test without a JVM.
"""

from __future__ import annotations

import numpy as np

from .gen import jaccard, shingles


def exact_topk(X: np.ndarray, Q: np.ndarray, k: int,
               chunk: int = 128) -> np.ndarray:
    """Brute-force k nearest corpus ids per query (squared L2 in float64,
    ties to the smaller id), shape (len(Q), k)."""
    Xd = X.astype(np.float64)
    sq = (Xd * Xd).sum(1)
    out = []
    for lo in range(0, len(Q), chunk):
        d2 = sq[None, :] - 2.0 * (Q[lo:lo + chunk].astype(np.float64) @ Xd.T)
        part = np.argpartition(d2, k, axis=1)[:, :k]
        order = np.lexsort((part, np.take_along_axis(d2, part, 1)))
        out.append(np.take_along_axis(part, order, 1))
    return np.concatenate(out)


def recall(got: dict, truth: np.ndarray, q_ids, k: int) -> float:
    """Mean |returned ∩ true top-k| / k over ``q_ids``; ``got`` maps a
    query id to its returned corpus ids, ``truth`` rows follow ``q_ids``."""
    hits = [len(set(got.get(int(q), ())) & set(truth[i].tolist())) / k
            for i, q in enumerate(q_ids)]
    return float(np.mean(hits))


def check_topk_rows(rows, q_ids, k: int) -> list:
    """Shape of a top-k result: exactly k rows per query, ranks 1..k,
    distances non-decreasing, no unknown query ids."""
    by_q: dict = {}
    for q, i, d, r in rows:
        by_q.setdefault(int(q), []).append((int(r), float(d), int(i)))
    errors = []
    extra = set(by_q) - {int(q) for q in q_ids}
    if extra:
        errors.append(f"rows for unknown query ids {sorted(extra)[:5]}")
    for q in q_ids:
        hits = sorted(by_q.get(int(q), []))
        if [r for r, _, _ in hits] != list(range(1, k + 1)):
            errors.append(f"query {q}: ranks {[r for r, _, _ in hits]}")
        elif any(a[1] > b[1] for a, b in zip(hits, hits[1:])):
            errors.append(f"query {q}: distances not sorted")
    return errors


def check_replay(before, after) -> list:
    """A replayed batch must return identical (q_id, id, distance, rank)."""
    a, b = sorted(map(tuple, before)), sorted(map(tuple, after))
    if a == b:
        return []
    diff = len(set(a) ^ set(b))
    return [f"replayed batch differs in {diff} of {len(a)}/{len(b)} rows"]


def check_routing_unchanged(before: dict, after: dict) -> list:
    """Routing-ciphertext orthogonality: codes/bounds digests equal."""
    return [f"{name} changed under rotation"
            for name in sorted(before) if before[name] != after.get(name)]


def check_census(census: dict, retired, n_rows: int) -> list:
    """After retirement no row may sit under a retired key version, and
    the census must still account for every row.  ``census`` is a
    recount of the store's key versions taken after retirement, not the
    census the engine gated retirement on."""
    errors = [f"{census[v]} rows under retired version {v}"
              for v in sorted(retired) if census.get(v, 0) > 0]
    if sum(census.values()) != n_rows:
        errors.append(f"census counts {sum(census.values())} rows, "
                      f"expected {n_rows}")
    return errors


def check_retired(retired, expected, decrypted: dict, X: np.ndarray,
                  retired_key_error: bool) -> list:
    """A store whose every row was re-encrypted: the old versions must be
    retired, the retired keys must no longer derive, and the whole store
    must still decrypt, under the live keys alone, to the source vectors
    (``decrypted`` maps id -> vector)."""
    errors = []
    if set(retired) != set(expected):
        errors.append(f"retired versions {sorted(retired)}, "
                      f"expected {sorted(expected)}")
    if not retired_key_error:
        errors.append("a retired key version still derives a key")
    if sorted(decrypted) != list(range(len(X))):
        errors.append(f"store decrypts {len(decrypted)} rows, expected {len(X)}")
    elif not np.allclose(np.array([decrypted[i] for i in range(len(X))]), X):
        errors.append("decrypted store differs from the source vectors")
    return errors


def expected_dedup(texts: list, chains: list, threshold: float) -> dict:
    """doc_id -> canonical id: union of every within-chain pair whose
    shingle Jaccard reaches ``threshold``; a component's canonical id is
    its smallest member.  Documents outside the chains share no shingle
    structure with anything and stay alone."""
    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ids in chains:
        sets = [shingles(texts[i]) for i in ids]
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                if jaccard(sets[a], sets[b]) >= threshold:
                    ra, rb = find(ids[a]), find(ids[b])
                    parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(len(texts))}


def _pairs(canon: dict) -> set:
    groups: dict = {}
    for doc, c in canon.items():
        groups.setdefault(c, []).append(doc)
    return {(a, b) for members in groups.values()
            for i, a in enumerate(sorted(members))
            for b in sorted(members)[i + 1:]}


def dedup_scores(rows, expected: dict) -> tuple:
    """Compare near-dup output rows (doc_id, canonical_id, keep) with the
    expected canonical map → (pair_recall, pair_precision, errors)."""
    got = {int(d): int(c) for d, c, _ in rows}
    errors = []
    if set(got) != set(expected):
        errors.append(f"output covers {len(got)} docs, expected {len(expected)}")
    bad_keep = sum(1 for d, c, keep in rows if int(keep) != int(int(d) == int(c)))
    if bad_keep:
        errors.append(f"{bad_keep} rows with keep != (doc_id == canonical_id)")
    if got != expected:
        wrong = sum(1 for d in expected if got.get(d) != expected[d])
        errors.append(f"{wrong} documents with the wrong canonical id")
    true_p, got_p = _pairs(expected), _pairs(got)
    inter = len(true_p & got_p)
    rec = inter / len(true_p) if true_p else 1.0
    prec = inter / len(got_p) if got_p else 1.0
    return rec, prec, errors
