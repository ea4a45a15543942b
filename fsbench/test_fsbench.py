"""Self-test of the benchmark's generators and output checks (no JVM).

    python3 -m pytest fsbench -q
"""

import numpy as np
import pytest

from fsbench import checks, gen
from fsbench.trace import _union_ms


def test_vectors_and_queries_repeat_per_seed():
    a, b = gen.clustered_vectors(3, 500), gen.clustered_vectors(3, 500)
    assert a.dtype == np.float32 and a.shape == (500, gen.DIM)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, gen.clustered_vectors(4, 500))
    assert np.array_equal(gen.perturbed_queries(3, a, 20),
                          gen.perturbed_queries(3, b, 20))
    assert np.array_equal(gen.sample_ids(3, 500, 50), gen.sample_ids(3, 500, 50))


def test_chain_documents_repeat_and_hold_their_shape():
    texts, chains = gen.chain_documents(5, 60, 4, 5)
    assert (texts, chains) == gen.chain_documents(5, 60, 4, 5)
    assert texts != gen.chain_documents(6, 60, 4, 5)[0]
    assert len(texts) == 60 and all(texts)
    for ids in chains:
        sets = [gen.shingles(texts[i]) for i in ids]
        for a in range(len(sets)):
            for b in range(a + 1, len(sets)):
                j = gen.jaccard(sets[a], sets[b])
                assert j >= 0.55 if b == a + 1 else j < 0.45


def test_exact_topk_matches_a_full_sort():
    X = gen.clustered_vectors(1, 300)
    Q = gen.perturbed_queries(1, X, 7)
    got = checks.exact_topk(X, Q, 10, chunk=3)
    for q, row in zip(Q, got):
        d2 = ((X.astype(np.float64) - q.astype(np.float64)) ** 2).sum(1)
        assert row.tolist() == np.lexsort((np.arange(len(X)), d2))[:10].tolist()


def _topk_rows(truth, q_ids):
    return [(q, int(i), float(r), r + 1)
            for q, row in zip(q_ids, truth) for r, i in enumerate(row)]


def test_recall_and_row_checks_catch_corruption():
    X = gen.clustered_vectors(2, 200)
    truth = checks.exact_topk(X, gen.perturbed_queries(2, X, 4), 5)
    q_ids = [10, 11, 12, 13]
    rows = _topk_rows(truth, q_ids)
    got = {q: list(row) for q, row in zip(q_ids, truth)}
    assert checks.recall(got, truth, q_ids, 5) == 1.0
    assert checks.check_topk_rows(rows, q_ids, 5) == []

    got[10] = [-1] + got[10][1:]
    assert checks.recall(got, truth, q_ids, 5) == pytest.approx(0.95)
    assert checks.check_topk_rows(rows[1:], q_ids, 5)             # rank missing
    swapped = [(q, i, 9.0 if r == 1 else d, r) for q, i, d, r in rows]
    assert checks.check_topk_rows(swapped, q_ids, 5)              # unsorted
    assert checks.check_topk_rows(rows + [(99, 1, 0.0, 1)], q_ids, 5)


def test_replay_routing_and_census_checks_catch_corruption():
    rows = [(1, 5, 0.5, 1), (1, 6, 0.7, 2)]
    assert checks.check_replay(rows, list(reversed(rows))) == []
    assert checks.check_replay(rows, [(1, 5, 0.5, 1), (1, 6, 0.71, 2)])

    before = {"codes": (10, "123"), "bounds": (2, "7")}
    assert checks.check_routing_unchanged(before, dict(before)) == []
    assert checks.check_routing_unchanged(before, {**before, "codes": (10, "124")})

    assert checks.check_census({1: 90, 3: 10}, {2}, 100) == []
    assert checks.check_census({1: 90, 2: 10}, {2}, 100)         # retired in use
    assert checks.check_census({1: 90}, set(), 100)               # rows lost


def test_retirement_check_catches_corruption():
    X = gen.clustered_vectors(8, 6).astype(np.float64)
    dec = {i: X[i].tolist() for i in range(len(X))}
    assert checks.check_retired({1}, [1], dec, X, True) == []
    assert checks.check_retired(set(), [1], dec, X, True)         # not retired
    assert checks.check_retired({1}, [1], dec, X, False)          # key derives
    assert checks.check_retired({1}, [1], {i: dec[i] for i in range(5)}, X, True)
    assert checks.check_retired({1}, [1], {**dec, 2: (X[2] + 1).tolist()}, X, True)


def test_dedup_check_catches_corruption():
    texts, chains = gen.chain_documents(7, 40, 3, 4)
    expected = checks.expected_dedup(texts, chains, 0.5)
    for ids in chains:
        assert {expected[i] for i in ids} == {min(ids)}
    rows = [(d, c, int(d == c)) for d, c in expected.items()]
    assert checks.dedup_scores(rows, expected) == (1.0, 1.0, [])

    victim = max(chains[0])
    split = [(d, d if d == victim else c, int(d == victim or d == c))
             for d, c, _ in rows]
    rec, prec, errors = checks.dedup_scores(split, expected)
    assert rec < 1.0 and prec == 1.0 and errors
    lone = next(d for d in range(len(texts)) if expected[d] == d
                and all(d not in ids for ids in chains))
    merged = [(d, min(chains[0]) if d == lone else c, int(d == c and d != lone))
              for d, c, _ in rows]
    rec, prec, errors = checks.dedup_scores(merged, expected)
    assert rec == 1.0 and prec < 1.0 and errors
    bad_keep = [(d, c, 1) for d, c, _ in rows]
    assert checks.dedup_scores(bad_keep, expected)[2]
    assert checks.dedup_scores(rows[1:], expected)[2]


def test_union_of_job_intervals():
    assert _union_ms([]) == 0
    assert _union_ms([(0, 10), (5, 20), (30, 31)]) == 21
    assert _union_ms([(5, 6), (0, 10)]) == 10
