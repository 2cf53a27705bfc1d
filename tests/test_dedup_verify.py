"""The fused dedup's shared bucket verifier against a Python brute force,
without Spark.

`_verify_bucket` is what every fused bucket runs (self-join and
bipartite, matrix path and chunked path), and the chunked paths reach
the shared `_verify_pairs`. The brute force states the rules directly:
est = agreeing signature slots / nh (float64) must reach the floor, a
pair whose EARLIER band also agrees is dropped (its first matching
band's bucket verifies it), exact Jaccard over the shingle sets must
reach the threshold, and in the bipartite form id_a is always the
index-side doc.
"""

from __future__ import annotations

import numpy as np
import pytest

from tensorflow_recorder_spark.operators.dedup import (
    _CsrSets,
    _verify_bucket,
    _verify_pairs,
)

NH, BANDS = 8, 4
RPB = NH // BANDS


def _bucket(rng, m, band_idx):
    """m docs sharing band ``band_idx`` (what makes them one bucket);
    other slots drawn from a tiny alphabet so earlier bands often agree
    too. Shingle sets: a near-duplicate family (shared core plus edits)
    or diverse sets, with empty sets mixed in."""
    M8 = rng.randint(0, 3, size=(m, NH)).astype(np.int64)
    M8[:, band_idx * RPB : (band_idx + 1) * RPB] = rng.randint(0, 1000, RPB)
    core = rng.choice(200, size=rng.randint(0, 40), replace=False)
    sets = []
    for _ in range(m):
        if rng.rand() < 0.15:
            s = np.zeros(0, np.int64)
        elif rng.rand() < 0.5:
            keep = core[rng.rand(len(core)) < 0.9]
            extra = rng.randint(200, 260, size=rng.randint(0, 6))
            s = np.unique(np.concatenate((keep, extra)))
        else:
            s = np.unique(rng.randint(0, 60, size=rng.randint(1, 30)))
        sets.append(rng.permutation(s).astype(np.int64))
    sh = np.empty(m, dtype=object)
    sh[:] = sets
    return M8, sh


def _brute(ids, M8, sh, band_idx, min_est, thr, side=None):
    m = len(ids)
    if side is None:
        pairs = [(i, j) for i in range(m) for j in range(i + 1, m)]
    else:
        pairs = [
            (i, j)
            for i in range(m)
            for j in range(m)
            if side[i] == 0 and side[j] == 1
        ]
    out = []
    for i, j in pairs:
        agree = [int(M8[i, k] == M8[j, k]) for k in range(NH)]
        est = sum(agree) / NH
        if est < min_est:
            continue
        if any(all(agree[b * RPB : (b + 1) * RPB]) for b in range(band_idx)):
            continue
        a, b = set(sh[i].tolist()), set(sh[j].tolist())
        inter = len(a & b)
        union = len(a) + len(b) - inter
        if union and inter / union >= thr:
            out.append((int(ids[i]), int(ids[j]), est, inter / union))
    return sorted(out)


def _rows(out):
    if out is None:
        return []
    return sorted(zip(*(np.asarray(c).tolist() for c in out)))


_ROUTES = [
    {},  # matrix path (m^2 within the budget), serial
    {"giant_rows": 2, "giant_threads": 3},  # matrix path on the pool
    {"matrix_budget": 0},  # chunked path, one chunk
    {"matrix_budget": 0, "chunk_pairs": 3},  # chunked path, many chunks
]


@pytest.mark.filterwarnings("ignore:invalid value encountered")
@pytest.mark.parametrize("min_est,thr", [(0.25, 0.3), (0.5, 0.5), (0.0, 0.0)])
def test_self_join_bucket_matches_bruteforce(min_est, thr):
    rng = np.random.RandomState(11)
    seen = 0
    for trial in range(60):
        m = 2 if trial < 10 else rng.randint(2, 30)
        band_idx = rng.randint(0, BANDS)
        M8, sh = _bucket(rng, m, band_idx)
        ids = np.sort(rng.choice(10_000, size=m, replace=False)).astype(np.int64)
        want = _brute(ids, M8, sh, band_idx, min_est, thr)
        seen += len(want)
        for route in _ROUTES:
            got = _verify_bucket(
                band_idx, ids, M8, sh, None,
                rpb=RPB, min_est=min_est, thr=thr, **route,
            )
            assert _rows(got) == want, (trial, route)
            assert all(a < b for a, b, _, _ in _rows(got))
    assert seen > 0


@pytest.mark.filterwarnings("ignore:invalid value encountered")
@pytest.mark.parametrize("min_est,thr", [(0.25, 0.3), (0.5, 0.5), (0.0, 0.0)])
def test_bipartite_bucket_matches_bruteforce(min_est, thr):
    rng = np.random.RandomState(12)
    seen = 0
    for trial in range(60):
        m = 2 if trial < 10 else rng.randint(2, 30)
        band_idx = rng.randint(0, BANDS)
        M8, sh = _bucket(rng, m, band_idx)
        side = rng.randint(0, 2, size=m)
        # the partition pass orders a bucket index side first, then id;
        # ids may repeat across sides (a doc in both frames)
        ids = rng.randint(0, 15, size=m).astype(np.int64)
        order = np.lexsort((ids, side))
        ids, side, M8, sh = ids[order], side[order], M8[order], sh[order]
        want = _brute(ids, M8, sh, band_idx, min_est, thr, side)
        seen += len(want)
        index_ids = set(ids[side == 0].tolist())
        batch_ids = set(ids[side == 1].tolist())
        for chunk_pairs in (1 << 20, 3, 1):
            got = _rows(
                _verify_bucket(
                    band_idx, ids, M8, sh, side,
                    rpb=RPB, min_est=min_est, thr=thr,
                    chunk_pairs=chunk_pairs,
                )
            )
            assert got == want, (trial, chunk_pairs)
            assert all(a in index_ids and b in batch_ids for a, b, _, _ in got)
    assert seen > 0


def test_verify_pairs_rules_on_explicit_candidates():
    """One hand-built bucket of band 1, each pair hitting one rule."""
    ids = np.array([10, 20, 30, 40], dtype=np.int64)
    M8 = np.array(
        [
            [1, 1, 5, 5, 1, 1, 1, 1],
            [1, 1, 5, 5, 1, 1, 1, 1],  # est 1 with row 0, but band 0 agrees
            [2, 2, 5, 5, 9, 9, 9, 9],  # est 2/8 with every other row
            [3, 3, 5, 5, 8, 8, 8, 8],
        ],
        dtype=np.int64,
    )
    sh = np.empty(4, dtype=object)
    sh[:] = [
        np.array([1, 2, 3, 4]),
        np.array([1, 2, 3, 4]),
        np.array([1, 2, 3]),
        np.array([], dtype=np.int64),
    ]
    sets = _CsrSets(sh)
    ai = np.array([0, 0, 1, 2, 0], dtype=np.int64)
    bi = np.array([1, 2, 2, 3, 3], dtype=np.int64)
    for panel in (None, (0, 4, 0, 4)):
        got = _rows(_verify_pairs(ids, M8, sets, 1, RPB, 0.25, 0.3, ai, bi, panel))
        # (10, 20) drops on its earlier band; (30, 40) and (10, 40) pass
        # the est floor, but the empty set gives them jaccard 0
        assert got == [(10, 30, 0.25, 0.75), (20, 30, 0.25, 0.75)]
    # a floor of 0.9 leaves only (10, 20), which its earlier band drops
    assert _verify_pairs(ids, M8, sets, 1, RPB, 0.9, 0.0, ai, bi, None) is None
