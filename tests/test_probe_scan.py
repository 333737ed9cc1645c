"""The house Arrow GEMM scorer's shared parts.

``_local_topk`` is the one per-batch exact top-k cut behind every probe
scorer; it is checked here on hand-built score matrices against a brute
``sorted`` under the same (score, vec_id) order. The no-broadcast guard
builds and collects every operator that ships a bounded driver-side
array (probes, centroids, codebook, hyperplanes) to its ``mapInPandas``
scorer: the array rides in the scorer's closure, and a hand-made
``SparkContext.broadcast`` fails the guard.
"""

from __future__ import annotations

import numpy as np
import pytest

from conftest import SF_DIR
from spark_dba_spark.operators.similarity import _local_topk


def _brute(qids, vids, scores, k, descending):
    rows = []
    for j, qid in enumerate(qids):
        cands = [
            (float(scores[i, j]), int(vids[i]))
            for i in range(len(vids))
            if vids[i] != qid and np.isfinite(scores[i, j])
        ]
        cands = sorted(
            cands, key=lambda c: (-c[0] if descending else c[0], c[1])
        )[:k]
        rows += [(int(qid), v, s) for s, v in cands]
    return rows


def _cut(qids, vids, scores, k, descending):
    q, v, s = _local_topk(qids, vids, scores, k, descending)
    assert len(q) == len(v) == len(s)
    return [(int(a), int(b), float(c)) for a, b, c in zip(q, v, s)]


@pytest.mark.parametrize("descending", [True, False])
def test_local_topk_ties_straddle_kth_place(descending):
    # eight rows share the score at ranks 2..9, so k = 4 cuts a tie
    # group; vec_ids are shuffled so only the vec_id tie-break (not the
    # row position) can pick the winners
    vids = np.array([40, 7, 31, 3, 12, 25, 9, 18, 2, 33], dtype=np.int64)
    col = np.array([5.0, 2, 2, 2, 2, 2, 2, 2, 2, 1])
    if not descending:
        col = -col
    scores = np.stack([col, col[::-1]], axis=1)
    qids = np.array([100, 101], dtype=np.int64)
    got = _cut(qids, vids, scores, 4, descending)
    assert got == _brute(qids, vids, scores, 4, descending)
    assert [v for q, v, _ in got if q == 100] == [40, 2, 3, 7]


@pytest.mark.parametrize("descending", [True, False])
def test_local_topk_masks_self_before_the_cut(descending):
    rng = np.random.default_rng(3)
    vids = np.arange(12, dtype=np.int64)
    scores = rng.normal(size=(12, 3))
    best = scores.max() + 1 if descending else scores.min() - 1
    for j, qid in enumerate((4, 9, 11)):
        scores[qid, j] = best  # the self row carries the best score
    qids = np.array([4, 9, 11], dtype=np.int64)
    got = _cut(qids, vids, scores, 3, descending)
    assert got == _brute(qids, vids, scores, 3, descending)
    assert len(got) == 9
    assert all(q != v for q, v, _ in got)


@pytest.mark.parametrize("descending", [True, False])
def test_local_topk_drops_non_finite_scores(descending):
    vids = np.array([5, 1, 8, 2, 6, 0], dtype=np.int64)
    scores = np.array(
        [
            [np.nan, 0.5],
            [np.inf, -np.inf],
            [0.3, np.nan],
            [-np.inf, np.inf],
            [0.3, 0.1],
            [0.9, 0.9],
        ]
    )
    qids = np.array([0, 3], dtype=np.int64)
    got = _cut(qids, vids, scores, 2, descending)
    assert got == _brute(qids, vids, scores, 2, descending)
    assert all(np.isfinite(s) for _, _, s in got)
    # probe 0's own row (vec_id 0) is masked; only vec_ids 6 and 8
    # (tied at 0.3) are left as finite candidates
    assert [v for q, v, _ in got if q == 0] == [6, 8]


@pytest.mark.parametrize("descending", [True, False])
def test_local_topk_k_larger_than_batch(descending):
    vids = np.array([3, 1, 2], dtype=np.int64)
    scores = np.array([[1, 7], [3, 7], [2, 5]], dtype=np.int64)
    qids = np.array([2, 9], dtype=np.int64)
    got = _cut(qids, vids, scores, 10, descending)
    assert got == _brute(qids, vids, scores, 10, descending)
    assert len(got) == 2 + 3  # probe 2 loses only its self row


def test_local_topk_integer_scores_keep_their_dtype():
    # the PQ ADC scorer feeds int64 distances straight into a long column
    vids = np.array([0, 1, 2], dtype=np.int64)
    scores = np.array([[4], [4], [1]], dtype=np.int64)
    q, v, s = _local_topk(np.array([7]), vids, scores, 2, descending=False)
    assert s.dtype == np.int64
    assert list(v) == [2, 0] and list(s) == [1, 4]


# The seven _probe_scan operators, plus one LSH and one IVF query for
# the shared _lsh_bucketed / _ivf_structures stages.
_CLOSURE_SCORERS = [
    ("similarity", "sim_cosine_topk"),
    ("similarity", "sim_mips_maxdot"),
    ("similarity", "sim_range_search"),
    ("similarity", "sim_pq_adc"),
    ("similarity", "sim_knn_label_vote"),
    ("similarity", "sim_ann_lsh"),
    ("similarity", "sim_ivf"),
    ("curation", "emb_intrinsic_dim_twonn"),
    ("curation", "emb_prefix_dim_recall"),
]


def test_probe_scorers_make_no_broadcast(spark, monkeypatch):
    import importlib

    from pyspark import SparkContext

    def refuse(self, value):
        raise AssertionError("hand-made sparkContext.broadcast")

    monkeypatch.setattr(SparkContext, "broadcast", refuse)
    for module, name in _CLOSURE_SCORERS:
        mod = importlib.import_module(f"spark_dba_spark.operators.{module}")
        rows = getattr(mod, name)(spark, SF_DIR).collect()
        assert rows, name
