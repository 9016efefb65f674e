"""similarity/semdedup.py — SemDeDup-style cluster-bounded pruning.

Invariant checks against a NumPy re-derivation on a synthetic
embedding table with planted duplicate groups, plus the plan-shape
pin: the pair stage must be a cluster equi-join with the cosine as a
JVM fold (no Python stage besides the single centroid-assignment
pandas_udf)."""

import numpy as np
import pytest

from cuspatial_spark.similarity import semantic_dedup

DIM = 16
THRESH = 0.9


@pytest.fixture(scope="module")
def emb_df(spark):
    """60 vectors in 3 planted groups + noise: members of a group are
    tiny perturbations of a base vector (cos >> THRESH); bases are
    mutually near-orthogonal."""
    rng = np.random.default_rng(7)
    bases = rng.normal(size=(3, DIM))
    rows = []
    vid = 0
    for g in range(3):
        for k in range(12):  # 12 near-copies per group
            v = bases[g] + 0.01 * rng.normal(size=DIM)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(24):  # independent noise vectors
        v = rng.normal(size=DIM)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _reference(df_pd, centroids, threshold):
    E = np.stack(df_pd.embedding.to_numpy()).astype(np.float64)
    ids = df_pd.vec_id.to_numpy()
    d = ((E[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
    assign = np.argmin(d, axis=1)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = En @ En.T
    kept = {}
    for c in np.unique(assign):
        idx = np.where(assign == c)[0]
        order = idx[np.argsort(ids[idx])]
        for j, row in enumerate(order):
            nn = S[row, order[:j]].max() if j else None
            kept[ids[row]] = (int(c), nn, nn is None or nn < threshold)
    return kept


def test_matches_numpy_reference(spark, emb_df):
    rng = np.random.default_rng(3)
    cts = rng.normal(size=(4, DIM))
    out = semantic_dedup(emb_df, centroids=cts, threshold=THRESH).toPandas()
    ref = _reference(emb_df.toPandas(), cts, THRESH)
    assert len(out) == 60
    for r in out.itertuples():
        c, nn, keep = ref[r.vec_id]
        assert r.cluster == c
        assert bool(r.is_kept) == keep
        if nn is None:
            assert r.nn_smaller_sim is None or np.isnan(r.nn_smaller_sim)
        else:
            assert abs(r.nn_smaller_sim - nn) < 1e-9


def test_planted_groups_pruned(spark, emb_df):
    """With one centroid (single cluster) every planted group keeps
    exactly its smallest id; drops are exactly 11 per group."""
    cts = np.zeros((1, DIM))
    out = semantic_dedup(emb_df, centroids=cts, threshold=THRESH).toPandas()
    kept = set(out[out.is_kept].vec_id)
    for g in range(3):
        members = set(range(12 * g, 12 * g + 12))
        assert kept & members == {12 * g}
    # noise vectors are mutually dissimilar -> all kept
    assert set(range(36, 60)) <= kept


def test_smallest_id_always_kept(spark, emb_df):
    cts = np.array([[1.0] * DIM, [-1.0] * DIM])
    out = semantic_dedup(emb_df, centroids=cts, threshold=0.0).toPandas()
    for c, grp in out.groupby("cluster"):
        assert bool(grp.loc[grp.vec_id.idxmin(), "is_kept"])


def test_trained_centroids_path(spark, emb_df):
    """centroids=None trains on a cross-partition sample; result must
    still satisfy the invariants (every row present, min ids kept)."""
    out = semantic_dedup(
        emb_df, n_centroids=3, threshold=THRESH
    ).toPandas()
    assert len(out) == 60
    assert sorted(out.vec_id) == list(range(60))
    for c, grp in out.groupby("cluster"):
        assert bool(grp.loc[grp.vec_id.idxmin(), "is_kept"])


def test_plan_shape(spark, emb_df):
    """100-TB invariants: exactly one ArrowEvalPython (the centroid
    assignment) and no BatchEvalPython (row-at-a-time) anywhere; the
    pair stage is an equi-join on cluster (hash-partitionable), not a
    cartesian product."""
    cts = np.zeros((2, DIM))
    out = semantic_dedup(emb_df, centroids=cts, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_block_parallel_sweep_equals_single_task(spark, emb_df):
    """The prefix-replicated block sweep (skew fix) must be
    bit-identical to the single-task-per-cluster sweep for every
    block size, including blocks smaller than the clusters."""
    import pandas as pd

    cts = np.array([[1.0] * DIM, [-1.0] * DIM, [0.5] * DIM])
    base = (
        semantic_dedup(
            emb_df, centroids=cts, threshold=THRESH,
            sweep_block_rows=10**9,
        )
        .orderBy("vec_id").toPandas()
    )
    for s in (1, 7, 16):
        got = (
            semantic_dedup(
                emb_df, centroids=cts, threshold=THRESH,
                sweep_block_rows=s,
            )
            .orderBy("vec_id").toPandas()
        )
        pd.testing.assert_frame_equal(got, base)


def test_block_sweep_with_duplicate_ids(spark):
    """Duplicate ids straddling block boundaries: every input row is
    emitted exactly once, as in the one-block sweep.  Each id appears
    twice with two orthogonal unit vectors; vec_id 0 (the all-ones
    vector) precedes them all with a positive cosine to each, so no
    row's nearest-smaller similarity depends on how a tie is
    ordered."""
    rows = [(0, [1.0] * DIM)]
    for k in range(1, 41):
        for d in (2 * k % DIM, (2 * k + 1) % DIM):
            v = [0.0] * DIM
            v[d] = 1.0
            rows.append((k, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(5)
    cts = np.array([[1.0] * DIM])

    def run(s):
        out = semantic_dedup(df, centroids=cts, threshold=0.99, sweep_block_rows=s)
        return sorted(
            (r["vec_id"], r["nn_smaller_sim"], r["is_kept"]) for r in out.collect()
        )

    base = run(10**9)
    assert len(base) == len(rows)
    for s in (2, 3, 5):
        assert run(s) == base, s
