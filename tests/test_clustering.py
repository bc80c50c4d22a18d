"""Unit tests for the engine-exact Lloyd k-means
(`operators/clustering.py`): semantics the oracle-parity hash can't
localize — separation recovery, the nearest-centroid invariant, and
construction determinism."""

from __future__ import annotations

import numpy as np

from orx_surgical_spark.operators.clustering import (
    MICRO,
    _half_up,
    kmeans_lloyd,
    lloyd_centroids,
)


def _blob_df(spark, centers, n_per, spread, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(n_per):
            v = (np.array(c) + rng.normal(0, spread, len(c))).astype(
                "float32"
            )
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_recovers_separated_blobs(spark):
    """Two blobs 10 sigma apart: Lloyd with k=2 must put each blob in
    one cluster (whatever the cluster ids end up being)."""
    df = _blob_df(spark, [(0.0, 0.0, 0.0), (5.0, 5.0, 5.0)], 25, 0.5)
    got = {
        r.vec_id: r.cluster_id
        for r in kmeans_lloyd(df, k=2, iters=3).collect()
    }
    first = {got[i] for i in range(25)}
    second = {got[i] for i in range(25, 50)}
    assert len(first) == 1 and len(second) == 1 and first != second


def test_kmeans_assignment_is_nearest_final_centroid(spark, sf_dir):
    """Every vector's (cluster_id, dist) must equal the numpy argmin
    over the operator's own final centroids on the quantized ints —
    exact int64 arithmetic, lowest-cid tie rule."""
    from orx_surgical_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    xm, centroids = lloyd_centroids(emb, k=4, iters=3)
    pts = {r.vec_id: np.array(r.xm, dtype=np.int64) for r in xm.collect()}
    cm = np.array(centroids, dtype=np.int64)
    got = kmeans_lloyd(emb, k=4, iters=3).collect()
    assert len(got) == len(pts)
    for r in got:
        d = ((pts[r.vec_id][None, :] - cm) ** 2).sum(axis=1)
        assert r.cluster_id == int(np.argmin(d))  # argmin = lowest-id tie
        assert r.dist_micro_sq == int(d[r.cluster_id])


def test_kmeans_quantization_matches_round_half_away(spark):
    """The micro quantization is ROUND-half-away-from-zero on the
    float64-widened value — pinned because the oracle replays it."""
    df = spark.createDataFrame(
        [(0, [0.0000005, -0.0000005, 0.25])],
        "vec_id long, embedding array<float>",
    )
    xm, _ = lloyd_centroids(df, k=1, iters=0)
    v = xm.collect()[0].xm
    # float32(5e-7) widens to ~5.0000...e-7 ulps off exact .5; assert
    # only sign symmetry + the exact representable case.
    assert v[0] == -v[1]
    assert v[2] == round(float(np.float32(0.25)) * MICRO)


def test_kmeans_deterministic_across_invocations(spark, sf_dir):
    from orx_surgical_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, kmeans_lloyd(emb, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_lloyd(emb, k=4, iters=2).collect()))
    assert a == b


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k=3 over 2 distinct points: one centroid never wins a point
    after the first update and must carry over unchanged (COALESCE
    branch) instead of crashing or going null."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [9.0, 9.0])],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_lloyd(df, k=3, iters=3).collect()
    assert len(rows) == 3
    assert all(r.dist_micro_sq == 0 for r in rows)


def test_kmeans_final_plan_is_map_only(spark, sf_dir):
    """The returned plan must contain no Exchange and no Join — the
    iterations happen at construction; serving the assignment is one
    codegen pass over the checkpointed quantized corpus."""
    from orx_surgical_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = (
        kmeans_lloyd(emb, k=4, iters=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_kmeans_rejects_fewer_vectors_than_k(spark):
    """n < k violates the smallest-k-ids init rule — must raise a
    clear ValueError, not IndexError in the carry-over step."""
    import pytest

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="at least k=4"):
        kmeans_lloyd(df, k=4, iters=1)


def test_kmeans_rejects_empty_corpus(spark):
    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        kmeans_lloyd(empty, k=2, iters=1)


# Points in micro-units. Vectors 0 and 1 are identical, so the init
# puts centroids 0 and 1 on the same point: every distance to cluster 1
# ties with cluster 0, the tie goes to the lower id, and cluster 1
# empties in the first round. Vector 3 is equidistant from vectors 0
# and 2 (another tie), and the odd coordinates give half-unit means on
# both signs, so the HALF_UP update is exercised too.
_TIE_2D = [
    (1000001, 2000001), (1000001, 2000001), (3000001, 2000001),
    (2000001, 2000001), (4000000, 3000001), (-1, 4000000),
    (3000000, 4000003), (1000000, 5000000), (5000001, 2000000),
    (2000000, 3000000), (-1000001, 1000000), (-2000000, -5000001),
]


def _tie_df(spark, halves):
    """12 vectors of ``2 * halves`` dims; every half is a rotation of
    ``_TIE_2D`` that keeps vectors 0 and 1 identical."""
    rows = [
        (i, [v / MICRO for h in range(halves) for v in _TIE_2D[(i + 5 * h) % 12]])
        for i in range(12)
    ]
    rows[1] = (1, rows[0][1])
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lloyd_loop_matches_driver_cutover(spark):
    """The distributed loop (cutover forced off) and the driver numpy
    Lloyd return the same centroids, emptied cluster included."""
    df = _tie_df(spark, 1)
    for iters in (1, 3):
        _, loop = lloyd_centroids(df, k=3, iters=iters, driver_cutover_rows=0)
        _, cut = lloyd_centroids(df, k=3, iters=iters)
        assert loop == cut
    _, one = lloyd_centroids(df, k=3, iters=1)
    assert one[1] == list(_TIE_2D[0])  # cluster 1 emptied and kept its centroid


def test_pq_fit_loop_matches_driver_cutover(spark):
    """Same pin for the PQ codebook fit: the fused distributed fit and
    the per-subspace driver Lloyd agree on every codebook."""
    from orx_surgical_spark.operators.similarity import pq_train_codebooks

    df = _tie_df(spark, 2)
    kw = dict(n_subspaces=2, n_centroids=3, iters=2)
    loop = pq_train_codebooks(df, driver_cutover_rows=0, **kw)
    cut = pq_train_codebooks(df, **kw)
    assert loop == cut


def test_half_up_matches_spark_round(spark):
    """The driver-side update rounds like Spark's ``F.round(double)``:
    half away from zero on the decimal repr (``floor(x + 0.5)`` gives 1
    for 0.49999999999999994)."""
    from pyspark.sql import functions as F

    xs = [0.49999999999999994, 0.5, -0.5, 2.5, -2.5, -1.5, 1.4999999999999998]
    want = [0, 1, -1, 3, -3, -2, 1]
    assert [_half_up(x) for x in xs] == want
    got = spark.createDataFrame([(x,) for x in xs], "x double").select(
        F.round("x").cast("long")
    )
    assert [r[0] for r in got.collect()] == want
