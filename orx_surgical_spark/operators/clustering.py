"""Distributed Lloyd k-means as declarative DataFrame ops — no MLlib.

The IVF tier (``operators/similarity.py:build_ivf_index``) uses the
MLlib KMeans fit, whose seeded k-means|| init no SQL engine can replay
— so its queries are recall-gate-checked, not value-hashed. This
module is the *engine-exact* counterpart: Lloyd's algorithm expressed
entirely in integer micro-unit arithmetic with pinned determinism
rules, so a DuckDB oracle (generated by :func:`kmeans_oracle_sql` from
the SAME constants) replays every iteration bit-for-bit and the driver
can hash the full assignment output.

Determinism contract (both engines):

- vectors quantize to integer micro-units: ``CAST(ROUND(x * 1e6) AS
  BIGINT)`` per component (round half-away-from-zero — Spark HALF_UP
  and DuckDB ``ROUND`` agree on doubles);
- init: the ``k`` vectors with the smallest ids, cluster ids 0..k-1 in
  id order (production would seed k-means||; the catalog query pins a
  replayable init);
- assignment: exact BIGINT squared distance, ties broken to the
  lowest cluster id;
- update: per-dimension rounded mean ``CAST(ROUND(SUM(x)/COUNT(*)) AS
  BIGINT)`` — the sum is an exact integer (< 2^53), the division is
  the same IEEE double in both engines, the round is the same
  half-away-from-zero — so the new centroids are identical integers;
  a cluster that loses all members keeps its previous centroid.

Scale shape: per iteration, assignment is a map-only pass with the
k centroids compiled in as literals (a broadcast of constants — no
join), and the update is ONE partially-aggregated ``groupBy`` whose
map-side combine emits at most k rows per task (k x dim values
total cross the wire); the k-row result is collected to the driver
(bounded, same precedent as the broadcast query matrix in
``similarity.cosine_topk``). The quantized corpus is lazily
localCheckpointed once and re-scanned T+1 times — the irreducible
Lloyd access pattern. Driver-side state is O(k * dim) regardless of
corpus size.

Note the construction-time eagerness (same documented trade as
``dedup.jaccard_verify``): building the returned DataFrame runs the
T iteration jobs, because each iteration's centroids must be known to
compile the next assignment expression.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

MICRO = 1_000_000


def _quantize(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * F.lit(float(MICRO))).cast("bigint"),
        ).alias("xm"),
    )


def _dist_expr(centroid: list[int], dim: int):
    """Exact BIGINT squared distance to one literal centroid —
    unrolled element_at terms so the whole thing stays in
    whole-stage codegen (same trick as similarity.random_projection)."""
    terms = []
    for i in range(dim):
        d = F.element_at("xm", i + 1) - F.lit(int(centroid[i]))
        terms.append(d * d)
    return reduce(operator.add, terms)


def _assign(xm: DataFrame, centroids: list[list[int]], dim: int) -> DataFrame:
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _dist_expr(c, dim).alias("d"),
                    F.lit(j).alias("j"),
                )
                for j, c in enumerate(centroids)
            ]
        )
    )
    return xm.select(
        "vec_id",
        "xm",
        best["j"].alias("cluster_id"),
        best["d"].alias("dist_micro_sq"),
    )


def _half_up(x: float) -> int:
    """Spark's ``F.round(double)`` (HALF_UP, half away from zero), the
    update rule both engines share. Spark rounds the double's decimal
    repr, so this does too: ``floor(x + 0.5)`` would give 1 for
    0.49999999999999994, where Spark gives 0."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x)).quantize(Decimal(1), ROUND_HALF_UP))


def _driver_lloyd(
    X, ids, k: int, iters: int
) -> list[list[int]]:
    """Exact integer Lloyd on the driver: identical init (k smallest
    ids), assignment (int64 squared distance, argmin = lowest cluster
    id on ties) and update (HALF_UP of the IEEE-double mean per
    dimension; emptied clusters carry their centroid) as the
    distributed loop — pinned by tests/test_clustering.py's
    loop ≡ cutover comparison and the unrolled-CTE DuckDB oracle."""
    import numpy as np

    order = np.argsort(ids, kind="stable")[:k]
    centroids = X[order].copy()  # k x dim int64
    n = X.shape[0]
    chunk = max(1, (1 << 23) // max(1, k * X.shape[1]))  # ~64 MB int64
    for _ in range(iters):
        assign = np.empty(n, dtype=np.int64)
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            d = X[lo:hi, None, :] - centroids[None, :, :]
            np.square(d, out=d)
            assign[lo:hi] = d.sum(axis=2).argmin(axis=1)  # lowest id wins ties
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros((k, X.shape[1]), dtype=np.int64)
        np.add.at(sums, assign, X)
        for j in range(k):
            if counts[j]:  # emptied cluster keeps its previous centroid
                centroids[j] = [
                    _half_up(float(s) / float(counts[j])) for s in sums[j]
                ]
    return [[int(v) for v in c] for c in centroids]


def lloyd_centroids(
    df: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    driver_cutover_rows: int = 200_000,
) -> tuple[DataFrame, list[list[int]]]:
    """Run ``iters`` Lloyd rounds; return the lazily-checkpointed
    quantized corpus and the final integer-micro centroids.

    Driver cutover (same precedent as graph.py's union-find and
    similarity.py's Gram cutover): at or below ``driver_cutover_rows``
    the iteration runs on the driver in numpy int64 — the distributed
    loop's per-iteration cost at small n is NOT the data but Catalyst
    compiling a k x dim distance/aggregate expression tree per round
    (measured: the fused 8x16 PQ fit spent ~7 s/job in
    planning+codegen on 500 rows). Both paths produce identical
    centroids (exact integer distances, HALF_UP double-mean update —
    pinned by loop ≡ cutover tests and the unrolled DuckDB oracle).
    The fit side of a quantizer at 100 TB is a bounded sample by
    design (models.fit_sample pattern), so the cutover bound is the
    at-scale path for the FIT while assignment/serve stay distributed
    map-only. Pass 0 to force the distributed loop."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    xm = _quantize(df, id_col, vec_col).localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    if 0 < driver_cutover_rows and xm.limit(driver_cutover_rows + 1).count() <= driver_cutover_rows:
        import numpy as np

        rows = xm.collect()
        if not rows:
            raise ValueError("kmeans_lloyd: input corpus is empty")
        if len(rows) < k:
            raise ValueError(
                f"kmeans_lloyd: need at least k={k} vectors, "
                f"got {len(rows)}"
            )
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        X = np.array([r["xm"] for r in rows], dtype=np.int64)
        return xm, _driver_lloyd(X, ids, k, iters)
    first = xm.select("xm").first()
    if first is None:
        raise ValueError("kmeans_lloyd: input corpus is empty")
    dim = len(first["xm"])
    init_rows = xm.orderBy("vec_id").limit(k).collect()
    if len(init_rows) < k:
        # Precondition: the init rule takes the k smallest ids, so the
        # corpus must hold at least k vectors — fail with a clear
        # message instead of IndexError-ing in the carry-over step.
        raise ValueError(
            f"kmeans_lloyd: need at least k={k} vectors, "
            f"got {len(init_rows)}"
        )
    centroids = [list(r["xm"]) for r in init_rows]
    for _ in range(iters):
        assigned = _assign(xm, centroids, dim)
        # One shuffle of <= k rows per map task (partial agg); the
        # k-row result is the only thing the driver ever holds.
        agg = assigned.groupBy("cluster_id").agg(
            *[
                F.round(
                    F.sum(F.element_at("xm", i + 1)) / F.count(F.lit(1))
                )
                .cast("bigint")
                .alias(f"c{i}")
                for i in range(dim)
            ]
        )
        new = {
            r["cluster_id"]: [r[f"c{i}"] for i in range(dim)]
            for r in agg.collect()
        }
        # An emptied cluster keeps its previous centroid.
        centroids = [new.get(j, centroids[j]) for j in range(k)]
    return xm, centroids


def kmeans_lloyd(
    df: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final assignment after ``iters`` Lloyd rounds: one row per
    vector with ``vec_id, cluster_id, dist_micro_sq`` (exact integer
    squared distance in micro-units to the final centroid). The
    returned plan is a single map-only codegen pass over the
    checkpointed quantized corpus — zero joins, zero shuffles."""
    xm, centroids = lloyd_centroids(df, k, iters, id_col, vec_col)
    dim = len(centroids[0])
    return _assign(xm, centroids, dim).select(
        "vec_id",
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.col("dist_micro_sq").cast("bigint").alias("dist_micro_sq"),
    )


def kmeans_oracle_sql(
    k: int = 4, iters: int = 3, dim: int = 64, table: str = "embeddings"
) -> str:
    """Generate the DuckDB oracle that replays the SAME Lloyd run in
    long (vec_id, i, x) format: identical quantization, init,
    tie-break, rounded-mean update, and empty-cluster carry-over, with
    every iteration unrolled as a CTE pair — so the hash check proves
    the whole iterative fit, not just the final projection."""
    parts = [
        f"""
    WITH xml AS (
      SELECT vec_id, i,
             CAST(ROUND(CAST(embedding AS DOUBLE[])[i] * 1000000)
                  AS BIGINT) AS x
      FROM {table}, range(1, {dim + 1}) t(i)
    ), init AS (
      SELECT vec_id,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cid
      FROM (SELECT vec_id FROM {table} ORDER BY vec_id LIMIT {k})
    ), c0 AS (
      SELECT init.cid, x.i, x.x FROM init JOIN xml x USING (vec_id)
    )"""
    ]
    for t in range(1, iters + 2):
        prev = f"c{t - 1}"
        parts.append(f"""
    , d{t} AS (
      SELECT x.vec_id, c.cid,
             CAST(SUM((x.x - c.x) * (x.x - c.x)) AS BIGINT) AS dist
      FROM xml x JOIN {prev} c USING (i)
      GROUP BY x.vec_id, c.cid
    ), a{t} AS (
      SELECT vec_id, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, cid) AS rn
      FROM d{t}
    )""")
        if t <= iters:
            parts.append(f"""
    , m{t} AS (
      SELECT a.cid, x.i,
             CAST(ROUND(SUM(x.x) / COUNT(*)) AS BIGINT) AS x
      FROM a{t} a JOIN xml x USING (vec_id)
      WHERE a.rn = 1
      GROUP BY a.cid, x.i
    ), c{t} AS (
      SELECT p.cid, p.i, COALESCE(m.x, p.x) AS x
      FROM {prev} p LEFT JOIN m{t} m USING (cid, i)
    )""")
    parts.append(f"""
    SELECT vec_id, cid AS cluster_id, dist AS dist_micro_sq
    FROM a{iters + 1} WHERE rn = 1
    """)
    return "".join(parts)
