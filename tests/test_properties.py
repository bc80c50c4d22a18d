"""Property-based tests (hypothesis for pure driver-side functions;
seeded batch properties for Spark expressions — one job checks the
property over many generated rows at once)."""

import math

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from orx_surgical_spark.functions.metrics import trapezoid_auc
from orx_surgical_spark.operators.dedup import jaccard
from orx_surgical_spark.operators.inference import linear_sigmoid_model
from orx_surgical_spark.operators.relational import clean_code
from orx_surgical_spark.operators.encoders import hash_fraction


@given(
    st.lists(
        st.tuples(
            st.floats(0, 1, allow_nan=False), st.floats(0, 1, allow_nan=False)
        ),
        min_size=2,
        max_size=50,
    )
)
@settings(max_examples=200, deadline=None)
def test_trapezoid_auc_bounded(points):
    auc = trapezoid_auc(points)
    assert -1e-9 <= auc <= 1.0 + 1e-9  # area inside the unit square


@given(
    st.lists(st.floats(-5, 5, allow_nan=False), min_size=1, max_size=8),
    st.floats(-5, 5, allow_nan=False),
)
@settings(max_examples=100, deadline=None)
@example(weights=[1.0], bias=0.0)
@example(weights=[4.0], bias=0.0)
def test_linear_sigmoid_model_in_unit_interval(weights, bias):
    predict = linear_sigmoid_model(weights, bias)()
    x = np.linspace(-10, 10, 7 * len(weights)).reshape(7, len(weights))
    y = predict(x)
    assert y.shape == (7,)
    assert ((y >= 0) & (y <= 1)).all()  # sigmoid saturates to 0/1 in float64
    logit = x @ np.asarray(weights) + bias
    assert np.allclose(y, 1.0 / (1.0 + np.exp(-logit)))


def test_jaccard_properties_batch(spark):
    """Jaccard over 500 random array pairs: bounded, symmetric, 1 on
    self, and equal to the python-set definition."""
    rng = np.random.default_rng(42)
    rows = []
    for _ in range(500):
        a = sorted(set(rng.integers(0, 20, rng.integers(0, 10)).tolist()))
        b = sorted(set(rng.integers(0, 20, rng.integers(0, 10)).tolist()))
        inter, union = len(set(a) & set(b)), len(set(a) | set(b))
        rows.append((
            [str(x) for x in a], [str(x) for x in b],
            0.0 if union == 0 else inter / union,
        ))
    df = spark.createDataFrame(
        rows, "a array<string>, b array<string>, expected double"
    )
    checked = df.select(
        jaccard(F.col("a"), F.col("b")).alias("jab"),
        jaccard(F.col("b"), F.col("a")).alias("jba"),
        jaccard(F.col("a"), F.col("a")).alias("jaa"),
        F.size("a").alias("na"),
        "expected",
    )
    bad = checked.filter(
        (F.abs(F.col("jab") - F.col("expected")) > 1e-9)
        | (F.abs(F.col("jab") - F.col("jba")) > 1e-9)
        | ((F.col("na") > 0) & (F.abs(F.col("jaa") - 1.0) > 1e-9))
        | (F.col("jab") < 0) | (F.col("jab") > 1)
    )
    assert bad.count() == 0


def test_clean_code_idempotent_batch(spark):
    """Cleaning an already-clean code is the identity (idempotence)."""
    rng = np.random.default_rng(7)
    raw = []
    for i in range(300):
        base = f"C{rng.integers(0, 999):03d}"
        deco = rng.integers(0, 4)
        if deco == 0:
            raw.append(f"'{base}'")
        elif deco == 1:
            raw.append(f"  {base}.{rng.integers(0, 99)} ")
        elif deco == 2:
            raw.append(f"'{base}.{rng.integers(0, 9)}'")
        else:
            raw.append(base)
    df = spark.createDataFrame([(r,) for r in raw], "raw string")
    once = df.select(clean_code("raw").alias("c1"))
    twice = once.select(F.col("c1"), clean_code("c1").alias("c2"))
    assert twice.filter(F.col("c1") != F.col("c2")).count() == 0
    # and every cleaned value is quote/dot/space-free
    assert once.filter(F.col("c1").rlike("['. ]")).count() == 0


def test_hash_fraction_uniform_and_stable(spark):
    """hash_fraction: values in [0,1), deterministic, and roughly
    uniform (each decile within 3x of expectation over 10k keys)."""
    df = spark.range(10_000).select(hash_fraction(F.col("id")).alias("f"))
    assert df.filter((F.col("f") < 0) | (F.col("f") >= 1)).count() == 0
    deciles = (
        df.groupBy(F.floor(F.col("f") * 10).alias("d"))
        .count()
        .collect()
    )
    counts = {r["d"]: r["count"] for r in deciles}
    assert set(counts) == set(range(10))
    assert all(300 < c < 3000 for c in counts.values())
    again = spark.range(10_000).select(hash_fraction(F.col("id")).alias("f"))
    assert df.exceptAll(again).count() == 0


def test_trapezoid_auc_known_values():
    assert trapezoid_auc([(0, 0), (1, 1)]) == 0.5  # diagonal
    assert trapezoid_auc([(0, 1), (1, 1)]) == 1.0  # perfect
    assert math.isclose(
        trapezoid_auc([(0, 0), (0.5, 0.5), (1, 1)]), 0.5
    )


def test_paragraph_dedup_conservation_batch(spark):
    """One seeded batch pins the paragraph-dedup invariants over many
    generated docs at once: (1) sum(n_kept) == number of DISTINCT
    segments in the whole corpus (each distinct segment survives in
    exactly one doc); (2) n_kept <= n_segs everywhere; (3) a doc built
    from globally-unique tokens keeps every segment."""
    import random

    from orx_surgical_spark.operators.dedup import paragraph_dedup

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 50))))
        for i in range(200)
    ]
    rows.append((999, " ".join(f"unique{i}" for i in range(40))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = paragraph_dedup(df, seg_tokens=5).collect()

    # distinct segments, recomputed independently in python
    def segs(text):
        toks = text.lower().split()
        return [
            " ".join(toks[i : i + 5]) for i in range(0, len(toks), 5)
        ]

    all_segs = {s for _, t in rows for s in segs(t)}
    assert sum(r["n_kept"] for r in out) == len(all_segs)
    assert all(0 <= r["n_kept"] <= r["n_segs"] for r in out)
    unique_doc = next(r for r in out if r["doc_id"] == 999)
    assert unique_doc["n_kept"] == unique_doc["n_segs"] == 8


def test_pii_redact_idempotent_batch(spark):
    """Redaction is a fixed point: applying the scrub twice equals
    applying it once, over a seeded batch of adversarial strings
    (partial emails, dotted numbers, placeholders already present)."""
    import random

    from orx_surgical_spark.operators.text import pii_counts, pii_redact

    rng = random.Random(11)
    frags = [
        "a@b.co", "x@y", "10.1.2.3", "1.2.3", "123-45-6789", "123-456",
        "[EMAIL]", "[IP]", "plain", "dots...", "u_%+-@d-e.info", "999",
    ]
    rows = [
        (i, " ".join(rng.choice(frags) for _ in range(rng.randint(1, 10))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    once = pii_redact("t")
    chk = df.select(
        (pii_redact(once) == once).alias("fixed"),
        *[c.alias(f"resid_{n}") for n, c in pii_counts(once).items()],
    )
    agg = chk.agg(
        F.min("fixed").alias("all_fixed"),
        F.sum(F.col("resid_email") + F.col("resid_ipv4")
              + F.col("resid_id_number")).alias("resid"),
    ).first()
    assert agg["all_fixed"] is True
    assert agg["resid"] == 0


def test_merge_intervals_matches_python_union_batch(spark):
    """merge_intervals over one seeded random batch of interval sets
    (many keys, one Spark job) must equal a reference python sweep —
    coverage of overlap/touch/containment/duplicate mixes no
    hand-picked fixture reaches."""
    from orx_surgical_spark.operators.temporal import merge_intervals

    rng = np.random.default_rng(83)
    rows = []
    for k in range(40):
        for _ in range(rng.integers(1, 12)):
            s = int(rng.integers(0, 200))
            rows.append((k, s, s + int(rng.integers(1, 40))))
    df = spark.createDataFrame(rows, "k int, s long, e long")
    got = sorted(
        (r.k, r.period_start, r.period_end)
        for r in merge_intervals(df, "k", "s", "e").collect()
    )

    def py_union(ivs):
        out = []
        for s, e in sorted(ivs):
            if out and s <= out[-1][1]:
                out[-1] = (out[-1][0], max(out[-1][1], e))
            else:
                out.append((s, e))
        return out

    expect = []
    by_key: dict[int, list] = {}
    for k, s, e in rows:
        by_key.setdefault(k, []).append((s, e))
    for k, ivs in by_key.items():
        expect += [(k, s, e) for s, e in py_union(ivs)]
    assert got == sorted(expect)
    # covered time never exceeds raw summed lengths, never less than
    # the longest single interval (sanity of the merge direction)
    for k, ivs in by_key.items():
        covered = sum(e - s for kk, s, e in got if kk == k)
        assert covered <= sum(e - s for s, e in ivs)
        assert covered >= max(e - s for s, e in ivs)


def test_kcore_matches_python_peel_batch(spark):
    """Bounded-round kcore on a seeded random graph must equal the
    python peel run for the same number of rounds (and the converged
    flag must be right)."""
    from orx_surgical_spark.operators.graph import kcore

    rng = np.random.default_rng(19)
    edges = {
        (int(a), int(b))
        for a, b in rng.integers(0, 30, size=(80, 2))
        if a != b
    }
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    rounds, k = 3, 3
    rows = kcore(df, k=k, rounds=rounds).collect()

    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    for _ in range(rounds):
        deg = {n: len(adj[n] & alive) for n in alive}
        alive = {n for n in alive if deg[n] >= k}
    deg = {n: len(adj[n] & alive) for n in alive}
    assert {r.node: r.core_deg for r in rows} == deg
    converged = all(d >= k for d in deg.values())
    assert all(r.converged == converged for r in rows)


def test_bfs_matches_python_bfs_batch(spark):
    """bfs_layers on a seeded random graph vs a python BFS: distances
    equal for every node within the round budget."""
    from collections import deque

    from orx_surgical_spark.operators.graph import bfs_layers

    rng = np.random.default_rng(7)
    edges = {
        (int(a), int(b))
        for a, b in rng.integers(0, 40, size=(70, 2))
        if a != b
    }
    seeds = [0, 1]
    rounds = 3
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    sdf = spark.createDataFrame([(s,) for s in seeds], ["node"])
    rows = bfs_layers(df, sdf, rounds=rounds).collect()

    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        n = q.popleft()
        if dist[n] >= rounds:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = dist[n] + 1
                q.append(m)
    assert {r.node: r.dist for r in rows} == dist
    full = True
    for n in list(dist):
        if any(m not in dist for m in adj.get(n, ())):
            full = False
    assert all(r.frontier_exhausted == full for r in rows)


@given(st.lists(st.integers(0, 30), min_size=1, max_size=60))
@settings(max_examples=50, deadline=None)
def test_kmv_estimator_pure_math(keys):
    """The KMV read-out formula on arbitrary key multisets (pure
    python replica of the md5 ordering): exact below k, and within a
    loose multiplicative band above — the estimator can't collapse or
    explode whatever the key distribution."""
    import hashlib

    k = 8
    distinct = sorted(
        {hashlib.md5(str(x).encode()).hexdigest() for x in keys}
    )
    n = len(distinct)
    if n < k:
        est = float(n)
    else:
        h48 = int(distinct[k - 1][:12], 16)
        est = round((k - 1) * (16**12) / h48, 4)
    if n < k:
        assert est == n
    else:
        assert 0 < est  # positive
        # loose band: k=8 gives ~40% std err; allow 8x both ways
        assert n / 8 <= est <= n * 8
