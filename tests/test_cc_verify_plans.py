"""Plan-shape pins for the r13 curation-pipeline strategy fixes.

Three invariants, each the observable form of a measured r13 defect:

1. ``jaccard_verify`` materializes the shingle table ONCE — the pair
   join's two sides both scan the same checkpoint (``ExistingRDD``),
   and no tokenize/shingle expression survives above it (the old form
   embedded the semi-join+shingle subtree twice, once per alias, and
   exchange reuse never fired).
2. ``jaccard_verify`` keeps the broadcast strategy for a small shingle
   table (the estimate-gated hint re-applies what Catalyst chose from
   pre-checkpoint stats).
3. ``connected_components``'s distributed-loop result carries a
   broadcast hint when the node census is small, so consumer
   keep-joins plan as BroadcastHashJoin instead of sort-merging the
   full corpus against an unknown-stats checkpoint.

These are strategy/materialization pins only — row-level equivalence
is pinned by test_graph.py (loop ≡ cutover) and test_oracle_parity.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _formatted(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _docs(spark):
    rows = [
        (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3)
        for i in range(8)
    ] + [(100 + i, f"unique text number {i} " * 12) for i in range(4)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_jaccard_verify_single_shingle_materialization(spark):
    from orx_surgical_spark.operators import dedup as D

    docs = _docs(spark)
    cands = D.lsh_candidate_pairs(docs, max_bucket=64)
    plan = _formatted(D.jaccard_verify(cands, docs))
    # both pair-join sides read the (one) shingle checkpoint: the only
    # scans in the verify tail are ExistingRDD (cands + 2x shingles)
    assert "Scan parquet" not in plan and "LocalTableScan" not in plan
    assert plan.count("ExistingRDD") >= 3
    # the tokenize/shingle pipeline is NOT re-inlined above the
    # checkpoint (no explode/Generate, no split() in the verify tail)
    assert "Generate" not in plan
    assert "split(" not in plan
    # exactly two pair joins (numbered operator headers, counted once)
    assert len(re.findall(r"\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join", plan)) == 2


def test_jaccard_verify_small_side_broadcasts(spark):
    # parquet-backed docs: Catalyst's pre-checkpoint estimate is small,
    # so the estimate-gated hint must preserve the broadcast strategy
    # the planner chose before the shingle table was checkpointed (the
    # old, twice-evaluated form planned the same two BHJs here).
    from orx_surgical_spark.operators import dedup as D

    path = os.path.join(SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        import pytest

        pytest.skip(f"test corpus not found at {path}")
    docs = spark.read.parquet(path)
    cands = D.lsh_candidate_pairs(docs, max_bucket=64)
    plan = _formatted(D.jaccard_verify(cands, docs))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2


def test_cc_loop_result_broadcasts_for_small_census(spark):
    from orx_surgical_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], ["src", "dst"]
    )
    # force the distributed loop (cutover off); census is tiny so the
    # returned frame must carry the broadcast hint
    comp = connected_components(edges, edges_distinct=True, driver_cutover_edges=0)
    corpus = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    joined = corpus.join(comp, corpus["doc_id"] == comp["node"], "left")
    assert "BroadcastHashJoin" in _formatted(joined)

    # and the hint is strategy-only: rows identical to the cutover path
    loop_rows = sorted(map(tuple, comp.collect()))
    cut_rows = sorted(
        map(tuple, connected_components(edges, edges_distinct=True).collect())
    )
    assert loop_rows == cut_rows


def test_cc_loop_result_no_hint_above_census_bound(spark):
    from orx_surgical_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], ["src", "dst"]
    )
    comp = connected_components(
        edges,
        edges_distinct=True,
        driver_cutover_edges=0,
        broadcast_labels_max_nodes=0,
    )
    corpus = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    joined = corpus.join(comp, corpus["doc_id"] == comp["node"], "left")
    assert "BroadcastHashJoin" not in _formatted(joined)


def test_jaccard_verify_stats_read_failure_drops_hint_keeps_rows(
    spark, monkeypatch, tmp_path
):
    """The size estimate is a private Spark API read: when it raises,
    the verify join loses its broadcast hint, not its rows."""
    from py4j.protocol import Py4JError

    from orx_surgical_spark.operators import dedup as D

    def hinted(df) -> bool:
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    # parquet-backed, so the estimate is small and the hint fires
    _docs(spark).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    cands = D.lsh_candidate_pairs(docs, max_bucket=64)
    verified = D.jaccard_verify(cands, docs)
    assert hinted(verified)
    want = sorted(map(tuple, verified.collect()))

    def broken(df):
        raise Py4JError("stats() unavailable")

    monkeypatch.setattr(D, "_plan_size_bytes", broken)
    fallback = D.jaccard_verify(cands, docs)
    assert not hinted(fallback)
    assert sorted(map(tuple, fallback.collect())) == want
    assert len(want) > 0
