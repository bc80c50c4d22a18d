"""Record the measured ANN recall trend per scale factor.

VERDICT r10 item 2 closed the graph-ANN recall decay with input-derived
build effort (``knn_graph_effort``) and asked for the *recall trend
recorded per SF* as evidence — the gate queries expose only the
``meets_floor`` boolean (their DuckDB oracles cannot predict the
measured value), so the observed recall itself never landed in an
artifact. This script replays the gate join (approx top-k vs the exact
``cosine_topk`` ground truth, recall@5 averaged over the query set) for
every ANN serve tier at every available probe SF and writes one JSON
artifact, e.g.::

    python scripts/ann_recall_trend.py --json-out ANN_RECALL_r11.json

Output shape: ``{"sf0.1": {"ivf_kmeans": 1.0, ...}, ...}`` plus the
corpus size per SF — the decay curve the round-10 soak measured
(1.0 → 0.98 → 0.86 → 0.80 → <0.6 under fixed build parameters) is the
regression this artifact exists to catch: with input-derived effort the
curve must stay above every tier's gate floor at every probed SF.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

#: raw serve query -> method label (mirrors gate_queries._register_gates)
ANN_TIERS = {
    "ann_ivf_topk": "ivf_kmeans",
    "ann_lsh_topk": "rp_lsh",
    "ann_graph_topk": "knn_graph_beam",
    "ann_pq_topk": "pq_adc_rerank",
}

def _floors() -> dict:
    """The authoritative gate floors, imported — not copied — from
    gate_queries so this report can never disagree with the gates."""
    from orx_surgical_spark.queries import gate_queries as g

    return {
        "ivf_kmeans": g._IVF_FLOOR,
        "rp_lsh": g._LSH_FLOOR,
        "knn_graph_beam": g._GRAPH_FLOOR,
        "pq_adc_rerank": g._PQ_FLOOR,
    }

DEFAULT_SF_DIRS = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
    os.path.join(os.path.dirname(__file__), "..", ".scale", "sf1"),
    os.path.join(os.path.dirname(__file__), "..", ".scale", "sf3"),
    os.path.join(os.path.dirname(__file__), "..", ".scale", "sf10"),
)


def measured_recall(spark, sf_dir: str, raw_name: str) -> float:
    """Mean recall@5 of the serve tier against the exact ground truth —
    the same join `_ann_recall_fn` gates on, returning the value."""
    from pyspark.sql import functions as F

    from orx_surgical_spark.queries.catalog import REGISTRY

    exact = REGISTRY["cosine_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = REGISTRY[raw_name].fn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    row = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.avg(F.coalesce(F.col("hit"), F.lit(0))).alias("recall"))
        .agg(F.avg("recall").alias("r"))
        .first()
    )
    return float(row["r"] or 0.0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dirs", nargs="*", default=list(DEFAULT_SF_DIRS))
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from orx_surgical_spark.session import driver_memory_for_box

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory_for_box(24 * 1024))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    floors = _floors()
    out: dict = {"k": 5, "floors": floors, "trend": {}}
    any_below = False
    for sf_dir in args.sf_dirs:
        if not os.path.isdir(sf_dir):
            print(f"[recall] {sf_dir}: missing, skipped", flush=True)
            continue
        tag = os.path.basename(os.path.normpath(sf_dir))
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        n = emb.count()
        row: dict = {"n_vectors": n}
        for raw, method in ANN_TIERS.items():
            t = time.monotonic()
            r = round(measured_recall(spark, sf_dir, raw), 4)
            row[method] = r
            below = r < floors[method]
            any_below = any_below or below
            print(
                f"[recall] {tag} {method}: {r}"
                f"{' BELOW FLOOR' if below else ''}"
                f" ({time.monotonic() - t:.0f}s)",
                flush=True,
            )
        out["trend"][tag] = row

    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"[recall] wrote {args.json_out}", flush=True)
    spark.stop()
    return 1 if any_below else 0


if __name__ == "__main__":
    raise SystemExit(main())
