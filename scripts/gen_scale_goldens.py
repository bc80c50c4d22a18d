"""Freeze per-SF drift goldens for the engine-exact generated-oracle
queries (VERDICT r8 item 6).

``kmeans_clusters``, ``principal_projection``, ``doc_graph_kcore`` and
``doc_graph_bfs_layers`` replay their generated DuckDB oracles at the
GRADED scale factor every round, but at soak scale (sf0.1 / sf1) the
probe previously only counted their rows — round-over-round engine or
data drift at scale was invisible, unlike the model members, which have
had frozen scale goldens since r6. This script freezes each query's
full output at a probed SF into ``goldens/scale/<query>__<tag>.parquet``
(tag = basename of the sf dir, e.g. ``sf0.1``); ``scripts/soak.py``
then compares the live output against the frozen multiset on every run
and records a per-query drift boolean in the soak artifact.

All four outputs are pure-integer (micro-unit arithmetic), so the
comparison is exact — no tolerance.

Usage::

    python scripts/gen_scale_goldens.py --sf-dir /root/testdata/sf0.1
    python scripts/gen_scale_goldens.py --sf-dir /root/repo/.scale/sf1
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

#: The engine-exact queries whose scale outputs get frozen.
SCALE_GOLDEN_QUERIES = (
    "kmeans_clusters",
    "principal_projection",
    "doc_graph_kcore",
    "doc_graph_bfs_layers",
)

SCALE_GOLDEN_DIR = os.path.join(
    os.path.dirname(__file__), "..", "goldens", "scale"
)


def scale_golden_path(query: str, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.abspath(
        os.path.join(SCALE_GOLDEN_DIR, f"{query}__{tag}.parquet")
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from orx_surgical_spark.session import driver_memory_for_box

    # Same heap sizing rule as soak.py: pyspark's 1g default OOMs on
    # the power iteration's 2080-expression Gram aggregate at sf0.1+.
    input_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(args.sf_dir)
        for f in files
        if f.endswith(".parquet")
    ) if os.path.isdir(args.sf_dir) else 0
    driver_memory = driver_memory_for_box(
        24 * 1024 if input_bytes > 100 * 1024 * 1024 else 4 * 1024
    )
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from orx_surgical_spark.queries.catalog import REGISTRY

    os.makedirs(SCALE_GOLDEN_DIR, exist_ok=True)
    for name in SCALE_GOLDEN_QUERIES:
        out = scale_golden_path(name, args.sf_dir)
        pdf = REGISTRY[name].fn(spark, args.sf_dir).toPandas()
        pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
        pdf.to_parquet(out, index=False)
        print(f"[goldens] froze {name}: {len(pdf)} rows -> {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
