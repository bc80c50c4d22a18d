"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs a fixed list of
operations per repetition (a closed loop: one client, the next
operation starts when the previous one returns), digests every output
outside the timed region, checks outputs once against an independent
DuckDB computation, and knows which engine functions its traced
repetitions wrap in spans.

- ``cms_features``: the paper's pipeline. ``get_aov`` and ``get_mhe``
  over CMS-shaped CSVs, each written with ``write_parquet``.
- ``curation``: the catalog's ``corpus_curation_summary`` and
  ``minhash_candidates`` over a near-duplicate corpus.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import duckdb
import pandas as pd

import gen
from harness import Tracer

# Input sizes. Recorded in BENCHMARK.json (workload "why") and README.md.
CMS_SIZES = dict(patients=400, claims_per_year=2, dx_codes=40, pcs_codes=20,
                 dx_vocab=8, pcs_vocab=4)
CORPUS_SIZES = dict(base_docs=500, dup_frac=0.3, copies=2, edit_rate=0.05)


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result (the parity harness's own
    cell normalization)."""
    from orx_surgical_spark.testing import normalize_frame

    return hashlib.md5(repr((len(df), normalize_frame(df))).encode()).hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    """Base class: subclasses fill in ``generate``, ``run_op``,
    ``digest``, ``check``, ``trace_targets`` and ``prefix_pass``."""

    name = ""
    ops: tuple[str, ...] = ()
    warm_reps = 1  # untimed repetitions before measuring
    min_reps = 1  # measured repetitions, at the least

    def __init__(self, work: str, seed: int, sizes: dict | None = None):
        self.work = work
        self.seed = seed
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out")
        self.sizes = dict(sizes or {})
        self.input_rows = 0

    def output_bytes(self) -> int:
        return 0


class CmsFeatures(Workload):
    name = "cms_features"
    ops = ("aov", "mhe")

    def __init__(self, work, seed, sizes=None):
        super().__init__(work, seed, sizes or CMS_SIZES)

    def generate(self) -> dict:
        info = gen.cms_inputs(self.data, self.seed, **self.sizes)
        self.input_rows = info["claims"]
        return info

    def run_op(self, spark, op: str, tracer: Tracer):
        from orx_surgical_spark.pipelines import cms
        from orx_surgical_spark.sources import readers

        entry = cms.get_aov if op == "aov" else cms.get_mhe
        df = entry(spark, self.data)
        readers.write_parquet(df, os.path.join(self.out, op))
        return os.path.join(self.out, op)

    def digest(self, op: str, path: str) -> str:
        import pyarrow.parquet as pq

        return frame_digest(pq.read_table(path).to_pandas())

    def output_bytes(self) -> int:
        return sum(_dir_bytes(os.path.join(self.out, op)) for op in self.ops)

    def check(self, outputs: dict) -> dict[str, str]:
        """Cohort size, label counts, split sizes and AOV width from
        DuckDB SQL over the generated CSVs, against the written tables.
        Returns a message per operation whose output is wrong."""
        d = self.data
        con = duckdb.connect()
        try:
            exp = con.execute(f"""
                WITH ben AS (SELECT * FROM read_csv('{d}/ben.csv', header=true, all_varchar=true)),
                ip AS (SELECT * FROM read_csv('{d}/ip.csv', header=true, all_varchar=true)),
                m AS (
                  SELECT ip.DESYNPUF_ID AS pid, ip.CLM_DRG_CD IN ('469', '470') AS pos,
                         year(try_strptime(CAST(TRY_CAST(ip.CLM_FROM_DT AS BIGINT) AS VARCHAR),
                                           '%Y%m%d')) AS yr
                  FROM ip JOIN ben ON ip.DESYNPUF_ID = ben.DESYNPUF_ID
                  WHERE TRY_CAST(ben.SP_RA_OA AS INT) = 1
                ), f AS (
                  SELECT * FROM m WHERE yr BETWEEN 2008 AND 2010
                    AND NOT (yr IN (2008, 2009) AND coalesce(pos, false))
                ), c AS (
                  SELECT * FROM f WHERE pid IN (
                    SELECT pid FROM f GROUP BY pid HAVING count(DISTINCT yr) = 3)
                ), p AS (
                  SELECT pid, bool_or(coalesce(pos, false)) AS pos FROM c WHERE yr = 2010 GROUP BY pid
                )
                SELECT (SELECT count(*) FROM p), (SELECT count(*) FILTER (WHERE pos) FROM p),
                       count(*), count(*) FILTER (WHERE coalesce(pos, false)) FROM c
            """).fetchone()
            n_pat, pos_pat, n_clm, pos_clm = exp
            got = {}
            for op in self.ops:
                got[op] = con.execute(f"""
                    SELECT count(*), count(*) FILTER (WHERE label = 1),
                           count(*) FILTER (WHERE split = 'train')
                    FROM read_parquet('{outputs[op]}/*.parquet')""").fetchone()
            width = len(con.execute(
                f"SELECT * FROM read_parquet('{outputs['aov']}/*.parquet') LIMIT 0").description)
        finally:
            con.close()

        def train(n, pos):
            return math.ceil(0.8 * pos) + math.ceil(0.8 * (n - pos))

        vocab = self.sizes["dx_vocab"] + self.sizes["pcs_vocab"]
        want = {
            "aov": (n_pat, pos_pat, train(n_pat, pos_pat)),
            "mhe": (n_clm, pos_clm, train(n_clm, pos_clm)),
        }
        errors = {
            op: f"(rows, positives, train) = {got[op]}, expected {want[op]}"
            for op in self.ops if tuple(got[op]) != want[op]
        }
        if width != 3 * (2 + vocab) + 3:
            errors.setdefault("aov", f"{width} columns, expected {3 * (2 + vocab) + 3}")
        if n_pat == 0:
            errors.setdefault("aov", "empty cohort")
        return errors

    def trace_targets(self) -> dict:
        from orx_surgical_spark.operators import encoders
        from orx_surgical_spark.pipelines import cms
        from orx_surgical_spark.sources import readers

        names = ("get_aov", "get_mhe", "load_cms_tables", "arthritis_cohort",
                 "clean_crosswalk", "crosswalk_vocab", "remap_and_label",
                 "occurrence_columns", "aov_features", "mhe_samples")
        return {
            "sources.read_csv": readers.read_csv,
            "sources.write_parquet": readers.write_parquet,
            "encoders.stratified_split_exact": encoders.stratified_split_exact,
            **{f"cms.{n}": getattr(cms, n) for n in names},
        }

    STAGES = ("load", "cohort", "crosswalk", "remap", "occurrence", "aov", "mhe")
    PARENT = {"cohort": "load", "crosswalk": "cohort", "remap": "crosswalk",
              "occurrence": "remap", "aov": "occurrence", "mhe": "occurrence"}

    def _prefix(self, spark, upto: str):
        """Build the pipeline up to ``upto`` from scratch with the
        pipeline's public stage functions (the composition ``get_aov``/
        ``get_mhe`` use); return the claims-level frame the prefix ends
        with. ``crosswalk`` cleans the crosswalks and collects their
        vocabularies (jobs at construction) and ends with the cohort."""
        from orx_surgical_spark.operators.encoders import stratified_split_exact
        from orx_surgical_spark.pipelines import cms

        t = cms.load_cms_tables(spark, self.data)
        if upto == "load":
            return t["ip"]
        cohort = cms.arthritis_cohort(t["ben"], t["ip"])
        if upto == "cohort":
            return cohort
        dx, pcs = cms.clean_crosswalk(t["dx"]), cms.clean_crosswalk(t["pcs"])
        dxv, pcv = cms.crosswalk_vocab(dx), cms.crosswalk_vocab(pcs)
        if upto == "crosswalk":
            return cohort
        remapped = cms.remap_and_label(cohort, dx, pcs)
        if upto == "remap":
            return remapped
        enc = cms.occurrence_columns(remapped, dxv, pcv)
        if upto == "occurrence":
            return enc
        if upto == "aov":
            return stratified_split_exact(cms.aov_features(enc, dxv, pcv), "label", "DESYNPUF_ID")
        return stratified_split_exact(cms.mhe_samples(enc, dxv, pcv), "label", "CLM_ID")

    def prefix_pass(self, spark, tracer: Tracer) -> dict:
        """Per-stage construct/execute time and job count. Each stage
        prefix is built and executed from scratch; a stage's self cost
        is its prefix minus its parent prefix (small negative values are
        noise). Inner prefixes execute with ``count()``, ``aov``/``mhe``
        with ``write_parquet``."""
        from orx_surgical_spark.sources.readers import write_parquet

        cum = {}
        for stage in self.STAGES:
            with tracer.span(f"prefix.{stage}.construct") as c:
                frame = self._prefix(spark, stage)
            with tracer.span(f"prefix.{stage}.execute") as e:
                if stage in ("aov", "mhe"):
                    write_parquet(frame, os.path.join(self.out, f"prefix_{stage}"))
                else:
                    frame.count()
            cum[stage] = (c["end"] - c["start"], e["end"] - e["start"],
                          len(c["jobs"]) + len(e["jobs"]))
        out = {}
        for stage in self.STAGES:
            base = cum[self.PARENT[stage]] if stage in self.PARENT else (0.0, 0.0, 0)
            out[f"cms.{stage}.construct_s"] = cum[stage][0] - base[0]
            out[f"cms.{stage}.execute_s"] = cum[stage][1] - base[1]
            out[f"cms.{stage}.jobs"] = cum[stage][2] - base[2]
        return out


class Curation(Workload):
    name = "curation"
    ops = ("curation", "candidates")
    min_reps = 3
    QUERY = {"curation": "corpus_curation_summary", "candidates": "minhash_candidates"}

    def __init__(self, work, seed, sizes=None):
        super().__init__(work, seed, sizes or CORPUS_SIZES)

    def generate(self) -> dict:
        info = gen.corpus(self.data, self.seed, **self.sizes)
        self.input_rows = info["docs"]
        return info

    def run_op(self, spark, op: str, tracer: Tracer):
        from orx_surgical_spark.queries.catalog import REGISTRY

        q = REGISTRY[self.QUERY[op]]
        with tracer.span(f"queries.{q.name}.construct"):
            df = q.fn(spark, self.data)
        with tracer.span(f"queries.{q.name}.execute") as ex:
            rows = df.collect()
        if tracer.active:
            ph = df._jdf.queryExecution().tracker().phases()
            ex["plan_s"] = sum(
                ph.get(k).get().durationMs() for k in ("analysis", "optimization", "planning")
                if ph.get(k).isDefined()
            ) / 1000.0
        return pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)

    def digest(self, op: str, frame: pd.DataFrame) -> str:
        return frame_digest(frame)

    def check(self, outputs: dict) -> dict[str, str]:
        """Each query's first output against its registered DuckDB
        oracle, over a ``documents`` view as the parity harness registers
        it, with the harness's normalization."""
        from orx_surgical_spark.queries.catalog import REGISTRY

        errors = {}
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS "
                        f"SELECT * FROM read_parquet('{self.data}/documents.parquet')")
            for op, frame in outputs.items():
                oracle = con.execute(REGISTRY[self.QUERY[op]].oracle).fetch_df()
                if sorted(oracle.columns) != sorted(frame.columns):
                    errors[op] = f"columns {sorted(frame.columns)} != {sorted(oracle.columns)}"
                elif frame_digest(oracle) != frame_digest(frame):
                    errors[op] = f"{len(frame)} rows differ from the oracle's {len(oracle)}"
        finally:
            con.close()
        return errors

    def trace_targets(self) -> dict:
        from orx_surgical_spark.operators import dedup, graph
        from orx_surgical_spark.sources import readers

        targets = {
            "sources.load_table": readers.load_table,
            "dedup.lsh_candidate_pairs": dedup.lsh_candidate_pairs,
            "dedup.minhash_bands": dedup.minhash_bands,
            "dedup.jaccard_verify": dedup.jaccard_verify,
            "graph.connected_components": graph.connected_components,
        }
        if hasattr(graph, "_driver_union_find"):  # marks the cutover path
            targets["graph.driver_union_find"] = graph._driver_union_find
        return targets

    def prefix_pass(self, spark, tracer: Tracer) -> dict:
        """LSH -> verify -> connected components, as composed by
        ``corpus_curation_summary``; each prefix built and run from
        scratch, stage self cost = prefix minus previous prefix. The
        corpus has far fewer verified edges than the driver cutover, so
        the query takes the driver union-find path; ``cc_loop`` runs the
        same edges through the distributed loop (cutover 0) and must
        give the same components."""
        from pyspark.sql import functions as F

        from orx_surgical_spark.operators import dedup as D
        from orx_surgical_spark.operators.graph import connected_components
        from orx_surgical_spark.operators.text import tokens
        from orx_surgical_spark.sources.readers import ensure_min_partitions, load_table

        def build(upto):
            docs = ensure_min_partitions(load_table(spark, self.data, "documents"))
            eligible = docs.where(F.size(tokens("text")) >= 10)
            frame = D.lsh_candidate_pairs(eligible)
            if upto != "lsh":
                frame = (D.jaccard_verify(frame, eligible)
                         .filter(F.col("jaccard") >= 0.5).select("id_a", "id_b"))
            if upto in ("cc", "cc_loop"):
                loop = {"driver_cutover_edges": 0} if upto == "cc_loop" else {}
                frame = connected_components(
                    frame.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    edges_distinct=True, **loop)
            return frame

        cum, out = {}, {}
        for stage in ("lsh", "verify", "cc", "cc_loop"):
            t0 = time.perf_counter()
            with tracer.span(f"prefix.{stage}") as s:
                frame = build(stage)
                out[stage] = frame.count() if stage in ("lsh", "verify") else set(frame.collect())
            cum[stage] = (time.perf_counter() - t0, len(s["jobs"]))
        if out["cc"] != out["cc_loop"]:
            raise ValueError(f"connected components: the loop gave {len(out['cc_loop'])} rows, "
                             f"the cutover {len(out['cc'])}, and they differ")
        return {
            "dedup.lsh_s": cum["lsh"][0],
            "dedup.verify_s": cum["verify"][0] - cum["lsh"][0],
            "graph.cc_s": cum["cc"][0] - cum["verify"][0],
            "graph.cc_jobs": cum["cc"][1] - cum["verify"][1],
            "graph.cc_loop_s": cum["cc_loop"][0] - cum["verify"][0],
            "graph.cc_loop_jobs": cum["cc_loop"][1] - cum["verify"][1],
            "dedup.candidate_pairs": out["lsh"],
            "dedup.verified_pairs": out["verify"],
            "dedup.verify_yield": out["verify"] / max(1, out["lsh"]),
        }


WORKLOADS = {w.name: w for w in (CmsFeatures, Curation)}
