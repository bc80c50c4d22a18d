"""Pipeline golden tests (SURVEY §5 item 2): the CMS entry points run
on deterministic CMS-shaped fixtures (FIXTURES.md §1) and are checked
against an independent pandas re-implementation of the reference
semantics plus the hand-checkable invariants FIXTURES.md lists."""

from __future__ import annotations

import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from orx_surgical_spark.pipelines import cms as P
from tests.cms_fixtures import YEARS, _make_fixtures, _pandas_cohort

DX_MAP = {f"D{i:03d}": 100 + i % 12 for i in range(30)}  # fixture crosswalks
PCS_MAP = {f"P{i:03d}": 200 + i % 8 for i in range(20)}


@pytest.fixture(scope="module")
def cms(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cms_fixtures")
    frames = _make_fixtures(root)
    return {"dir": str(root), "frames": frames}


@pytest.fixture(scope="module")
def cohort(spark, cms):
    t = P.load_cms_tables(spark, cms["dir"])
    return P.arthritis_cohort(t["ben"], t["ip"]).cache()


def test_enrollment_filter_exact_patient_set(cms, cohort):
    expected = set(_pandas_cohort(cms["frames"]["ben"], cms["frames"]["ip"])["DESYNPUF_ID"])
    got = {r[0] for r in cohort.select("DESYNPUF_ID").distinct().collect()}
    assert got == expected
    assert len(got) > 10  # fixture keeps a meaningful cohort


def test_cohort_row_set_matches_pandas(cms, cohort):
    expected = _pandas_cohort(cms["frames"]["ben"], cms["frames"]["ip"])
    assert cohort.count() == len(expected)
    assert {r[0] for r in cohort.select("CLM_ID").collect()} == set(expected["CLM_ID"])


def test_age_rule(cms, cohort):
    row = cohort.filter(F.col("BENE_BIRTH_DT") != "").first()
    clm = pd.to_datetime(str(int(row["CLM_FROM_DT"])), format="%Y%m%d")
    birth = pd.to_datetime(row["BENE_BIRTH_DT"], format="%Y%m%d")
    assert row["Age"] == pytest.approx((clm - birth).days / 365, abs=1e-9)


def test_crosswalk_cleanup(spark, cms):
    t = P.load_cms_tables(spark, cms["dir"])
    dx = P.clean_crosswalk(t["dx"])
    got = {(r["ICD9"], r["CCS"]) for r in dx.collect()}
    assert got == set(DX_MAP.items())  # quotes/dots/padding all cleaned


def test_occurrence_vector_exact_indices(spark, cms, cohort):
    t = P.load_cms_tables(spark, cms["dir"])
    dx, pcs = P.clean_crosswalk(t["dx"]), P.clean_crosswalk(t["pcs"])
    dx_vocab, pcs_vocab = P.crosswalk_vocab(dx), P.crosswalk_vocab(pcs)
    remapped = P.remap_and_label(cohort, dx, pcs).cache()
    encoded = P.occurrence_columns(remapped, dx_vocab, pcs_vocab)

    raw = {r["CLM_ID"]: r for r in cohort.limit(20).collect()}
    enc = {r["CLM_ID"]: r for r in encoded.filter(
        F.col("CLM_ID").isin(list(raw))).collect()}
    for clm_id, r in raw.items():
        want = {
            DX_MAP[r[f"ICD9_DGNS_CD_{i}"]]
            for i in range(1, 11)
            if r[f"ICD9_DGNS_CD_{i}"] in DX_MAP
        }
        got = {v for v in dx_vocab if enc[clm_id][f"dx_ccs_{v}"] == 1}
        assert got == want, clm_id


def test_label_rule(cms, cohort):
    t_dir = cms["dir"]
    spark = cohort.sparkSession
    t = P.load_cms_tables(spark, t_dir)
    dx, pcs = P.clean_crosswalk(t["dx"]), P.clean_crosswalk(t["pcs"])
    remapped = P.remap_and_label(cohort, dx, pcs)
    bad = remapped.filter(
        (F.col("label") == 1) != F.col("CLM_DRG_CD").isin("469", "470")
    )
    assert bad.count() == 0


def test_aov_width_and_split(spark, cms):
    aov = P.get_aov(spark, cms["dir"], leak_label=True)
    v = 12 + 8  # dx + pcs CCS vocabulary sizes from the fixture
    # id + 3 years x (Age, sex, codes, leaked label) + label + split
    assert len(aov.columns) == 1 + 3 * (2 + v + 1) + 1 + 1
    assert aov.count() > 10
    # no-leak default drops exactly the 3 per-year label columns
    aov2 = P.get_aov(spark, cms["dir"], leak_label=False)
    assert len(aov2.columns) == len(aov.columns) - 3
    splits = {r[0] for r in aov2.select("split").distinct().collect()}
    assert splits == {"train", "test"}


def test_mhe_single_day_row_and_indices(spark, cms):
    mhe = P.get_mhe(spark, cms["dir"]).cache()
    v = 12 + 8
    # every active index lies in the (366, v) grid and shares one day row
    checked = mhe.select(
        "CLM_ID",
        F.size("mhe_idx").alias("n"),
        F.array_distinct(
            F.transform("mhe_idx", lambda i: F.floor(i / v))
        ).alias("day_rows"),
        F.array_max("mhe_idx").alias("mx"),
    )
    assert checked.filter(F.size("day_rows") > 1).count() == 0  # one nonzero day
    assert checked.filter(F.col("mx") >= 366 * v).count() == 0
    assert checked.filter(F.col("n") > 0).count() > 0
    dt = dict(mhe.dtypes)
    assert dt["dv_age"] == "float" and dt["dv_sex"] == "float"


def test_mhe_rebalance_keeps_positives(spark, cms):
    t = P.load_cms_tables(spark, cms["dir"])
    cohort_df = P.arthritis_cohort(t["ben"], t["ip"])
    dx, pcs = P.clean_crosswalk(t["dx"]), P.clean_crosswalk(t["pcs"])
    dx_vocab, pcs_vocab = P.crosswalk_vocab(dx), P.crosswalk_vocab(pcs)
    encoded = P.occurrence_columns(
        P.remap_and_label(cohort_df, dx, pcs), dx_vocab, pcs_vocab
    )
    n_pos = encoded.filter(F.col("label") == 1).count()
    rows = n_pos + 10
    sampled = P.mhe_samples(encoded, dx_vocab, pcs_vocab, rows=rows)
    counts = dict(
        (r["label"], r["n"])
        for r in sampled.groupBy("label").agg(F.count("*").alias("n")).collect()
    )
    assert counts.get(1, 0) == n_pos  # all positives kept (E5)
    assert counts.get(0, 0) == 10


def test_remap_join_tier_matches_literal_tier(spark, cms, cohort):
    """Above map_literal_max the remap switches to broadcast lookup
    joins; results must be identical and the plan must probe a reused
    broadcast per crosswalk instead of pasting 16 map literals."""
    t = P.load_cms_tables(spark, cms["dir"])
    dx, pcs = P.clean_crosswalk(t["dx"]), P.clean_crosswalk(t["pcs"])
    lit_tier = P.remap_and_label(cohort, dx, pcs)  # default: literals
    join_tier = P.remap_and_label(cohort, dx, pcs, map_literal_max=0)
    cols = sorted(lit_tier.columns)
    assert sorted(join_tier.columns) == cols
    a = lit_tier.select(*cols).exceptAll(join_tier.select(*cols))
    b = join_tier.select(*cols).exceptAll(lit_tier.select(*cols))
    assert a.count() == 0 and b.count() == 0
    plan = join_tier._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "create_map" not in plan.lower()


def _pandas_aov(frames, leak_label: bool) -> pd.DataFrame:
    """Reference-semantics AOV: remap, one-hot, group-max per
    patient-year, pivot the years, final-year label, fill with 0."""
    c = _pandas_cohort(frames["ben"], frames["ip"]).copy()
    codes = []
    for prefix, mapping, cols in (
        ("dx", DX_MAP, [f"ICD9_DGNS_CD_{i}" for i in range(1, 11)]),
        ("pcs", PCS_MAP, [f"ICD9_PRCDR_CD_{i}" for i in range(1, 7)]),
    ):
        ccs = c[cols].apply(lambda s: s.map(mapping))
        for v in sorted(set(mapping.values())):
            c[f"{prefix}_ccs_{v}"] = ccs.eq(v).any(axis=1).astype(int)
            codes.append(f"{prefix}_ccs_{v}")
    clm = pd.to_datetime(c["CLM_FROM_DT"].astype(int).astype(str), format="%Y%m%d")
    birth = pd.to_datetime(c["BENE_BIRTH_DT"], format="%Y%m%d", errors="coerce")
    c["Age"] = (clm - birth).dt.days / 365
    c["sex"] = c["BENE_SEX_IDENT_CD"]
    c["label"] = c["CLM_DRG_CD"].astype(str).isin(["469", "470"]).astype(int)
    values = ["Age", "sex", *codes] + (["label"] if leak_label else [])
    per_year = c.groupby(["DESYNPUF_ID", "Year"])[["Age", "sex", *codes, "label"]].max()
    wide = per_year[values].unstack("Year")
    wide.columns = [f"y{y}_{v}" for v, y in wide.columns]
    wide = wide[[f"y{y}_{v}" for y in YEARS for v in values]]
    final = per_year.xs(YEARS[-1], level="Year")["label"].rename("label")
    return wide.join(final, how="inner").fillna(0).reset_index()


@pytest.mark.parametrize("leak_label", [False, True])
def test_aov_values_match_pandas_oracle(spark, cms, leak_label):
    aov = P.get_aov(spark, cms["dir"], leak_label=leak_label)
    want = _pandas_aov(cms["frames"], leak_label)
    feats = [c for c in aov.columns if c != "split"]
    assert sorted(feats) == sorted(want.columns)
    assert dict(aov.dtypes) == {
        c: "string" if c in ("DESYNPUF_ID", "split")
        else "double" if c.endswith("_Age") else "int"
        for c in aov.columns
    }
    got = aov.toPandas()
    assert set(got["split"]) == {"train", "test"}
    got = got[list(want.columns)].sort_values("DESYNPUF_ID").reset_index(drop=True)
    want = want.sort_values("DESYNPUF_ID").reset_index(drop=True)
    assert len(got) > 10
    pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-12)


def test_aov_features_hand_built_edge_patients(spark):
    """A patient with no final-year row is dropped; one whose final-year
    label is NULL is kept with label 0; NULL labels lose to 1 in the
    final-year max; missing years and NULL features fill with 0."""
    enc = spark.createDataFrame(
        [
            ("A", 2008, 60.0, 1, 1, 0, 0), ("A", 2008, 60.5, 1, 0, 1, 0),
            ("A", 2009, 61.0, 1, 0, 0, 0), ("A", 2010, 62.0, 1, 1, 0, 1),
            ("B", 2008, 40.0, 2, 1, 1, 1), ("B", 2009, 41.0, 2, 1, 1, 0),
            ("C", 2008, 70.0, 2, 0, 1, 0), ("C", 2010, None, 2, 1, 0, None),
            ("D", 2010, 50.0, 1, 0, 0, None), ("D", 2010, 50.2, 1, 0, 1, 1),
        ],
        "DESYNPUF_ID string, Year int, Age double, BENE_SEX_IDENT_CD int, "
        "dx_ccs_1 int, pcs_ccs_2 int, label int",
    )
    blocks = {  # per patient: per year (Age, sex, dx_ccs_1, pcs_ccs_2, label)
        "A": [(60.5, 1, 1, 1, 0), (61.0, 1, 0, 0, 0), (62.0, 1, 1, 0, 1)],
        "C": [(70.0, 2, 0, 1, 0), (0.0, 0, 0, 0, 0), (0.0, 2, 1, 0, 0)],
        "D": [(0.0, 0, 0, 0, 0), (0.0, 0, 0, 0, 0), (50.2, 1, 0, 1, 1)],
    }
    final_label = {"A": 1, "C": 0, "D": 1}
    for leak_label in (False, True):
        width = 5 if leak_label else 4
        out = P.aov_features(enc, [1], [2], leak_label=leak_label)
        names = ["Age", "sex", "dx_ccs_1", "pcs_ccs_2", "label"][:width]
        assert out.columns == (
            ["DESYNPUF_ID"]
            + [f"y{y}_{n}" for y in YEARS for n in names]
            + ["label"]
        )
        assert [t for _, t in out.dtypes] == (
            ["string"] + ["double", "int", "int", "int", "int"][:width] * 3 + ["int"]
        )
        got = {r[0]: tuple(r[1:]) for r in out.collect()}
        assert got == {
            p: tuple(v for b in bs for v in b[:width]) + (final_label[p],)
            for p, bs in blocks.items()
        }


def test_construction_job_budget(spark, cms):
    """Building an entry point runs no more Spark jobs than collecting
    the two cleaned crosswalks once each (budget measured, not fixed)."""
    sc = spark.sparkContext

    def jobs(build) -> int:
        group = f"construct-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def collect_crosswalks():
        t = P.load_cms_tables(spark, cms["dir"])
        P.clean_crosswalk(t["dx"]).collect()
        P.clean_crosswalk(t["pcs"]).collect()

    budget = jobs(collect_crosswalks)
    assert budget > 0
    assert jobs(lambda: P.get_aov(spark, cms["dir"])) <= budget
    assert jobs(lambda: P.get_mhe(spark, cms["dir"])) <= budget
