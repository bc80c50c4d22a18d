"""The CMS claims pipeline — the reference's two entry points
(``get_aov``, ``get_mhe``; ``cms_preprocess.py:346-397``) as one lazy
DataFrame plan each.

Every stage composes the operator library and stays JVM-side; the only
jobs at construction are one collect per cleaned crosswalk, and the rest
is lazy until an action fires (the reference executes eagerly stage by
stage, SURVEY §3).  Differences by design (SURVEY §7):

- **E3 pivot, not positional flatten** — the reference flattens each
  patient's yearly rows in groups of 3 *by position*
  (``cms_preprocess.py:291-293``), which is undefined on unordered
  partitions and leaks the label into the features (its models report
  AUC 1.0, ``ml_models.ipynb:193 (cell 3)``).  Here years pivot
  explicitly and ``leak_label`` (default False) controls reproducing
  the leak for parity studies.
- **MHE never dense** — a sample is its active flat indices
  ``(dayofyear - 1) * |vocab| + vocab_idx`` (SURVEY §2-E4), not a
  (366, 516) float tensor.
- **Splits are deterministic** — md5-hash stratified splits replace
  seeded parallel-array ``train_test_split`` (alignment is structural:
  key + features + dv + label live in one row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from orx_surgical_spark import schemas as S
from orx_surgical_spark.operators import relational as R
from orx_surgical_spark.operators.encoders import stratified_split_exact
from orx_surgical_spark.sources.readers import read_csv

SURGERY_DRGS = ("469", "470")  # device-intensive DRGs (cms_preprocess.py:202)


# ---------------------------------------------------------------------------
# Stage 1: scans (reference load_tables, cms_preprocess.py:26-51)
# ---------------------------------------------------------------------------


def load_cms_tables(spark: SparkSession, data_dir: str) -> dict[str, DataFrame]:
    """A1 CSV scans with declared schemas (the reference's ``usecols``
    projection is the declared schema itself here)."""
    return {
        "ben": read_csv(spark, f"{data_dir}/ben.csv", S.BEN_SCHEMA),
        "ip": read_csv(spark, f"{data_dir}/ip.csv", S.IP_SCHEMA),
        "pde": read_csv(spark, f"{data_dir}/pde.csv", S.PDE_SCHEMA),
        "dx": read_csv(spark, f"{data_dir}/dx.csv", S.CROSSWALK_RAW_SCHEMA),
        "pcs": read_csv(spark, f"{data_dir}/pcs.csv", S.CROSSWALK_RAW_SCHEMA),
    }


# ---------------------------------------------------------------------------
# Stage 2: cohort (reference get_arthritis_patient_data,
# cms_preprocess.py:54-101)
# ---------------------------------------------------------------------------


def arthritis_cohort(
    ben: DataFrame,
    ip: DataFrame,
    start_year: int = 2008,
    end_year: int = 2010,
    surgery_drgs: tuple[str, ...] = SURGERY_DRGS,
) -> DataFrame:
    """B2-B8 + C1 + D2/C4 composed, in the reference's order:

    join -> claim-date cast/null-drop -> Year -> study-window filter ->
    arthritis filter -> early-surgery exclusion -> full-enrollment
    semi-join -> Age derive -> drop SP_RA_OA.  One lazy plan; the only
    shuffles are the ben join (broadcast) and the enrollment aggregate.
    """
    merged = R.dim_fact_join(ip, ben, on="DESYNPUF_ID")  # C1; ben is the dim
    merged = merged.withColumn(
        "CLM_FROM_DT", F.col("CLM_FROM_DT").cast("bigint")
    )  # B2: null-on-error cast
    merged = R.drop_null(merged, ["CLM_FROM_DT"])  # B3
    merged = merged.withColumn("__clm_date", R.parse_yyyymmdd("CLM_FROM_DT"))
    merged = R.with_year(merged, "__clm_date", "Year")  # B4
    merged = R.filter_year_range(merged, "Year", start_year, end_year)  # B5
    merged = merged.filter(F.col("SP_RA_OA") == 1)  # B6
    merged = R.exclude_early_events(  # B7: no surgery in the first 2 years
        merged, "Year", [start_year, start_year + 1], "CLM_DRG_CD",
        list(surgery_drgs),
    )
    merged = R.full_enrollment_filter(  # D2 + C4
        merged, "DESYNPUF_ID", "Year", list(range(start_year, end_year + 1))
    )
    merged = merged.withColumn(  # B8
        "Age", R.age_years("__clm_date", R.parse_yyyymmdd("BENE_BIRTH_DT"))
    )
    return merged.drop("SP_RA_OA")  # B1


# ---------------------------------------------------------------------------
# Stage 3: crosswalks (reference process_diagnosis_and_procedure_tables,
# cms_preprocess.py:135-169)
# ---------------------------------------------------------------------------


def clean_crosswalk(raw: DataFrame) -> DataFrame:
    """B10-B13 cleanup of a raw quoted crosswalk -> (ICD9, CCS int).

    Duplicate ICD9 keys keep the max CCS (deterministic; the reference's
    ``dict(zip(...))`` keeps the *last file row* — order is undefined in
    a distributed read, so the tie rule is declared instead).
    """
    code_raw, ccs_raw = raw.columns[0], raw.columns[1]
    code = R.blank_to_sentinel(R.clean_code(F.col(f"`{code_raw}`")))  # B10/B12/B13
    ccs = R.clean_code(F.col(f"`{ccs_raw}`")).cast("int")
    return (
        raw.select(code.alias("ICD9"), ccs.alias("CCS"))  # B11 rename
        .filter(F.col("CCS").isNotNull())
        .groupBy("ICD9")
        .agg(F.max("CCS").alias("CCS"))
    )


def crosswalk_vocab(xwalk: DataFrame) -> list[int]:
    """D3: the sorted distinct CCS vocabulary (sizes the encoders, like
    ``CountVectorizer.vocabulary``).  One collect of the crosswalk."""
    return _vocab(xwalk.collect())


def _vocab(rows: list[Row]) -> list[int]:
    return sorted({r["CCS"] for r in rows})


# ---------------------------------------------------------------------------
# Stage 4: remap + label (reference split_data, cms_preprocess.py:172-206)
# ---------------------------------------------------------------------------


def remap_and_label(
    claims: DataFrame,
    dx_xwalk: DataFrame,
    pcs_xwalk: DataFrame,
    surgery_drgs: tuple[str, ...] = SURGERY_DRGS,
    map_literal_max: int = 1000,
) -> DataFrame:
    """C3/B14 dict-remap of the 16 wide code columns (unknown -> 0) +
    B15 label.

    Each crosswalk is collected once.  Up to ``map_literal_max`` rows
    (ICD-9 CCS: hundreds) it ships as a map literal, and the remaps plus
    the label are ONE ``withColumns`` projection: no joins, no shuffle
    (the reference's ``applymap`` dict probe,
    ``cms_preprocess.py:192,195``).  Above it (think ICD-10, ~70k codes)
    a map literal would paste a multi-MB Catalyst expression into every
    column, so that crosswalk's columns take one broadcast hash join
    each; the hash table broadcasts ONCE (identical exchanges reused).
    Perfbench ``cms.remap.jobs`` at seed 7: 2, against 10 with a
    ``count()`` and a ``collect()`` per crosswalk.
    """
    return _remap_and_label(claims, [
        (dx_xwalk, dx_xwalk.collect(), S.DGNS_COLS),
        (pcs_xwalk, pcs_xwalk.collect(), S.PRCDR_COLS),
    ], surgery_drgs, map_literal_max)


def _remap_and_label(
    claims: DataFrame,
    xwalks: list[tuple[DataFrame, list[Row], list[str]]],
    surgery_drgs: tuple[str, ...] = SURGERY_DRGS,
    map_literal_max: int = 1000,
) -> DataFrame:
    """:func:`remap_and_label` on collected ``(frame, rows, columns)``."""
    out, exprs = claims, {}
    for xwalk, rows, cols in xwalks:
        if len(rows) <= map_literal_max:
            m = F.create_map(
                *[F.lit(x) for r in rows for x in (r["ICD9"], r["CCS"])]
            )
            for c in cols:
                exprs[c] = F.coalesce(F.element_at(m, F.col(c)), F.lit(0))
            continue
        lut = F.broadcast(
            xwalk.select(F.col("ICD9").alias("__k"), F.col("CCS").alias("__v"))
        )
        for c in cols:
            out = (
                out.join(lut, out[c] == lut["__k"], "left")
                .withColumn(c, F.coalesce("__v", F.lit(0)))
                .drop("__k", "__v")
            )
    exprs["label"] = R.derive_binary_label("CLM_DRG_CD", list(surgery_drgs))
    return out.withColumns(exprs)


# ---------------------------------------------------------------------------
# Stage 5: occurrence encoding (reference binarize_categorical_columns +
# create_code_dataframe, cms_preprocess.py:209-264)
# ---------------------------------------------------------------------------


def occurrence_columns(
    df: DataFrame, dx_vocab: list[int], pcs_vocab: list[int]
) -> DataFrame:
    """E1/E2: one binary column per vocabulary category — ``dx_ccs_<c>``
    / ``pcs_ccs_<c>`` (the reference's ``Diagnosis Code i`` /
    ``Procedure Code i`` headers, ``cms_preprocess.py:239-264``).

    Pure projection: ``|vocab|`` array_contains expressions over the two
    collected code arrays — no explode/pivot shuffle; at reference scale
    (516 columns) prefer the sparse tier
    (:func:`orx_surgical_spark.operators.encoders.binary_occurrence_vectors`).
    """
    dx_arr = F.array(*[F.col(c) for c in S.DGNS_COLS])
    pcs_arr = F.array(*[F.col(c) for c in S.PRCDR_COLS])
    keep = [c for c in df.columns if c not in S.DGNS_COLS + S.PRCDR_COLS]
    cols = [
        F.array_contains(dx_arr, F.lit(v)).cast("int").alias(f"dx_ccs_{v}")
        for v in dx_vocab
    ] + [
        F.array_contains(pcs_arr, F.lit(v)).cast("int").alias(f"pcs_ccs_{v}")
        for v in pcs_vocab
    ]
    return df.select(*keep, *cols)


# ---------------------------------------------------------------------------
# Stage 6: AOV (reference aggregate_occurrence_vector_encoding,
# cms_preprocess.py:267-297)
# ---------------------------------------------------------------------------


def aov_features(
    encoded: DataFrame,
    dx_vocab: list[int],
    pcs_vocab: list[int],
    years: tuple[int, ...] = (2008, 2009, 2010),
    leak_label: bool = False,
) -> DataFrame:
    """D1 group-max per patient-year, years laid out explicitly: one row
    per patient, ``y<year>_<col>`` = max ``col`` over its rows in that
    year for [Age, sex, codes] x len(years), ``label`` = max label over
    its final-year rows.  Kept iff it has a final-year row (even with a
    NULL label); NULLs and missing years fill with 0.  ``leak_label=True``
    also keeps the per-year labels as features — the reference's leakage
    (SURVEY §2-E3), for parity studies only.  ONE aggregate per patient
    (perfbench ``cms.aov``, seed 7, vocab 8 + 4: construction 0.96 ->
    0.51 s, 12 -> 10 jobs against group + pivot + rename + self-join).
    """
    code_cols = [f"dx_ccs_{v}" for v in dx_vocab] + [
        f"pcs_ccs_{v}" for v in pcs_vocab
    ]
    values = {"Age": "Age", "sex": "BENE_SEX_IDENT_CD"}
    values.update({c: c for c in code_cols + ["label"] * leak_label})
    final = F.col("Year") == years[-1]
    per_year = [
        F.max(F.when(F.col("Year") == y, F.col(c))).alias(f"y{y}_{name}")
        for y in years for name, c in values.items()
    ]
    return (
        encoded.groupBy("DESYNPUF_ID")
        .agg(*per_year, F.max(F.when(final, F.col("label"))).alias("label"),
             F.bool_or(final).alias("__final"))
        .filter("__final").drop("__final").na.fill(0)
    )


# ---------------------------------------------------------------------------
# Stage 7: MHE (reference multi_hot_encoding, cms_preprocess.py:300-342)
# ---------------------------------------------------------------------------


def mhe_samples(
    encoded: DataFrame,
    dx_vocab: list[int],
    pcs_vocab: list[int],
    rows: int | None = None,
) -> DataFrame:
    """E5 rebalance + B16 day-of-year + E4 sparse MHE per claim sample.

    Output: one row per claim with ``mhe_idx: array<int>`` — the active
    cells of the virtual (366, |vocab|) grid at flat index
    ``(dayofyear - 1) * |vocab| + vocab_position`` (exactly one nonzero
    day-row per claim, reference scatter ``cms_preprocess.py:329-336``)
    — plus dv [Age, sex] and the label.  The dense tensor never exists.
    """
    n_cats = len(dx_vocab) + len(pcs_vocab)
    code_cols = [f"dx_ccs_{v}" for v in dx_vocab] + [
        f"pcs_ccs_{v}" for v in pcs_vocab
    ]
    df = encoded
    if rows is not None:
        # E5: keep all positives, fill with negatives; deterministic
        # tiebreak (SURVEY §7 risk 2).
        df = df.orderBy(
            F.col("label").desc(), F.col("DESYNPUF_ID"), F.col("CLM_ID")
        ).limit(rows)
    doy = F.dayofyear(R.parse_yyyymmdd("CLM_FROM_DT"))
    active = F.array(
        *[F.when(F.col(c) == 1, F.lit(i)) for i, c in enumerate(code_cols)]
    )
    flat = F.transform(
        F.filter(active, lambda x: x.isNotNull()),
        lambda i: ((doy - 1) * n_cats + i).cast("int"),
    )
    return df.select(
        "DESYNPUF_ID",
        "CLM_ID",
        flat.alias("mhe_idx"),
        F.col("Age").cast("float").alias("dv_age"),
        F.col("BENE_SEX_IDENT_CD").cast("float").alias("dv_sex"),
        "label",
    )


# ---------------------------------------------------------------------------
# Entry points (reference get_aov / get_mhe, cms_preprocess.py:346-397)
# ---------------------------------------------------------------------------


def _prepare(spark: SparkSession, data_dir: str, **cohort_kw):
    t = load_cms_tables(spark, data_dir)
    cohort = arthritis_cohort(t["ben"], t["ip"], **cohort_kw)
    dx, pcs = clean_crosswalk(t["dx"]), clean_crosswalk(t["pcs"])
    dx_rows, pcs_rows = dx.collect(), pcs.collect()  # the only jobs
    dx_vocab, pcs_vocab = _vocab(dx_rows), _vocab(pcs_rows)
    remapped = _remap_and_label(
        cohort, [(dx, dx_rows, S.DGNS_COLS), (pcs, pcs_rows, S.PRCDR_COLS)]
    )
    encoded = occurrence_columns(remapped, dx_vocab, pcs_vocab)
    return encoded, dx_vocab, pcs_vocab


def get_aov(
    spark: SparkSession,
    data_dir: str,
    train_frac: float = 0.8,
    leak_label: bool = False,
    years: tuple[int, ...] = (2008, 2009, 2010),
) -> DataFrame:
    """Entry point 1 (``cms_preprocess.py:346-367``): the classical-ML
    feature table, one row per patient, with a deterministic stratified
    ``split`` column (train/test) instead of parallel arrays."""
    encoded, dx_vocab, pcs_vocab = _prepare(
        spark, data_dir, start_year=years[0], end_year=years[-1]
    )
    aov = aov_features(encoded, dx_vocab, pcs_vocab, years, leak_label)
    return stratified_split_exact(aov, "label", "DESYNPUF_ID", train_frac)


def get_mhe(
    spark: SparkSession,
    data_dir: str,
    rows: int | None = None,
    train_frac: float = 0.8,
    years: tuple[int, ...] = (2008, 2009, 2010),
) -> DataFrame:
    """Entry point 2 (``cms_preprocess.py:371-397``): sparse MHE samples
    with dv and label, one row per claim, with the stratified split
    column (features + dv + label aligned structurally)."""
    encoded, dx_vocab, pcs_vocab = _prepare(
        spark, data_dir, start_year=years[0], end_year=years[-1]
    )
    mhe = mhe_samples(encoded, dx_vocab, pcs_vocab, rows)
    return stratified_split_exact(mhe, "label", "CLM_ID", train_frac)
