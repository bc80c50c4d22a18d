"""Encoder / reshape operators (SURVEY §2-E) — the reference's
signature operators re-expressed as distributed DataFrame transforms.

The reference builds its encodings with per-row Python loops over dense
NumPy buffers (``cms_preprocess.py:232-234`` — O(n·|vocab|) binarize
loop; ``cms_preprocess.py:329-336`` — the (366, 516) day-of-year
scatter).  Here every encoding is either a JVM-side expression pipeline
or an MLlib estimator, and the MHE tensor is never materialized dense:
a sample is the *set of active flat indices* ``(day_of_year - 1) *
|vocab| + category_index`` (SURVEY §2-E4), ~366× smaller than the dense
tensor and the only representation that survives 100 TB.

Splits (SURVEY §2-E7) come in two tiers:

- **hash splits** — deterministic md5-bucket assignment, reproducible
  across engines and runs with no seed state, the idiom for
  train/test-splitting a 100 TB corpus (and DuckDB-oracle-checkable);
- **seeded random splits** — ``sampleBy`` parity with the reference's
  ``train_test_split(random_state=42)`` (``cms_preprocess.py:364``).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# E1 prep / B17: wide repeated-code columns -> one array column.
# ---------------------------------------------------------------------------


def collect_code_array(
    df: DataFrame, code_cols: Sequence[str], out: str = "codes"
) -> DataFrame:
    """Collapse wide code columns (ICD9_DGNS_CD_1..10 style) into one
    null-free array column — the idiomatic layout for the reference's
    wide claims schema (SURVEY §1.3) and the input to E1 vectorization.
    """
    arr = F.array(*[F.col(c) for c in code_cols])
    return df.withColumn(out, F.filter(arr, lambda x: x.isNotNull()))


def binary_occurrence_vectors(
    df: DataFrame, codes_col: str, out: str = "features", vocab_size: int = 1 << 12
):
    """E1 multi-hot occurrence encoding, sparse-vector tier.

    Replaces the reference's O(n·|vocab|) ``np.isin`` row loop
    (``cms_preprocess.py:209-236``) with ``CountVectorizer(binary=True)``
    — fit finds the vocabulary distributed, transform emits
    ``SparseVector`` rows.  Returns ``(model, transformed_df)``; the
    fitted ``model.vocabulary`` is the D3 vocabulary.
    """
    from pyspark.ml.feature import CountVectorizer

    cv = CountVectorizer(
        inputCol=codes_col, outputCol=out, binary=True, vocabSize=vocab_size
    )
    model = cv.fit(df)
    return model, model.transform(df)


# ---------------------------------------------------------------------------
# E2: feature block assembly.
# ---------------------------------------------------------------------------


def assemble_features(
    df: DataFrame, cols: Sequence[str], out: str = "features"
) -> DataFrame:
    """E2 block assembly (reference ``create_code_dataframe``,
    ``cms_preprocess.py:239-264``): concatenate numeric/vector blocks
    into one ``features`` vector via ``VectorAssembler`` — the blocks
    are columns of one DataFrame, so alignment is structural (no
    horizontal concat of parallel frames, SURVEY §2-B17)."""
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=list(cols), outputCol=out).transform(df)


# ---------------------------------------------------------------------------
# E4: multi-hot day-of-year encoding, sparse from day one.
# ---------------------------------------------------------------------------


def category_index_map(df: DataFrame, cat_col: str) -> tuple[Column, int]:
    """Deterministic category -> index mapping (sorted distinct values).

    The vocabulary is encoder state (like ``CountVectorizer.vocabulary``,
    SURVEY §2-D3): it is collected to the driver only to *size* the
    encoding, then shipped back as a broadcast map literal.
    """
    values = [r[0] for r in df.select(cat_col).distinct().orderBy(cat_col).collect()]
    mapping = F.create_map(
        *[x for i, v in enumerate(values) for x in (F.lit(v), F.lit(i))]
    )
    return F.element_at(mapping, F.col(cat_col)), len(values)


def mhe_flat_index(doy: Column, cat_idx: Column, n_cats: int) -> Column:
    """The E4 scatter as pure arithmetic: flat index ``(doy - 1) *
    n_cats + cat_idx`` into the (366, n_cats) grid (reference scatter
    loop ``cms_preprocess.py:329-336``)."""
    return ((doy - F.lit(1)) * F.lit(n_cats) + cat_idx).cast("int")


def mhe_sparse_indices(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    cat_col: str,
    out: str = "mhe_idx",
) -> tuple[DataFrame, int]:
    """E4 MHE encoding as (key, flat_index) rows — the exploded sparse
    representation.  One projection + one distinct; never dense.

    Returns ``(df, n_cats)`` where ``df`` has ``key_cols + [out]`` and
    one row per active cell of the (366, n_cats) grid.
    """
    cat_idx, n_cats = category_index_map(df, cat_col)
    doy = F.dayofyear(F.col(ts_col))
    return (
        df.select(*key_cols, mhe_flat_index(doy, cat_idx, n_cats).alias(out))
        .distinct(),
        n_cats,
    )


def mhe_sparse_vectors(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    cat_col: str,
    out: str = "features",
) -> DataFrame:
    """E4 MHE encoding, model-ready tier: one ``SparseVector(366 *
    n_cats)`` per key.  groupBy collects the active index set (shuffle
    on the keys only); an Arrow-batched pandas UDF packs indices into
    ``SparseVector`` — the single Python step, amortized per batch.
    """
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql.pandas.functions import pandas_udf

    idx_df, n_cats = mhe_sparse_indices(df, key_cols, ts_col, cat_col, out="__idx")
    size = 366 * n_cats

    # VectorUDT serializes as its struct fields through Arrow, so the
    # batched packer emits (type=0 sparse, size, indices, values) columns.
    @pandas_udf(VectorUDT())
    def pack(indices: pd.Series) -> pd.DataFrame:
        sorted_ix = [sorted(int(i) for i in ix) for ix in indices]
        return pd.DataFrame(
            {
                "type": [0] * len(sorted_ix),
                "size": [size] * len(sorted_ix),
                "indices": sorted_ix,
                "values": [[1.0] * len(ix) for ix in sorted_ix],
            }
        )

    grouped = idx_df.groupBy(*key_cols).agg(F.collect_set("__idx").alias("__ix"))
    return grouped.withColumn(out, pack(F.col("__ix"))).drop("__ix")


# ---------------------------------------------------------------------------
# E7: splits.
# ---------------------------------------------------------------------------


def hash_fraction(key: Column | str) -> Column:
    """Deterministic uniform-ish fraction in [0, 1) from the md5 of a
    key — 16 bits of the digest over 65536.  Engine-independent (same
    value in DuckDB/Spark/anything with md5), seedless, reproducible
    under repartitioning: the basis of all deterministic splits here.
    """
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(c.cast("string").cast("binary"))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int") / F.lit(65536.0)


def hash_split(
    df: DataFrame, key: str, weights: dict[str, float], out: str = "split"
) -> DataFrame:
    """E7 deterministic split: assign each row a split name by md5
    bucket of its key.  ``weights`` values must sum to ~1.  Pure
    projection — no shuffle, no state, stable at any scale."""
    frac = hash_fraction(key)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        cond = frac < F.lit(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out, expr)


def stratified_split_exact(
    df: DataFrame,
    label_col: str,
    key: str,
    train_frac: float = 0.8,
    out: str = "split",
) -> DataFrame:
    """E7 exact-proportion stratified split: within each label, order by
    ``(md5(key), key)`` (deterministic, uniform) and take the first
    ``ceil(train_frac * n)`` rows as train.  Reproduces the reference's
    ``train_test_split(stratify=y)`` proportions exactly
    (``cms_preprocess.py:364-365``) without seed state or
    parallel-array alignment bugs (SURVEY §7 risk: E7).  Output columns:
    ``label_col``, the other input columns in order, then ``out``.

    Scale shape: the plan references the input three times and never
    shuffles its rows (a ``row_number() over (partition by label)``
    would sort everything into |labels| straggler tasks):

    1. a (label, 16-bit md5 bucket) histogram, ≤ 65536 rows per label,
       whose running count finds each label's boundary bucket (the one
       holding the ``ceil(frac*n)``-th row) and the rank ``r`` in it;
    2. the ~n/65536 rows per label inside that bucket, sorted per label,
       give the cut: the r-th ``(md5, key)``, i.e. the last train row;
    3. main rows are classified by one broadcast join of the per-label
       (boundary bucket, cut) and one projection: train iff the bucket
       is below the boundary, or equal to it and ``(md5, key) <= cut``.

    A union of a projected branch and a rank-window branch held the
    input six times: on perfbench's ``cms_features`` inputs (seed 7,
    4 cores) writing ``get_aov`` scanned ``ip.csv`` 6 times in 13-14
    jobs / 28-32 stages, against 3 times in 10 jobs / 20 stages here.

    NULL labels form their own stratum, as in the DuckDB oracle's
    ``PARTITION BY label``.  The null-safe joins that needs are used
    only when the label column is nullable; a non-null label keeps
    plain equi-joins, which hold less JVM heap.  Every input row is
    output exactly once, and all rows sharing a key (duplicates, or NULL
    keys, which rank after every other key) share a split: when copies
    straddle the cut they all go to train, so a label's train count can
    exceed ``ceil(frac*n)`` by fewer than that key's copies.
    """
    h = F.md5(F.col(key).cast("string").cast("binary"))
    bucket = F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
    d = df.withColumn("__h", h).withColumn("__b", F.coalesce(bucket, F.lit(65536)))
    narrow = d.select(label_col, "__b", F.struct("__h", key).alias("__o"))
    same_label = (
        F.col(label_col).eqNullSafe(F.col("__l"))
        if df.schema[label_col].nullable
        else F.col(label_col) == F.col("__l")
    )

    # Histogram, running count and per-label take in one window pass;
    # the boundary bucket is the one row per label where the take falls.
    w = Window.partitionBy(label_col).orderBy("__b")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c, cum, take = F.col("__c"), F.col("__cum"), F.col("__take")
    bound = (
        narrow.groupBy(label_col, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(
            label_col, "__b", "__c",
            F.sum("__c").over(w).alias("__cum"),
            F.ceil(F.sum("__c").over(whole) * F.lit(train_frac)).alias("__take"),
        )
        .where((cum - c < take) & (take <= cum))
        .select(
            F.col(label_col).alias("__l"),
            F.col("__b").alias("__bstar"),
            (take - (cum - c)).cast("int").alias("__r"),
        )
    )
    # The cut: the r-th (md5, key) among the boundary bucket's rows.
    cut = (
        narrow.join(F.broadcast(bound), same_label & (F.col("__b") == F.col("__bstar")))
        .groupBy("__l", "__bstar", "__r")
        .agg(F.element_at(F.sort_array(F.collect_list("__o")), F.col("__r")).alias("__cut"))
    )
    below = F.col("__b") < F.col("__bstar")
    at_cut = (F.col("__b") == F.col("__bstar")) & (F.struct("__h", key) <= F.col("__cut"))
    rest = [name for name in df.columns if name not in (label_col, out)]
    return d.join(F.broadcast(cut), same_label, "left").select(
        label_col, *rest,
        F.when(below | at_cut, F.lit("train")).otherwise(F.lit("test")).alias(out),
    )


def stratified_sample_split(
    df: DataFrame, label_col: str, key: str, train_frac: float = 0.8, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """E7 seeded stratified split, reference-parity tier:
    ``sampleBy(label, fractions, seed)`` for train, left-anti join on
    the row key for the test complement.  Proportions are approximate
    (Bernoulli), like the reference's shuffled split across reruns.
    The anti-join keys on ``key`` only — never the full row."""
    labels = [r[0] for r in df.select(label_col).distinct().collect()]
    train = df.sampleBy(label_col, {l: train_frac for l in labels}, seed=seed)
    test = df.join(train.select(key), on=key, how="left_anti")
    return train, test


def mixture_sample(
    df: DataFrame, group_col: str, key: str
) -> tuple[DataFrame, DataFrame]:
    """Deterministic source-mixture rebalancing: downsample every group
    to the size of the smallest so the output mixture is uniform across
    ``group_col`` — the data-mixing step of a pretraining pipeline,
    seedless and reproducible under any partitioning (keep a row iff
    its :func:`hash_fraction` falls below the group's weight).

    Returns ``(sampled_rows, weights)`` where ``weights`` has one row
    per group: ``(group, __n, __w)``.  The weight table is one tiny
    aggregate (|groups| rows) broadcast back onto the fact side — the
    fact table itself is never shuffled, so the whole rebalance is a
    scan + broadcast-join + filter at any scale.
    """
    from pyspark.sql import Window as W

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    weights = counts.withColumn(
        "__w",
        F.min("__n").over(W.partitionBy()) / F.col("__n"),
    )
    sampled = df.join(F.broadcast(weights), group_col).where(
        hash_fraction(key) < F.col("__w")
    )
    return sampled, weights
