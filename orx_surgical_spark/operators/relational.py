"""Relational operators (SURVEY §2 B/C/D) as composable DataFrame
transforms.

Each function is a pure ``DataFrame -> DataFrame`` transform built from
JVM-side expressions only (no Python UDFs), so the whole pipeline stays
inside Catalyst/whole-stage codegen and scales by partitioning alone.
Reference sites are cited per function.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# B. Projections / casts / scalar functions
# ---------------------------------------------------------------------------


def drop_null(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Null-drop filter (SURVEY §2-B3; reference ``cms_preprocess.py:75``)."""
    return df.na.drop(subset=list(cols))


def parse_yyyymmdd(col: str | Column) -> Column:
    """Parse a YYYYMMDD int/string into a DateType column (SURVEY §2-B4;
    reference ``pd.to_datetime(format='%Y%m%d')``, ``cms_preprocess.py:79``).
    Invalid inputs become null (matches ``errors='coerce'``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(c.cast("string"), "yyyyMMdd")


def with_year(df: DataFrame, src: str | Column, out: str = "Year") -> DataFrame:
    """Derive a Year column from a date/timestamp (SURVEY §2-B4)."""
    c = F.col(src) if isinstance(src, str) else src
    return df.withColumn(out, F.year(c))


def filter_year_range(df: DataFrame, col: str, start: int, end: int) -> DataFrame:
    """Range predicate (SURVEY §2-B5; reference ``cms_preprocess.py:83``)."""
    return df.filter(F.col(col).between(start, end))


def exclude_early_events(
    df: DataFrame, time_col: str, time_values: Sequence, code_col: str,
    codes: Sequence[str],
) -> DataFrame:
    """Negated conjunction of IN-lists (SURVEY §2-B7): drop rows where
    ``time_col IN time_values AND code_col IN codes`` — the reference's
    'surgery in the first two years' exclusion (``cms_preprocess.py:89``).
    """
    return df.filter(
        ~(F.col(time_col).isin(list(time_values)) & F.col(code_col).isin(list(codes)))
    )


def age_years(later: str | Column, earlier: str | Column) -> Column:
    """Date difference in (365-day) years (SURVEY §2-B8; reference
    ``cms_preprocess.py:96-98``)."""
    a = F.col(later) if isinstance(later, str) else later
    b = F.col(earlier) if isinstance(earlier, str) else earlier
    return F.datediff(a, b) / F.lit(365.0)


def clean_code(col: str | Column) -> Column:
    """ICD-9 code normalization (SURVEY §2-B10/B13): strip surrounding
    quotes, truncate at the first dot, trim whitespace (reference
    ``cms_preprocess.py:118-130``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.substring_index(F.regexp_replace(c, "^'|'$", ""), ".", 1))


def blank_to_sentinel(col: str | Column, sentinel: str = "None") -> Column:
    """Empty/whitespace-only string -> sentinel (SURVEY §2-B12; reference
    ``replace(r'^\\s*$', 'None', regex=True)``, ``cms_preprocess.py:125``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.rlike(r"^\s*$"), F.lit(sentinel)).otherwise(c)


def derive_binary_label(
    col: str | Column, positive_values: Sequence[str], out: str = "label"
) -> Column:
    """Binary label from membership (SURVEY §2-B15; reference
    ``1 if x in ['469','470'] else 0``, ``cms_preprocess.py:202``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isin(list(positive_values)), F.lit(1)).otherwise(F.lit(0)).alias(out)


# ---------------------------------------------------------------------------
# C. Joins
# ---------------------------------------------------------------------------


def dim_fact_join(
    fact: DataFrame, dim: DataFrame, on: str | Sequence[str], how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fact x dimension equi-join (SURVEY §2-C1; reference
    ``pd.merge(ben, ip, on='DESYNPUF_ID')``, ``cms_preprocess.py:69``).

    The dimension side is broadcast by default — at 100 TB the fact table
    must never shuffle for a crosswalk-sized dim. Catalyst/AQE would
    usually pick this, but the hint makes the plan deterministic.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on=on, how=how)


def lookup_join_default(
    df: DataFrame, mapping: DataFrame, key: str, map_key: str, map_value: str,
    out: str, default=0,
) -> DataFrame:
    """Left lookup join with default for misses (SURVEY §2-C3/B14).

    Semantics of the reference's dict probe ``d.get(x, 0)``
    (``cms_preprocess.py:192,195``): broadcast left join against the
    mapping table and ``coalesce`` to the default.
    """
    m = F.broadcast(
        mapping.select(F.col(map_key).alias("__k"), F.col(map_value).alias("__v"))
    )
    joined = df.join(m, df[key] == m["__k"], "left")
    return joined.withColumn(out, F.coalesce(F.col("__v"), F.lit(default))).drop(
        "__k", "__v"
    )


def semi_join(df: DataFrame, keys: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """LEFT SEMI join (SURVEY §2-C4): keep rows whose key appears in
    ``keys`` — the reference's group-qualifying-patient filter
    (``cms_preprocess.py:92-93``)."""
    return df.join(keys, on=on, how="left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """LEFT ANTI join: keep rows whose key does NOT appear in ``keys``
    (NOT EXISTS). Dual of :func:`semi_join`; Catalyst broadcasts the
    key side when small, so the fact table is never shuffled."""
    return df.join(keys, on=on, how="left_anti")


def merge_upsert(
    target: DataFrame, source: DataFrame, on: str | Sequence[str]
) -> DataFrame:
    """SCD-1 MERGE/upsert as a pure DataFrame composition: rows from
    ``source`` win on key collision, unmatched ``target`` rows survive,
    new ``source`` keys are inserted. Equivalent to ``MERGE ... WHEN
    MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`` over a full
    snapshot — one anti-join shuffle plus a union; at lake scale the
    same plan is what Delta/Iceberg execute inside a transactional
    commit."""
    return anti_join(target, source.select(on if isinstance(on, str) else list(on)),
                     on).unionByName(source)


def scd2_upsert(
    history: DataFrame,
    updates: DataFrame,
    key: str,
    value_cols: Sequence[str],
    eff_date,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """SCD-2 MERGE: apply an update snapshot to a slowly-changing-
    dimension HISTORY table (validity intervals; ``valid_to`` NULL =
    current row), the versioned complement of :func:`merge_upsert`.

    Per key:

    - update differs from the current open row -> close it
      (``valid_to = eff_date``) and open a new version;
    - update equals the current row -> unchanged (no spurious version);
    - key absent from updates -> history passes through;
    - brand-new key -> new open row.

    Precondition: ``updates`` is a SNAPSHOT — at most one row per key
    (the usual CDC-compacted form; compact with
    ``latest_event_per_user``-style row_number first if not). The
    full-outer join would otherwise multiply versions.

    Shape at scale: closed history passes through UNTOUCHED (no join —
    at lake scale closed rows dominate and never need rewriting; with a
    partition-on-``valid_to`` layout the pass-through is pure file
    reuse); one full-outer join of the open slice with the update
    snapshot on the key + a union. ``eff_date`` is a literal Column /
    python value, the batch's effective date.
    """
    eff = F.lit(eff_date)
    is_open = F.col(to_col).isNull()
    open_rows = history.where(is_open)
    closed_rows = history.where(~is_open)

    u = updates.select(
        F.col(key).alias("__k"),
        *[F.col(c).alias(f"__u_{c}") for c in value_cols],
    )
    j = open_rows.join(u, open_rows[key] == u["__k"], "full_outer")
    changed = F.col("__k").isNotNull() & F.col(key).isNotNull() & (
        ~F.struct(*[F.col(c) for c in value_cols]).eqNullSafe(
            F.struct(*[F.col(f"__u_{c}") for c in value_cols])
        )
    )
    # surviving prior versions: untouched keys + now-closed old rows
    kept_open = j.where(F.col(key).isNotNull()).select(
        key,
        *value_cols,
        F.col(from_col),
        F.when(changed, eff.cast("date")).otherwise(F.col(to_col)).alias(to_col),
    )
    # new versions: changed keys + brand-new keys
    new_rows = j.where(
        changed | (F.col(key).isNull() & F.col("__k").isNotNull())
    ).select(
        F.col("__k").alias(key),
        *[F.col(f"__u_{c}").alias(c) for c in value_cols],
        eff.cast("date").alias(from_col),
        F.lit(None).cast("date").alias(to_col),
    )
    return closed_rows.select(
        key, *value_cols, from_col, to_col
    ).unionByName(kept_open).unionByName(new_rows)



# ---------------------------------------------------------------------------
# D. Aggregations / grouping
# ---------------------------------------------------------------------------


def group_max(df: DataFrame, keys: Sequence[str], cols: Sequence[str]) -> DataFrame:
    """Group-by MAX over many columns (SURVEY §2-D1; reference
    ``groupby([...])[cols].agg('max')``, ``cms_preprocess.py:286``).
    Hash aggregate with map-side partials — one shuffle on the keys."""
    return df.groupBy(*keys).agg(*[F.max(c).alias(c) for c in cols])


def full_enrollment_filter(
    df: DataFrame, key: str, period_col: str, periods: Sequence
) -> DataFrame:
    """D2 + C4 composed: keep all rows of keys covering every period.

    Single-shuffle form (r10; VERDICT r9 item 3): ONE window over
    ``partitionBy(key)`` computes ``size(collect_set(period in
    window))`` next to every row, and the filter keeps rows whose key
    covers all ``len(set(periods))`` periods. The previous
    groupBy-countDistinct + left-semi composition exchanged the input
    twice (partial-distinct on (key, period), then final on key) and
    additionally broadcast the qualifying-key set — which at 100 TB is
    a customers-sized table, not a dim, so the broadcast either OOMs
    or degrades to a third (sort-merge) exchange. The window form is
    one exchange on ``key``, no key-set materialization, identical
    output rows. Per-partition window state is the distinct period set
    (bounded by ``len(periods)``), not the row buffer — collect_set
    over an unbounded frame aggregates without sorting.
    """
    lo, hi = min(periods), max(periods)
    in_window = F.when(F.col(period_col).between(lo, hi), F.col(period_col))
    w = Window.partitionBy(key)
    return (
        df.withColumn("__np", F.size(F.collect_set(in_window).over(w)))
        .filter(F.col("__np") == len(set(periods)))
        .drop("__np")
    )


def distinct_values(df: DataFrame, col: str) -> DataFrame:
    """Distinct values of one column (SURVEY §2-D3; reference
    ``df['CCS'].unique()``, ``cms_preprocess.py:159,167``)."""
    return df.select(col).distinct()


# ---------------------------------------------------------------------------
# E5 / top-k, window utilities
# ---------------------------------------------------------------------------


def top_k(
    df: DataFrame, order_col: str, k: int, ascending: bool = False,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Sort + limit (SURVEY §2-E5; reference ``sort_values(...).iloc[:rows]``,
    ``cms_preprocess.py:313-314``). Executes as TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver; no full sort,
    no full shuffle, safe at any scale.

    ``tiebreak`` keys make the surviving row *set* deterministic (SURVEY
    §7 risk 2 — the reference's pick of negatives is tie-order dependent).
    """
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    order += [F.col(c).asc() for c in tiebreak]
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame, group_cols: Sequence[str], order_col: str, k: int,
    ascending: bool = False, tiebreak: Sequence[str] = (), rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number window — the standard OLAP
    pattern (beyond-reference tier). One shuffle on the group keys."""
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    order += [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


# ---------------------------------------------------------------------------
# Skew handling
# ---------------------------------------------------------------------------


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Skew-safe equi-join: salt the fact side's key with a random
    bucket and replicate the (moderate-sized) other side across all
    buckets, so one hot key spreads over ``n_salts`` tasks instead of
    one straggler.

    AQE's skew-join split (enabled in session.py) handles most skew at
    runtime; explicit salting is for the pathological keys AQE can't
    split (e.g. a single key holding >1 executor's memory of rows on
    the build side).  The replicated side grows ``n_salts``x — keep it
    the smaller input.
    """
    salted_fact = fact.withColumn(
        "__salt", (F.rand(seed) * n_salts).cast("int")
    )
    replicated = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_fact.join(replicated, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def skew_key_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
    target_rows_per_task: int = 2048,
) -> DataFrame:
    """Join-key skew profiler: the diagnostic you run BEFORE deciding
    whether a 100 TB join needs :func:`salted_join`. Emits the
    ``top_k`` hottest keys with their exact count, share of all rows,
    skew ratio (count / mean-per-key), and the salt fan-out that would
    bound each key's bucket at ``target_rows_per_task`` rows.

    Shape at scale: one map-side-combined count aggregate produces the
    |keys|-row count table; it is referenced twice (global stats + the
    top-k), so it is lazily ``localCheckpoint``-ed (DISK_ONLY, fires on
    first action) instead of re-shuffling the corpus. The global stats
    are a one-row aggregate collected to the driver; the top-k is
    orderBy+limit => TakeOrderedAndProject, never a global sort.

    Determinism: counts are exact integers; the ranking key
    (cnt DESC, key ASC) is total; ``target_rows_per_task`` defaults to
    a power of two so ``cnt / target`` divides exactly in binary and
    ``ceil`` has no float-boundary ambiguity.
    """
    from pyspark.storagelevel import StorageLevel

    counts = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    n_keys, n_rows = counts.agg(
        F.count(F.lit(1)), F.sum("cnt").cast("bigint")
    ).first()
    mean_per_key = n_rows / n_keys
    return (
        counts.orderBy(F.desc("cnt"), F.asc(key_col))
        .limit(top_k)
        .select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.lit(float(n_rows)), 6).alias("share"),
            F.round(F.col("cnt") / F.lit(mean_per_key), 4).alias("skew_ratio"),
            F.ceil(F.col("cnt") / F.lit(float(target_rows_per_task)))
            .cast("int")
            .alias("n_salts"),
        )
    )
