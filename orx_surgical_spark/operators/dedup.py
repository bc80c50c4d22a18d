"""Deduplication operators (beyond-reference tier, SURVEY §2-H).

Four tiers, cheapest first — the standard large-corpus dedup ladder:

1. **Exact** — hash of normalized text, one hash aggregate. O(n).
2. **Fingerprint** — md5 of the sorted distinct token set (word-order
   insensitive). O(n).
3. **MinHash + LSH banding** — k per-token min-hashes, banded into
   b band keys; docs sharing any band key are candidate pairs. The
   self-join is on band keys (tiny groups), never all-pairs. O(n) + a
   band-key shuffle — this is the 100 TB path.
4. **N-gram Jaccard verification** — exact shingle-set Jaccard on the
   candidate pairs only (or, at test scale, on blocked all-pairs as the
   oracle baseline).

Every hash is md5-based and therefore engine-independent — the same
signatures are computable in ANSI SQL, which keeps all four tiers
DuckDB-oracle-checkable (unlike Spark's built-in ``hash()``/
``MinHashLSH``, which are seeded JVM-specific). A SimHash variant and
the MLlib ``MinHashLSH`` wrapper are provided as well.
"""

from __future__ import annotations

import hashlib
import re

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orx_surgical_spark.operators.text import normalized_text, shingles, tokens

# ---------------------------------------------------------------------------
# Arrow (mapInArrow) text kernels
#
# The shingle + md5 pipeline is the single hottest expression chain in
# the dedup tier (measured at sf3: ~4.8 s/corpus-pass for the shingle
# chain alone; the banded md5 pass put minhash_candidates at 8.6 s).
# Catalyst evaluates it as split + sequence + transform + slice +
# array_join + array_distinct + per-shingle md5 — codegen'd, but
# allocation-heavy row-at-a-time JVM work. The guide's §4.2 pattern
# (hand whole Arrow batches to native code: CPython's str.split and
# hashlib.md5 are C) computes the IDENTICAL strings 3-5x faster
# (measured at sf3: shingle table 5.17 -> 1.01 s, band rows
# 6.18 -> 1.93 s, minhash_candidates end-to-end 8.06 -> 3.11 s,
# byte-identical outputs), and the per-doc band and SimHash kernels
# remove the explode + groupBy(doc_id) signature shuffle outright
# (§2.4): both are per-document pure functions, so the only exchange
# left in the LSH stage is the band-key bucket groupBy.
#
# All four kernels share one tokenizer (:func:`_tokens`), one window
# helper (:func:`_windows`) and one batch loop (:func:`_text_kernel`).
#
# Exact-equality contract: the kernels replicate Spark's
# ``split(lower(trim(text)), '\\s+')`` semantics precisely — trim
# strips 0x20 only, lower() (ASCII + standard Unicode mappings), and
# Java's ``\s`` is the ASCII class [ \t\n\x0B\f\r] (NOT Python's
# Unicode \s). Pinned by tests/test_arrow_kernels.py, which compares
# each kernel with its expression-form oracle on adversarial fixtures
# (tabs, runs of whitespace, short docs, empty and NULL text) and on
# the parquet corpus; the DuckDB oracles replay the same construction.
# ---------------------------------------------------------------------------

_WS_JAVA = re.compile("[ \t\n\x0b\f\r]+")  # Java regex \s, exactly


def _broadcast_threshold_bytes(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, parsing byte
    suffixes ("10m", "100k") with Spark's own JavaUtils so a session
    that raised or lowered the threshold is honored exactly (ADVICE
    r13: the old int() parse fell back to a hardcoded 10 MB on any
    suffixed value). Returns Spark's 10 MB default only for truly
    unparseable input; -1 (broadcast disabled) passes through."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        )
    except Exception:
        return 10 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s optimized plan — a private
    API read; callers fall back to no strategy hint when it raises."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _tokens(text: str | None) -> list[str]:
    """The Python replica of ``tokens(text)``; [] for NULL text (a
    string always splits into at least one token, so [] means NULL)."""
    return [] if text is None else _WS_JAVA.split(text.strip(" ").lower())


def _windows(toks: list[str], n: int, stride: int = 1) -> list[str]:
    """The ``n``-token windows of ``toks`` starting at 0, ``stride``,
    2 * ``stride``, ..., each joined by one space ([] under ``n``
    tokens). Windows are substrings of the single-space re-join, so
    they are sliced out by offset instead of re-joined one by one."""
    joined = " ".join(toks)
    pos = [0]
    for t in toks:
        pos.append(pos[-1] + len(t) + 1)
    return [
        joined[pos[p]:pos[p + n] - 1] for p in range(0, len(toks) - n + 1, stride)
    ]


def _shingle_list(toks: list[str], n: int) -> list[str]:
    """Distinct word ``n``-gram shingles — the Python replica of
    ``shingles(toks, n)``, in first-occurrence order (= array_distinct's
    order); [] for docs under ``n`` tokens."""
    return list(dict.fromkeys(_windows(toks, n)))


def _text_kernel(
    df: DataFrame, text_col: str, keep_cols: list[str],
    out_fields: list[T.StructField], doc_rows,
) -> DataFrame:
    """Run ``doc_rows`` over ``text_col`` in a mapInArrow pass. For one
    document's text (None for NULL), ``doc_rows`` returns one list per
    field of ``out_fields``, all of one length: the document's output
    rows, each carrying the document's ``keep_cols`` values in front.
    Only (keep_cols, text) crosses the Python boundary (§4.1). Per
    batch: one ``to_pylist`` (the text), one ``pa.array`` per output
    column, and one Arrow ``take`` per kept column."""
    from pyspark.sql.pandas.types import to_arrow_type

    out_schema = T.StructType([df.schema[c] for c in keep_cols] + out_fields)
    types = [to_arrow_type(f.dataType) for f in out_fields]
    n_keep = len(keep_cols)
    names = keep_cols + [f.name for f in out_fields]

    def fn(it):
        import pyarrow as pa

        for batch in it:
            src: list[int] = []
            cols: list[list] = [[] for _ in types]
            for i, text in enumerate(batch.column(n_keep).to_pylist()):
                rows = doc_rows(text)
                if rows[0]:
                    src.extend([i] * len(rows[0]))
                    for col, vals in zip(cols, rows):
                        col.extend(vals)
            take = pa.array(src, type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [batch.column(j).take(take) for j in range(n_keep)]
                + [pa.array(c, type=t) for c, t in zip(cols, types)],
                names=names,
            )

    return df.select(*keep_cols, text_col).mapInArrow(fn, out_schema)


def shingle_rows_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ngram: int = 3, out_col: str = "__sh", extra_cols: tuple = (),
) -> DataFrame:
    """(id, [extra_cols,] shingle array) via the Arrow kernel —
    row-identical to ``df.select(id, *extra, shingles(tokens(text_col),
    ngram))`` (element order included; NULL text gives []).
    ``extra_cols`` pass through untouched."""
    return _text_kernel(
        df, text_col, [id_col, *extra_cols],
        [T.StructField(out_col, T.ArrayType(T.StringType()), False)],
        lambda text: ([_shingle_list(_tokens(text), ngram)],),
    )


def gram_rows_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 20, stride: int = 1,
) -> DataFrame:
    """(id, p, gh) stride-``stride`` k-gram window rows — the Python
    replica of :func:`exact_substring_coverage`'s window stream
    (``explode(sequence(0, n-k, stride))`` + md5 of the space-joined
    k-token slice). One md5 per window in C instead of a JVM
    slice+join+md5 per exploded row; this stream is ~1 row per corpus
    token at stride 1 and was the sf10 soak's single largest line item
    (2155 s)."""
    md5 = hashlib.md5

    def grams(text):
        toks = _tokens(text)
        return (
            list(range(0, len(toks) - k + 1, stride)),
            [md5(w.encode()).hexdigest() for w in _windows(toks, k, stride)],
        )

    return _text_kernel(
        df, text_col, [id_col],
        [T.StructField("p", T.IntegerType()), T.StructField("gh", T.StringType())],
        grams,
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by the md5 of their normalized text: one row per
    distinct content with the representative (min id) and the group
    size. ``n_dups > 1`` rows are duplicate clusters."""
    return (
        df.select(
            F.col(id_col), F.md5(normalized_text(text_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def drop_exact_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative per content hash (min id wins) — the
    apply-side of exact dedup. Broadcast-free: a semi join on
    (hash, min id) after one aggregate."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_bands(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 8, band_size: int = 2, ngram: int = 3,
) -> DataFrame:
    """(id, band_idx, band_hash) rows: the LSH banding of the MinHash
    signature over ``ngram``-shingle sets (``ngram=1`` => token sets).
    Docs sharing a (band_idx, band_hash) are near-dup candidates.
    n_hashes/band_size bands; smaller bands => higher recall, more
    candidates. Signature component ``4m + j`` is the min over the
    doc's shingles of hex chars ``8j..8j+7`` of ``md5('s{m}:' ||
    shingle)``: one md5 yields four independent 32-bit components, so
    n_hashes/4 seeded md5s cover the signature. Band ``b`` is the md5
    of its ``band_size`` components joined by '|'. Docs without a
    shingle (NULL text, fewer than ``ngram`` tokens) emit no rows.

    Physical shape: one Arrow kernel pass computes each document's
    whole signature + band rows inside the task — no explode, no
    groupBy(id) exchange, and the md5s run in C (hashlib) instead of
    per-row JVM expressions. Row-identical to the expression
    construction kept as the oracle in tests/test_arrow_kernels.py;
    measured 3.2x at sf3 with one fewer exchange.
    """
    if n_hashes % 4 != 0:
        raise ValueError("n_hashes must be a multiple of 4 (md5 slicing)")
    prefixes = [f"s{m}:" for m in range(n_hashes // 4)]
    band_idx = list(range(n_hashes // band_size))
    md5 = hashlib.md5

    def bands(text):
        sh = _shingle_list(_tokens(text), ngram)
        if not sh:
            return [], []
        mh = []
        for pre in prefixes:
            hs = [md5((pre + g).encode()).hexdigest() for g in sh]
            for o in (0, 8, 16, 24):
                mh.append(min(h[o:o + 8] for h in hs))
        return band_idx, [
            md5("|".join(mh[b * band_size:(b + 1) * band_size]).encode()).hexdigest()
            for b in band_idx
        ]

    return _text_kernel(
        df, text_col, [id_col],
        [T.StructField("band_idx", T.IntegerType(), False),
         T.StructField("band_hash", T.StringType(), False)],
        bands,
    )


def lsh_candidate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 8, band_size: int = 2, ngram: int = 3,
    max_bucket: int | None = 1024, pre_thin: bool = False,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing at least one LSH
    band.

    Physical shape: ONE band computation, one shuffle.  Bands group by
    (band_idx, band_hash); each bucket's sorted id set expands to its
    in-bucket pairs via nested ``transform`` (pure codegen).  A
    band-key *self-join* would recompute the whole shingle+md5 pipeline
    for both inputs (AQE broadcasts one side, defeating exchange reuse)
    — measured 2-4x slower.

    ``max_bucket`` bounds the blast radius of degenerate band keys
    (boilerplate-heavy corpora put millions of ids in one bucket; one
    task would otherwise emit n^2/2 pairs and die): oversized buckets
    contribute only their ``max_bucket`` smallest ids (deterministic
    truncation — at most ``max_bucket^2/2`` pairs per band key). Use
    :func:`lsh_bucket_overflow` as the monitoring side-channel to see
    what was truncated. ``None`` disables the cap (exact baseline — the
    catalog's test-scale oracles run far below the default cap, so
    capped and exact agree there).

    ``pre_thin`` additionally thins oversized buckets BEFORE the
    collect, bounding the aggregation buffer itself (~``max_bucket``
    ids instead of n). It costs a second pass over the band pipeline,
    so it's off by default: without it a degenerate bucket's collect
    spills to a sort-based aggregate — slow but safe — and the slice
    still caps the output. Turn it on for corpora known to carry heavy
    boilerplate.
    """
    bands = minhash_bands(df, text_col, id_col, n_hashes, band_size, ngram)
    if max_bucket is not None and pre_thin:
        # Bucket sizes from a skew-safe count (map-side partial agg);
        # the few oversized keys broadcast back, and each of their rows
        # survives with probability max_bucket/n via the deterministic
        # id hash.
        from orx_surgical_spark.operators.encoders import hash_fraction

        sizes = bands.groupBy("band_idx", "band_hash").agg(
            F.count(F.lit(1)).alias("__n")
        )
        hot = sizes.where(F.col("__n") > max_bucket)
        bands = (
            bands.join(F.broadcast(hot), ["band_idx", "band_hash"], "left")
            .where(
                F.col("__n").isNull()
                | (hash_fraction(F.col(id_col)) * F.col("__n") < F.lit(max_bucket))
            )
            .drop("__n")
        )
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set(id_col)).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    if max_bucket is not None:
        # Hard cap on expansion: at most max_bucket^2/2 pairs per key.
        buckets = buckets.withColumn("__ids", F.slice("__ids", 1, max_bucket))
    pairs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice(
                    "__ids", i + 2, F.greatest(F.size("__ids") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_bucket_overflow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 8, band_size: int = 2, ngram: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Monitoring side-channel for :func:`lsh_candidate_pairs`'s cap:
    the band keys whose buckets exceed ``max_bucket`` and by how much
    (``band_idx, band_hash, n_ids``). Run it alongside a capped dedup
    pass to quantify truncated recall — a large overflow usually means
    boilerplate that should be stripped upstream, not deduped."""
    bands = minhash_bands(df, text_col, id_col, n_hashes, band_size, ngram)
    return (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .where(F.col("n_ids") > max_bucket)
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard
# ---------------------------------------------------------------------------


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays.

    Union size by inclusion-exclusion (|a| + |b| - |a∩b|), NOT
    ``array_distinct(concat(a, b))``: both inputs are distinct by
    contract, so the identity is exact, and it removes the single most
    expensive per-pair expression from the verify stages — at sf3 the
    2.2M-pair ngram verify spent more on the concat+distinct than on
    the intersect itself (r9 measurement; ~2x on the verify stage).
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def jaccard_verify(
    cands: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard scores for LSH candidate pairs — shingling
    ONLY the docs that appear in some pair.

    The naive verify joins a full-corpus shingle table onto the pairs,
    which (a) shingles every document a second time and (b) pushes the
    corpus's entire shingle payload through the join shuffle. Since
    candidates are a small fraction of the corpus at scale, this
    semi-joins docs to the pair endpoints FIRST (shuffling only ids +
    raw text) and shingles the survivors — the verify stage is priced
    by |candidate docs|, not |corpus|. Inner-join semantics are
    unchanged: non-candidate docs never reached the output anyway.

    Returns ``cands`` + a ``jaccard`` double column (unrounded,
    unfiltered — callers round/threshold).

    ``cands`` is referenced twice (endpoint ids + the pair probe), so it
    is ``localCheckpoint``-ed first: candidate pairs are tiny post-LSH,
    and materializing them once beats re-running the whole band
    pipeline per reference (measured 2x at sf0.1). Lazy (eager=False,
    ADVICE r6): the checkpoint fires on FIRST ACTION and is shared by
    both references, so merely building the DataFrame (schema probes,
    explain) stays free of Spark jobs.
    """
    # DISK_ONLY: checkpoint blocks outlive the query (freed lazily by
    # the context cleaner), and in a long-lived session heap-resident
    # residue from dedup queries crowds later memory-hungry work (the
    # sf1 soak's RF fit). Pairs re-read from local disk in microseconds.
    from pyspark.storagelevel import StorageLevel

    cands = cands.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = docs.join(ids, id_col, "leftsemi")
    # Catalyst's size estimate of the candidate docs' (id, text)
    # projection, read BEFORE the Python kernel and checkpoint erase it:
    # the pair join below references the shingle table twice (id_a side +
    # id_b side), and without a materialization each side re-runs the
    # whole semi-join + tokenize + shingle pass — at sf3 two ~4.8 s
    # passes for one 21 s verify stage, and the two broadcast subtrees
    # differ by their aliases so exchange reuse never fires (measured
    # r13, ReusedExchange count 0). The checkpoint makes the pass run
    # once; the explicit hint then re-applies exactly the strategy
    # decision Catalyst would have made from this estimate (checkpoints
    # plan as ExistingRDD with unknown stats, which would otherwise
    # force sort-merge), so the join strategy stays scale-adaptive: big
    # candidate-doc sets keep the sort-merge shape, small ones keep the
    # broadcast the planner already chose at every probed SF. The
    # estimate is taken on the kernel's INPUT (id + text) projection:
    # measured r14, Catalyst's own estimate for the expression-form
    # shingle table EQUALS the input projection's estimate at every
    # probed SF (project-node stats scale by type default widths, and
    # array<string> ≈ string there), so gating on the input estimate
    # reproduces the r13 planner decision byte-for-byte — BHJ at every
    # probed SF including the green sf10 soak, SMJ above. An A/B at sf3
    # (r14) confirmed the decision empirically: verify stage best-of-4
    # 12.8 s hinted vs 14.4-16.9 s sort-merge, with ~3x tighter spread.
    # If the private stats read fails (a Spark upgrade), no hint is
    # applied and the planner picks the join from the checkpoint's own
    # stats (sort-merge when unknown): same rows, lost hint.
    sh = shingle_rows_arrow(cand_docs, text_col, id_col, ngram)
    try:
        sh_est_bytes = _plan_size_bytes(cand_docs.select(id_col, text_col))
    except (Py4JError, AttributeError, TypeError, ValueError):
        sh_est_bytes = 0
    bcast_thr = _broadcast_threshold_bytes(docs.sparkSession)
    sh = sh.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    if 0 < sh_est_bytes <= bcast_thr:
        a, b = F.broadcast(a), F.broadcast(b)
    return (
        cands.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn("jaccard", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .drop("__sh_a", "__sh_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, threshold: float = 0.5, block_col: str | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram-shingle Jaccard >= threshold.

    All-pairs within a block (or globally when ``block_col`` is None) —
    this is the exact baseline; at scale use
    :func:`lsh_candidate_pairs` first and verify only candidates.
    """
    sh = df.select(
        F.col(id_col), *( [F.col(block_col)] if block_col else [] ),
        shingles(tokens(text_col), n).alias("sh"),
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
        *([F.col(block_col).alias("__blk")] if block_col else []),
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
        *([F.col(block_col).alias("__blk")] if block_col else []),
    )
    joined = a.join(b, on="__blk") if block_col else a.crossJoin(b)
    pairs = joined.filter(F.col("id_a") < F.col("id_b"))
    out = pairs.select(
        "id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs_prefix(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, threshold: float = 0.5, block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard >= threshold via PREFIX FILTERING —
    the same output as :func:`ngram_jaccard_pairs`, without its
    quadratic candidate step.

    All-pairs-within-block is quadratic in block size, so blocking on a
    low-cardinality column alone (language) stops scaling the moment
    blocks grow with the corpus: the r6 sf1 soak measured the naive
    shape at 50x its sf0.1 wall on a 90%-duplicate corpus (78M pairs
    from lang blocks of 12.5k docs). The classic fix (AllPairs/PPJoin
    family, Bayardo et al. WWW'07 — public algorithm): order every
    set by one global total order (ascending corpus frequency, tie on
    the shingle — rare-first maximizes selectivity), and for threshold
    ``t`` any two sets with J >= t MUST share an element within their
    first ``|s| - ceil(t * |s|) + 1`` elements. Candidates therefore
    come from an equi-join on (block, prefix-shingle) — linear-ish in
    the true-match density — plus the size filter
    ``t * max(|a|,|b|) <= min(|a|,|b|)``; only candidates pay the exact
    intersect/union verification.

    Exactness: the prefix filter is lossless for ANY global total
    order, so this returns byte-identically the naive operator's rows —
    pinned by ``tests/test_dedup.py`` against the registry-internal
    quadratic baseline, and the DuckDB oracle stays the naive spec.

    r11 — identical-set grouping ahead of the prefix join: the r10 sf10
    soak died here with ``No space left on device`` (measured 81.7 GB
    of shuffle spill standalone): on a duplicate-heavy corpus every
    copy of a text shares the same rare prefix shingles, so the
    (block, prefix-token) candidate buckets grow with the DUPLICATION
    factor and the join revisits each duplicate pair once per shared
    prefix token — quadratic in copies. Deduplicating on the exact
    shingle SET first (md5 of the sorted distinct shingles, one narrow
    groupBy) runs the candidate/verify machinery on one representative
    per distinct set (sf10: 4,992 reps for 500,000 docs), then expands
    verified representative pairs back to doc pairs with two
    output-sized equi-joins; same-set pairs are exactly J = 1.0 by
    definition and come from a bounded self-equi-join on the set key.
    Output stays byte-identical to the naive spec; candidate-join
    volume becomes a function of CONTENT diversity, not corpus size —
    the property that holds at 100 TB, where dup factors of 10-100x
    are the norm for web corpora.
    """
    blk = [F.col(block_col)] if block_col else []
    # shingle sets from the Arrow kernel (already distinct)
    sh0 = shingle_rows_arrow(
        df, text_col, id_col, n, out_col="sh",
        extra_cols=tuple([block_col] if block_col else []),
    ).filter(F.size("sh") > 0)

    # Group identity: block + exact shingle set. \x01/\x02 cannot occur
    # inside whitespace-tokenized shingles.
    set_key = F.md5(F.concat_ws("\x01", F.sort_array("sh")))
    rid_cols = ([F.col(block_col).cast("string")] if block_col else []) + [set_key]
    docs = sh0.withColumn("__rid", F.concat_ws("\x02", *rid_cols))
    members = docs.select(F.col(id_col).alias("__mid"), "__rid")
    # One representative row per distinct (block, set); the rid string
    # takes over the id column so the candidate/verify machinery below
    # runs unchanged (string '<' is a valid total order for the
    # unordered-pair dedup).
    sh = (
        docs.groupBy(*blk, "__rid")
        .agg(F.first("sh").alias("sh"))
        .select(F.col("__rid").alias(id_col), *blk, "sh")
    )

    toks = sh.select(
        F.col(id_col), *blk, F.explode("sh").alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    ranked = (
        toks.join(freq, "tok")
        .groupBy(F.col(id_col), *blk)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("tf"), F.col("tok")))
            ).alias("sts"),
            F.count(F.lit(1)).alias("sz"),
        )
    )
    prefix_len = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    pref = ranked.select(
        F.col(id_col), *blk, F.col("sz"),
        F.explode(F.slice("sts", 1, prefix_len)).alias("st"),
    ).select(F.col(id_col), *blk, "sz", F.col("st.tok").alias("tok"))

    join_keys = ([block_col] if block_col else []) + ["tok"]
    a = pref.select(
        *( [F.col(block_col)] if block_col else [] ), "tok",
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"),
    )
    b = pref.select(
        *( [F.col(block_col)] if block_col else [] ), "tok",
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"),
    )
    cand = (
        a.join(b, on=join_keys)
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.lit(threshold) * F.greatest("sz_a", "sz_b")
                <= F.least("sz_a", "sz_b")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )

    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    rep_pairs = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a", "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
    ).filter(F.col("jaccard") >= threshold)

    # Expand verified representative pairs back to doc pairs — two
    # output-sized equi-joins on the set key; cross-group doc ids carry
    # no ordering guarantee, so least/greatest restores id_a < id_b.
    ma = members.select(F.col("__rid").alias("id_a"), F.col("__mid").alias("__da"))
    mb = members.select(F.col("__rid").alias("id_b"), F.col("__mid").alias("__db"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__da", "__db").alias("id_a"),
            F.greatest("__da", "__db").alias("id_b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return cross
    # Same set => J is exactly 1.0: a bounded self-equi-join on the set
    # key, never through the candidate machinery.
    intra = (
        members.alias("x")
        .join(members.alias("y"), "__rid")
        .where(F.col("x.__mid") < F.col("y.__mid"))
        .select(
            F.col("x.__mid").alias("id_a"),
            F.col("y.__mid").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash16(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """16-bit SimHash per document from distinct-token md5s.

    bit b of a token = bit (b % 4) of the hex nibble at position b // 4
    of its md5; the document bit is the sign of the sum of (2*bit - 1)
    over tokens (a zero sum sets the bit). Computed per document inside
    an Arrow kernel — no explode, no groupBy(id) shuffle, md5 in C —
    row-identical to the expression construction kept as the oracle in
    tests/test_arrow_kernels.py; the same formula stays expressible in
    ANSI SQL for the DuckDB oracle. NULL text emits no row; "" is one
    empty token and does.
    """

    md5 = hashlib.md5

    def simhash(text):
        toks = set(_tokens(text))
        if not toks:
            return ([],)
        sums = [0] * 16
        for t in toks:
            # first 4 hex nibbles of the md5 carry the 16 bits:
            # bit b = bit (b % 4) of nibble b // 4
            n0 = int(md5(t.encode()).hexdigest()[:4], 16)
            for b in range(16):
                bit = (n0 >> (12 - 4 * (b >> 2) + (b & 3))) & 1
                sums[b] += 2 * bit - 1
        return ([sum(1 << b for b in range(16) if sums[b] >= 0)],)

    return _text_kernel(
        df, text_col, [id_col],
        [T.StructField("simhash", T.IntegerType(), False)], simhash,
    )


# ---------------------------------------------------------------------------
# MLlib MinHashLSH wrapper (Spark-native scale path; not oracle-checkable
# because MLlib's hash seeds are JVM-internal)
# ---------------------------------------------------------------------------


def mllib_minhash_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hash_tables: int = 8, jaccard_distance_threshold: float = 0.5,
    vocab_size: int = 1 << 18, ngram: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs via MLlib ``MinHashLSH`` over hashed
    shingle features (HashingTF -> binary vectors). Returns
    (id_a, id_b, jaccard_dist). Rows-only checkable."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingle_col = (
        shingles(tokens(text_col), ngram)
        if ngram > 1
        else F.array_distinct(tokens(text_col))
    )
    toks = df.select(F.col(id_col), shingle_col.alias("toks")).filter(
        F.size("toks") > 0
    )
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=vocab_size,
                   binary=True)
    feats = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, jaccard_distance_threshold, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Paragraph-level (sub-document) dedup
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 20,
) -> DataFrame:
    """Sub-document deduplication at paragraph granularity — the
    Dolma/FineWeb-style pass that removes *repeated passages* (boiler-
    plate, mirrored quotes) while keeping the documents themselves.

    Paragraph := consecutive ``seg_tokens``-token segment of the
    whitespace-token stream (the synthetic corpus has no newline
    structure; on real data the splitter is '\\n\\n' and the rest of the
    shape is identical). First global occurrence wins, ordered by
    ``(id, seg_idx)`` — a deterministic total order both engines share.

    Shape at scale: explode to one row per segment (map-only),
    ``row_number`` over the md5 segment hash (ONE shuffle on the hash —
    the dedup shuffle), then one per-document ordered re-aggregation
    (second shuffle on doc id). No joins, no all-pairs anything; state
    per hash group is the duplicate multiplicity, which LSH-tier ops
    upstream keep small.

    Returns (id, n_segs, n_kept, cleaned_len, cleaned_md5): counts +
    the reassembled text pinned by md5 (the full text column stays
    available by swapping the final projection).
    """
    from pyspark.sql.window import Window

    toks = tokens(text_col)
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = (
        df.select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_idx"),
            toks.alias("toks"),
        )
        .select(
            id_col,
            "seg_idx",
            F.array_join(
                F.slice("toks", F.col("seg_idx") * seg_tokens + 1, seg_tokens),
                " ",
            ).alias("seg"),
        )
        .withColumn("h", F.md5("seg"))
    )
    first = Window.partitionBy("h").orderBy(F.col(id_col), F.col("seg_idx"))
    kept = segs.withColumn("rn", F.row_number().over(first))
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_segs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("int")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct(F.col("seg_idx"), F.col("seg")),
                            )
                        )
                    ),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("_cleaned"),
        )
        .select(
            id_col,
            "n_segs",
            "n_kept",
            F.length("_cleaned").cast("int").alias("cleaned_len"),
            F.md5("_cleaned").alias("cleaned_md5"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a historical index
# ---------------------------------------------------------------------------


def incremental_dedup(
    incoming: DataFrame,
    index_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time dedup of a NEW shard against a frozen corpus index —
    the operational mode of a continuously-fed training pipeline, where
    the already-ingested corpus exists only as a compact hash index
    (one md5 per document ever accepted), not as rescannable text.

    Three-way decision per incoming doc:

    - ``dup_index``  — content hash already in the historical index;
    - ``dup_batch``  — first seen inside THIS shard, but a same-shard
      doc with a smaller id has the same content (self-dedup);
    - ``new``        — accept and append its hash to the index.

    Shape at scale: one map-side hash projection of the shard, a LEFT
    join against the index on the hash (index side is just
    (hash) — co-shuffled equi-join, broadcastable while small), and a
    min-id window inside the shard. The full corpus is never re-read.

    Returns (id, content_hash, decision).
    """
    from pyspark.sql.window import Window

    h = incoming.select(
        F.col(id_col), F.md5(normalized_text(text_col)).alias("content_hash")
    )
    idx = index_hashes.select(
        F.col("content_hash"), F.lit(True).alias("__in_index")
    ).distinct()
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col))
    return (
        h.join(idx, "content_hash", "left")
        .withColumn("__rank", F.row_number().over(w))
        .select(
            id_col,
            "content_hash",
            F.when(F.col("__in_index"), F.lit("dup_index"))
            .when(F.col("__rank") > 1, F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("decision"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring (suffix-array-tier) cross-document dedup
# ---------------------------------------------------------------------------


def exact_substring_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    stride: int = 1,
) -> DataFrame:
    """Exact cross-document duplicated-substring coverage — the
    Lee-et-al-style "dedup exact substrings >= k tokens" tier (the
    suffix-array complement to MinHash; arXiv:2107.06499 builds a
    suffix array, this builds the same answer the Spark way).

    Definition: a token position of a document is DUPLICATED iff it is
    covered by some k-token window that also occurs verbatim in at
    least one OTHER document. Because every shared substring of length
    L >= k contains all of its L-k+1 aligned k-windows in both
    documents, stride-1 k-windows detect shared substrings at ARBITRARY
    offsets exactly — unlike fixed-segment paragraph dedup
    (:func:`paragraph_dedup`), which only catches 20-token-aligned
    repeats. Output per document: token total, duplicated-token count,
    coverage ratio, and the number of maximal duplicated spans (merged
    overlapping/adjacent windows) — the spans a cut-and-retrain
    pipeline would excise.

    Shape at scale (no suffix array, no all-pairs):

    1. map-only: tokenize once, emit one (id, start, md5(k-gram)) row
       per stride-1 window — a NARROW stream (two ints + 32 bytes),
       independent of document width;
    2. one hash aggregate on the gram hash -> grams seen in >= 2
       distinct documents (map-side partial distinct first);
    3. left-semi join of the window stream against the duplicated-gram
       hashes (same key as 2 — co-partitioned sort-merge at scale);
    4. per-document interval merge: windows all have length k and
       arrive start-sorted, so the running coverage is
       ``least(k, start - lag(start))`` and a new maximal span opens
       where ``start - lag(start) > k`` — one window function over the
       hit stream, never over the corpus.

    Both engines group by md5 of the SAME gram string, so even a
    (cryptographically negligible) collision is engine-symmetric.

    ``stride`` is the 100 TB throughput knob (the stride-1 window
    stream is ~1 row per corpus token — 2155 s of the sf10 soak —
    which is the EXACT tier's intrinsic cost). ``stride = s > 1`` samples window starts at multiples of
    ``s``, cutting the stream, the gram aggregate, and the semi-join
    ~s-fold. The trade is recall, and it is phase-sensitive: a sampled
    window flagged duplicated is always genuinely duplicated (sampled
    hits are a subset of the exact hit set, so every reported count /
    ratio is a LOWER bound of the stride-1 truth), but a shared
    substring is only guaranteed detection when its occurrences are
    offset-aligned mod ``s`` and span >= k + s - 1 tokens. Default 1 =
    exact tier, the oracle-checked configuration.
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError("exact_substring_coverage: k must be >= 1")
    if stride < 1:
        raise ValueError("exact_substring_coverage: stride must be >= 1")

    t = df.select(F.col(id_col), tokens(text_col).alias("toks")).withColumn(
        "n", F.size("toks")
    )
    # The window stream comes from the Arrow gram kernel — the same
    # (id, p, md5) rows as the explode(sequence) + slice + join + md5
    # expression chain (pinned by tests/test_arrow_kernels.py), with
    # the per-window md5 in C. `t` stays the n_tokens source for the
    # final left join (it covers docs below k tokens too).
    grams = gram_rows_arrow(df, text_col, id_col, k, stride)
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("gh")
    )
    hits = grams.join(dup, "gh", "left_semi").select(id_col, "p")
    w = Window.partitionBy(id_col).orderBy("p")
    gap = F.col("p") - F.col("lp")
    agg = (
        hits.withColumn("lp", F.lag("p").over(w))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("lp").isNull(), F.lit(k)).otherwise(
                    F.least(F.lit(k), gap)
                )
            )
            .cast("int")
            .alias("__ndup"),
            F.sum(
                F.when(F.col("lp").isNull() | (gap > k), 1).otherwise(0)
            )
            .cast("int")
            .alias("__nspans"),
        )
    )
    return (
        t.select(id_col, F.col("n").alias("n_tokens"))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("__ndup", F.lit(0)).cast("int").alias("n_dup_tokens"),
            F.round(
                F.coalesce("__ndup", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_ratio"),
            F.coalesce("__nspans", F.lit(0)).cast("int").alias("n_dup_spans"),
        )
    )
