"""Row-equivalence pins for the Arrow (mapInArrow) dedup kernels.

Each kernel in ``operators/dedup.py`` MUST reproduce its expression-form
oracle below exactly — rows, array element order and schema. The
DuckDB oracles replay ``split(lower(trim(text)), '\\s+')`` + md5
verbatim, so any tokenization drift is an oracle failure. Fixtures
cover the divergence candidates between Java and Python semantics:
trim strips 0x20 only (not tabs), Java's \\s is the ASCII class, split
keeps leading empty strings, array_distinct keeps first-occurrence
order, and NULL text (no rows, except an empty shingle array).

The expression forms live here, not in the engine: the engine keeps one
implementation per operator, and these are its differential oracles.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from orx_surgical_spark.operators import dedup as D
from orx_surgical_spark.operators.text import shingles, tokens

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

ADVERSARIAL = [
    (0, "alpha beta gamma delta epsilon"),
    (1, "a b"),                          # under 3 tokens -> no shingles
    (2, ""),                             # empty text
    (3, "   leading and trailing spaces   "),
    (4, "tab\tseparated words here ok"),  # \t is \s but NOT trimmed
    (5, "\tleading tab yields empty first token"),
    (6, "UPPER Case MiXeD lower case"),
    (7, "double  spaces   collapse to one split"),
    (8, "newline\nand\rcarriage and\x0bvt and\x0cff tokens"),
    (9, "dup dup dup dup dup"),          # repeated shingles -> distinct
    (10, "x " * 200),                    # long doc
    (11, "éclair café naïve unicode tokens"),
    (12, None),                          # NULL text
]


# ---------------------------------------------------------------------------
# Expression-form oracles
# ---------------------------------------------------------------------------


def _shingles_expr(df, ngram=3):
    return df.select("doc_id", shingles(tokens("text"), ngram).alias("__sh"))


def _minhash_bands_expr(df, n_hashes=8, band_size=2, ngram=3):
    """Explode shingles once, hash each shingle n_hashes/4 times (one
    md5 gives four 8-hex-char components), one hash aggregate of the
    MINs per doc, then explode the band structs."""
    toks = (
        shingles(tokens("text"), ngram)
        if ngram > 1
        else F.array_distinct(tokens("text"))
    )
    exploded = df.select("doc_id", F.explode(toks).alias("__g"))
    slices = []
    for m in range(n_hashes // 4):
        h = F.md5(F.concat(F.lit(f"s{m}:"), F.col("__g")))
        slices.extend(
            F.substring(h, 1 + 8 * j, 8).alias(f"h{m * 4 + j}") for j in range(4)
        )
    base = exploded.select("doc_id", *slices).groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(n_hashes)]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_hashes // band_size)
        ]
    )
    return base.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_hash").alias("band_hash"),
    )


def _gram_rows_expr(df, k, stride):
    t = df.select("doc_id", tokens("text").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    starts = F.when(
        F.col("n") >= k, F.sequence(F.lit(0), F.col("n") - k, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    return t.select("doc_id", F.explode(starts).alias("p"), "toks").select(
        "doc_id",
        F.col("p").cast("int").alias("p"),
        F.md5(F.array_join(F.slice("toks", F.col("p") + 1, k), " ")).alias("gh"),
    )


def _simhash16_expr(df):
    """Explode distinct tokens -> 16 conditional sums -> repack."""
    tok = df.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    h = F.md5(F.col("tok"))
    bit_sums = []
    for b in range(16):
        nib = F.conv(F.substring(h, 1 + b // 4, 1), 16, 10).cast("int")
        bit = F.shiftright(nib, b % 4).bitwiseAND(F.lit(1))
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{b}"))
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    packed = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return sums.select("doc_id", packed.cast("int").alias("simhash"))


# (kernel, oracle) pairs; both sides take the same keyword arguments.
PAIRS = {
    "shingle": (D.shingle_rows_arrow, _shingles_expr),
    "band": (D.minhash_bands, _minhash_bands_expr),
    "gram": (D.gram_rows_arrow, _gram_rows_expr),
    "simhash": (D.simhash16, _simhash16_expr),
}


@pytest.fixture(scope="module")
def adv_docs(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def _collect_sorted(df):
    return sorted(map(tuple, df.collect()))


def _assert_kernel_matches(name, docs, **kw):
    kernel, oracle = PAIRS[name]
    new, old = kernel(docs, **kw), oracle(docs, **kw)
    assert new.schema == old.schema
    # exact rows INCLUDING array element order (array_distinct keeps
    # first occurrence; the kernel must too)
    assert _collect_sorted(new) == _collect_sorted(old)


def test_shingle_kernel_matches_expression_adversarial(adv_docs):
    _assert_kernel_matches("shingle", adv_docs)


@pytest.mark.parametrize("ngram", [2, 4])
def test_shingle_kernel_matches_expression_other_ngrams(adv_docs, ngram):
    _assert_kernel_matches("shingle", adv_docs, ngram=ngram)


def test_shingle_kernel_matches_expression_on_corpus(corpus):
    _assert_kernel_matches("shingle", corpus)


def test_band_kernel_matches_expression_adversarial(adv_docs):
    _assert_kernel_matches("band", adv_docs)


def test_band_kernel_matches_expression_on_corpus(corpus):
    _assert_kernel_matches("band", corpus)


@pytest.mark.parametrize("ngram", [1, 2, 4])
def test_band_kernel_matches_expression_other_ngrams(adv_docs, corpus, ngram):
    # ngram=1 hashes the distinct token set
    _assert_kernel_matches("band", adv_docs, ngram=ngram)
    _assert_kernel_matches("band", corpus, ngram=ngram)


def test_gram_kernel_matches_expression_adversarial(adv_docs):
    _assert_kernel_matches("gram", adv_docs, k=4, stride=1)


@pytest.mark.parametrize("stride", [1, 3])
def test_gram_kernel_matches_expression_on_corpus(corpus, stride):
    _assert_kernel_matches("gram", corpus, k=20, stride=stride)


def test_simhash_kernel_matches_expression(adv_docs):
    _assert_kernel_matches("simhash", adv_docs)


def test_simhash_kernel_matches_expression_on_corpus(corpus):
    _assert_kernel_matches("simhash", corpus)


def test_prefix_pairs_rows_unchanged_by_kernel(corpus):
    docs = corpus.limit(120)
    got = D.ngram_jaccard_pairs_prefix(docs, threshold=0.5, block_col="lang")
    want = D.ngram_jaccard_pairs(docs, threshold=0.5, block_col="lang")
    assert _collect_sorted(got) == _collect_sorted(want)


def test_jaccard_verify_rows_unchanged_by_kernel(corpus):
    cands = D.lsh_candidate_pairs(corpus)
    got = D.jaccard_verify(cands, corpus).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("j")
    )
    # baseline: the pure-expression verify (naive join shape)
    sh = _shingles_expr(corpus)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b"))
    want = (
        cands.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", F.round(D.jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("j"))
    )
    assert _collect_sorted(got) == _collect_sorted(want)
