"""Plan pins for the banded MinHash join (``dedup._banded_minhash``): the
batch near-dup lane and the ingest screen must keep the optimized plan of
the inline chains they replaced (band, equi-join on (band, bucket),
distinct candidate pairs, both signatures joined back, agreement
filter). The references below are those inline chains, written out.
Each pin compares a lazy plan: a checkpointed result is a LogicalRDD,
which never ``sameResult``s another plan. Plan comparisons only: no
Spark job runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.dedup import (
    _agreement_sql,
    _band_explode,
    _banded_minhash,
    _bucket_cap,
    minhash_incremental,
    minhash_signatures,
)

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "The quick brown fox jumps over the lazy cat"),
    (3, "pack my box with five dozen liquor jugs"),
    (4, "pack my box with five dozen liquor jugs today"),
]
_NEW = [
    (10, "the quick brown fox jumps over the lazy dog again"),
    (11, "an entirely different sentence about nothing"),
]


def _same_plan(a, b) -> bool:
    qa = a._jdf.queryExecution().optimizedPlan()
    qb = b._jdf.queryExecution().optimizedPlan()
    return bool(qa.sameResult(qb))


def _banded(sigs, bands, rows_per_band):
    """The (id, band, bucket) banding both lanes wrote."""
    return sigs.select(
        "id", _band_explode("signature", bands, rows_per_band).alias("bb")
    ).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _verify(cands, s1, s2, n1, n2, est, threshold):
    """The signature join-back and agreement filter both lanes wrote."""
    return (
        cands.join(s1, n1)
        .join(s2, n2)
        .withColumn("est_jaccard", F.expr(est))
        .where(F.col("est_jaccard") >= threshold)
        .select(n1, n2, "est_jaccard")
    )


def _reference_self(sigs, bands, rows_per_band, threshold, cap=None):
    """minhash_lsh_candidates + the minhash_near_duplicates verify."""
    banded = _banded(sigs, bands, rows_per_band)
    if cap is not None:
        banded, big_pairs = _bucket_cap(banded, ["band", "bucket"], cap)
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    if cap is not None:
        cands = cands.union(big_pairs).distinct()
    s1 = sigs.select(F.col("id").alias("id1"), F.col("signature").alias("sig1"))
    s2 = sigs.select(F.col("id").alias("id2"), F.col("signature").alias("sig2"))
    est = _agreement_sql("sig1", "sig2", bands * rows_per_band)
    return _verify(cands, s1, s2, "id1", "id2", est, threshold)


def _reference_new_vs_seen(sigs_new, seen, bands, rows_per_band, threshold):
    """The inline band/join/verify chain of minhash_incremental."""
    bn = _banded(sigs_new, bands, rows_per_band)
    bs = _banded(seen, bands, rows_per_band)
    cands = (
        bn.alias("a")
        .join(
            bs.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("seen_id"))
        .distinct()
    )
    s1 = sigs_new.select(
        F.col("id").alias("new_id"), F.col("signature").alias("sig1")
    )
    s2 = seen.select(
        F.col("id").alias("seen_id"), F.col("signature").alias("sig2")
    )
    est = f"round({_agreement_sql('sig1', 'sig2', bands * rows_per_band)}, 6)"
    return _verify(cands, s1, s2, "new_id", "seen_id", est, threshold)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def sigs(docs):
    return minhash_signatures(docs, "doc_id", "text", 3, 64, 42)


@pytest.fixture(scope="module")
def new_docs(spark):
    return spark.createDataFrame(_NEW, "doc_id long, text string")


@pytest.mark.parametrize("cap", [None, 2], ids=["all-pairs", "star-cap"])
def test_self_join_plan_matches_inline_chain(sigs, cap):
    got = _banded_minhash(sigs, None, 64, 16, 0.5, max_bucket_size=cap)
    assert _same_plan(got, _reference_self(sigs, 16, 4, 0.5, cap))


def test_new_vs_seen_plan_matches_inline_chain(docs, new_docs):
    sigs_new = minhash_signatures(new_docs, "doc_id", "text", 3, 32, 42)
    seen = minhash_signatures(docs, "doc_id", "text", 3, 32, 42)
    got = _banded_minhash(sigs_new, seen, 32, 8, 0.3)
    assert _same_plan(got, _reference_new_vs_seen(sigs_new, seen, 8, 4, 0.3))


def test_incremental_new_signatures_plan_matches_inline_chain(sigs, new_docs):
    """With ``new_signatures`` the ingest screen returns the lazy core."""
    sigs_new = minhash_signatures(new_docs, "doc_id", "text", 3, 64, 42)
    got = minhash_incremental(
        new_docs, sigs, threshold=0.2, new_signatures=sigs_new
    )
    assert _same_plan(got, _reference_new_vs_seen(sigs_new, sigs, 16, 4, 0.2))
