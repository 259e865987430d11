"""Plan pins for the shared word-shingle digest relation
(``dedup._shingle_keys``): every lane that builds it must keep the
optimized plan of the inline chain it replaced, which materializes the
token array in its own select before ``shingles_from_tokens`` reads it
(the materialize-first contract: otherwise Catalyst inlines the split
into every shingle slice). The references below are those inline chains,
written out. Plan comparisons only: no Spark job runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.dedup import (
    _P,
    _md5_to_long,
    _minhash_hash_cols,
    _shingle_keys,
    _spread,
    benchmark_digests,
    decontaminate,
    minhash_signatures,
)
from openeo_processes_dask_spark.training.textanalysis import (
    shingles_from_tokens,
    tokens,
)

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "The quick brown fox jumps over the lazy cat"),
    (3, "pack my box with five dozen liquor jugs"),
    (4, "tiny"),
]
_BENCH = [(100, "the quick brown fox jumps over the lazy dog")]


def _reference_chain(df, n, key=None):
    """The inline (id, sh) chain every lane wrote before the builder."""
    return (
        _spread(
            df.select(F.col("doc_id").alias("id"), F.col("text").alias("__t__")),
            key=key,
        )
        .select("id", tokens(F.lower(F.col("__t__"))).alias("toks"))
        .select(
            "id",
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("toks"), n))
            ).alias("sh"),
        )
    )


def _same_plan(a, b) -> bool:
    qa = a._jdf.queryExecution().optimizedPlan()
    qb = b._jdf.queryExecution().optimizedPlan()
    return bool(qa.sameResult(qb))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


@pytest.mark.parametrize("key", [None, "id"], ids=["no-key", "key-id"])
def test_shingle_keys_plan_matches_inline_chain(docs, key):
    """No key: the decontamination lanes' corpus side; ``key="id"``:
    the prefix-filter Jaccard lane's shingle table."""
    ref = _reference_chain(docs, 3, key).select(
        "id", _md5_to_long(F.col("sh")).alias("shk")
    )
    assert _same_plan(_shingle_keys(docs, "doc_id", "text", 3, key=key), ref)


def test_minhash_signatures_plan_matches_inline_chain(docs):
    ref_sh = _reference_chain(docs, 3, key="id").select(
        "id", F.pmod(_md5_to_long(F.col("sh")), F.lit(_P)).alias("x")
    )
    hash_cols, sig_array = _minhash_hash_cols(64, 42)
    ref = ref_sh.groupBy("id").agg(*hash_cols).select(
        "id", sig_array.alias("signature")
    )
    got = minhash_signatures(docs, "doc_id", "text", 3, 64, 42)
    assert _same_plan(got, ref)


def test_decontaminate_plan_is_broadcast_join_plus_count(spark, docs):
    bench = spark.createDataFrame(_BENCH, "doc_id long, text string")
    ref = (
        _reference_chain(docs, 5)
        .select("id", _md5_to_long(F.col("sh")).alias("shk"))
        .join(F.broadcast(benchmark_digests(bench, "text", 5)), "shk")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    assert _same_plan(decontaminate(docs, bench, n=5), ref)
