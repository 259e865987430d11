"""r13 optimization pins: the server-parsed expression constructions
(MinHash hash columns, SimHash packs, LSH banding) must produce
bit-identical results to the original functional Column construction.
Also pins the PPJoin prefix-persist release contract."""

import random

from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.dedup import (
    _P,
    _band_signatures,
    _md5_to_long,
    jaccard_prefix_pairs,
    minhash_signatures,
    simhash_signatures,
)
from openeo_processes_dask_spark.training.textanalysis import (
    shingles_from_tokens,
    tokens,
)

ROWS = [
    (0, "the cat sat on the mat the cat sat again"),
    (1, "the cat sat on the mat the cat sat again ok"),
    (2, "a perfectly ordinary sentence with many distinct tokens here"),
    (3, "one two three four five six seven eight nine ten"),
    (4, "spark join filter window table scan exchange aggregate"),
]


def _corpus(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_minhash_signatures_match_functional_build(spark):
    df = _corpus(spark)
    got = {
        r["id"]: list(r["signature"])
        for r in minhash_signatures(df, "doc_id", "text", 3, 64, 42).collect()
    }
    # original construction: functional Columns, same seeded family
    rnd = random.Random(42)
    coeffs = [
        (rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(64)
    ]
    sh = (
        df.select(F.col("doc_id").alias("id"), F.col("text").alias("__t__"))
        .select("id", tokens(F.lower(F.col("__t__"))).alias("toks"))
        .select(
            "id",
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("toks"), 3))
            ).alias("sh"),
        )
        .select("id", F.pmod(_md5_to_long(F.col("sh")), F.lit(_P)).alias("x"))
    )
    hash_cols = [
        F.min(F.pmod(F.lit(a) * F.col("x") + F.lit(b), F.lit(_P))).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(coeffs)
    ]
    exp = {
        r["id"]: [r[f"h{i}"] for i in range(64)]
        for r in sh.groupBy("id").agg(*hash_cols).collect()
    }
    assert got == exp


def test_simhash_signatures_match_functional_build(spark):
    df = _corpus(spark)
    got = {
        r["id"]: r["simhash"]
        for r in simhash_signatures(df, "doc_id", "text").collect()
    }
    tok = (
        df.select(F.col("doc_id").alias("id"), F.col("text").alias("__t__"))
        .select("id", F.explode(tokens(F.lower(F.col("__t__")))).alias("w"))
        .select("id", _md5_to_long(F.col("w")).alias("h"))
    )
    h = F.col("h")
    per, width, bits = 3, 20, 60
    packs = []
    for g in range((bits + per - 1) // per):
        expr = None
        for j in range(per):
            b = g * per + j
            if b >= bits:
                break
            e = F.shiftleft(F.shiftright(h, b).bitwiseAND(F.lit(1)), j * width)
            expr = e if expr is None else expr + e
        packs.append(F.sum(expr).alias(f"p{g}"))
    votes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *packs)
    mask = (1 << width) - 1
    terms = []
    for b in range(bits):
        g, j = divmod(b, per)
        cnt = f"(shiftright(p{g}, {j * width}) & {mask})"
        terms.append(
            f"(CASE WHEN 2 * {cnt} > n THEN CAST({1 << b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    exp = {
        r["id"]: r["simhash"]
        for r in votes.select(
            "id", F.expr("(" + " + ".join(terms) + ")").alias("simhash")
        ).collect()
    }
    assert got == exp


def test_band_signatures_match_functional_build(spark):
    df = _corpus(spark)
    sigs = minhash_signatures(df, "doc_id", "text", 3, 64, 42)
    got = sorted(
        (r["id"], r["band"], r["bucket"])
        for r in _band_signatures(sigs, 16, 4).collect()
    )
    exp_rows = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        F.col("signature"), bi * 4 + 1, 4
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(16)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    exp = sorted((r["id"], r["band"], r["bucket"]) for r in exp_rows.collect())
    assert got == exp


def _persistent_rdd_ids(spark):
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_jaccard_prefix_releases_prefix_cache(spark):
    df = _corpus(spark)
    before = _persistent_rdd_ids(spark)
    out = jaccard_prefix_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    out.count()
    after = _persistent_rdd_ids(spark)
    # sh AND the new prefix cache were both unpersisted; the only NEW
    # block is out's own localCheckpoint (ContextCleaner-released on
    # GC). Compare id SETS, not counts (ADVICE r13 #3): the session-
    # scoped ContextCleaner can asynchronously release an EARLIER
    # test's checkpoint blocks between the two reads, which would make
    # a count assertion flaky; ids it releases are in `before - after`,
    # never in `after - before`.
    assert len(after - before) == 1
