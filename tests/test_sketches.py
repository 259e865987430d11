"""training/sketches.py — Count-Min and HyperLogLog with portable hashing."""

import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.sketches import (
    count_min_build,
    count_min_estimate,
    hyperloglog_estimate,
    hyperloglog_registers,
)


def _words(spark, counts):
    rows = [(w,) for w, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, ["word"])


def test_count_min_never_underestimates(spark):
    counts = {f"w{i}": (i % 7) + 1 for i in range(200)}
    df = _words(spark, counts)
    sk = count_min_build(df, "word", depth=4, width=64)
    probes = spark.createDataFrame(
        [(w,) for w in list(counts)[:40]] + [("absent",)], ["word"]
    )
    est = {
        r["key"]: r["est"]
        for r in count_min_estimate(
            sk, probes, "word", depth=4, width=64
        ).collect()
    }
    for w in list(counts)[:40]:
        assert est[w] >= counts[w], w
    # the absent key may collide but is usually small; never negative
    assert est["absent"] >= 0


def test_count_min_wide_table_is_exactish(spark):
    counts = {f"k{i}": i + 1 for i in range(30)}
    df = _words(spark, counts)
    sk = count_min_build(df, "word", depth=4, width=4096)
    probes = spark.createDataFrame([(w,) for w in counts], ["word"])
    est = {
        r["key"]: r["est"]
        for r in count_min_estimate(
            sk, probes, "word", depth=4, width=4096
        ).collect()
    }
    # with 30 keys in 4096 buckets x 4 rows, collisions in ALL rows are
    # vanishingly unlikely -> exact counts
    assert est == counts


def test_count_min_mergeable(spark):
    counts = {f"w{i}": 3 for i in range(50)}
    df = _words(spark, counts)
    full = count_min_build(df, "word", depth=3, width=32).collect()
    # build on a repartitioned copy: identical table (order-independent)
    full2 = count_min_build(
        df.repartition(13), "word", depth=3, width=32
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, full2))


def test_hll_estimate_accuracy_and_determinism(spark):
    n = 5000
    df = spark.range(n).selectExpr("CAST(id AS STRING) AS k")
    regs = hyperloglog_registers(df, "k", p=10)
    est = hyperloglog_estimate(regs, p=10)
    assert est == pytest.approx(n, rel=0.1)  # ~3%/sqrt trick, 10% margin
    regs2 = hyperloglog_registers(df.repartition(17), "k", p=10)
    assert sorted(map(tuple, regs.collect())) == sorted(
        map(tuple, regs2.collect())
    )


def test_hll_small_range_linear_counting(spark):
    df = spark.range(10).selectExpr("CAST(id AS STRING) AS k")
    est = hyperloglog_estimate(hyperloglog_registers(df, "k", p=10), p=10)
    assert est == pytest.approx(10, abs=1.5)


def test_hll_rejects_bad_p(spark):
    df = spark.range(3).selectExpr("CAST(id AS STRING) AS k")
    with pytest.raises(ValueError):
        hyperloglog_registers(df, "k", p=2)


def test_sketch_plans(spark):
    from openeo_processes_dask_spark.diagnostics import plan_report

    df = spark.range(100).selectExpr("CAST(id AS STRING) AS k")
    r1 = plan_report(count_min_build(df, "k", depth=2, width=16))
    assert r1.python_free and r1.exchanges == 1  # one hash aggregate
    r2 = plan_report(hyperloglog_registers(df, "k", p=6))
    assert r2.python_free and r2.exchanges == 1


def test_stream_count_min_equals_batch(spark, tmp_path):
    from openeo_processes_dask_spark.training.sketches import (
        stream_count_min,
    )

    d = str(tmp_path / "cms_src")
    df = spark.range(500).selectExpr("CAST(id % 37 AS STRING) AS k")
    df.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema("k string").parquet(d)
    out = stream_count_min(stream, "k", depth=3, width=32)
    q = (
        out.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.table("cms_stream").collect())
    )
    exp = sorted(
        map(tuple, count_min_build(df, "k", depth=3, width=32).collect())
    )
    assert got == exp


def test_sketch_merges_equal_whole(spark):
    from openeo_processes_dask_spark.training.sketches import (
        count_min_merge,
        hyperloglog_merge,
    )

    df = spark.range(400).selectExpr("CAST(id % 53 AS STRING) AS k")
    a = df.where("id < 150")
    b = df.where("id >= 150")
    whole_cms = sorted(
        map(tuple, count_min_build(df, "k", depth=3, width=32).collect())
    )
    merged_cms = sorted(
        map(
            tuple,
            count_min_merge(
                count_min_build(a, "k", depth=3, width=32),
                count_min_build(b, "k", depth=3, width=32),
            ).collect(),
        )
    )
    assert whole_cms == merged_cms
    whole_hll = sorted(
        map(tuple, hyperloglog_registers(df, "k", p=8).collect())
    )
    merged_hll = sorted(
        map(
            tuple,
            hyperloglog_merge(
                hyperloglog_registers(a, "k", p=8),
                hyperloglog_registers(b, "k", p=8),
            ).collect(),
        )
    )
    assert whole_hll == merged_hll


def test_hll_relational_estimate_matches_driver_lane(spark):
    from openeo_processes_dask_spark.training.sketches import (
        hyperloglog_estimate,
        hyperloglog_estimate_relational,
        hyperloglog_registers,
    )

    df = spark.range(5000).select(F.col("id").cast("string").alias("k"))
    regs = hyperloglog_registers(df, "k", p=10)
    driver = hyperloglog_estimate(regs, p=10)
    rel = hyperloglog_estimate_relational(regs, p=10).collect()[0][
        "estimate"
    ]
    assert abs(rel - driver) < 1e-4  # same formula, same registers
    assert abs(rel - 5000) / 5000 < 0.10  # within HLL error at p=10


def test_hll_relational_linear_counting_branch(spark):
    from openeo_processes_dask_spark.training.sketches import (
        hyperloglog_estimate,
        hyperloglog_estimate_relational,
        hyperloglog_registers,
    )

    df = spark.range(30).select(F.col("id").cast("string").alias("k"))
    regs = hyperloglog_registers(df, "k", p=10)
    rel = hyperloglog_estimate_relational(regs, p=10).collect()[0][
        "estimate"
    ]
    assert abs(rel - hyperloglog_estimate(regs, p=10)) < 1e-4
    assert abs(rel - 30) < 5


def test_corpus_overlap_estimates_known_intersection(spark):
    from openeo_processes_dask_spark.training.sketches import corpus_overlap

    # A = [0, 8000), B = [4000, 12000): |A|=|B|=8000, inter=4000,
    # union=12000, jaccard=1/3
    a = spark.range(0, 8000).select(F.col("id").cast("string").alias("k"))
    b = spark.range(4000, 12000).select(
        F.col("id").cast("string").alias("k")
    )
    row = corpus_overlap(a, b, "k", p=10).collect()[0]
    assert abs(row["est_a"] - 8000) / 8000 < 0.10
    assert abs(row["est_b"] - 8000) / 8000 < 0.10
    assert abs(row["est_union"] - 12000) / 12000 < 0.10
    # intersection inherits the union's absolute error — wider band
    assert abs(row["est_intersection"] - 4000) / 4000 < 0.35
    assert abs(row["jaccard"] - 1 / 3) < 0.12
    # derived columns are exact functions of the rounded estimates
    assert row["est_intersection"] == round(
        round(row["est_a"] + row["est_b"] - row["est_union"], 6), 6
    )


# ---- quantile sketch (NEW r11) ----

def _qsk_rows(df):
    return {
        (r["__v__"], r["__h__"], r["__lvl__"], r["__level__"], r["__n__"])
        for r in df.collect()
    }


def test_quantile_sketch_merge_equals_whole(spark):
    """The merge LAW, exactly: sketch(A ∪ B) == merge(sketch(A),
    sketch(B)) as row SETS — the property the hash-threshold compaction
    buys over deterministic KLL."""
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch,
        quantile_sketch_merge,
    )

    rows = [(i, float((i * 37) % 1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, "uid int, v double")
    a = df.where(F.col("uid") % 2 == 0)
    b = df.where(F.col("uid") % 2 == 1)
    k = 256
    whole = quantile_sketch(df, "v", "uid", k=k)
    merged = quantile_sketch_merge(
        quantile_sketch(a, "v", "uid", k=k),
        quantile_sketch(b, "v", "uid", k=k),
        k=k,
    )
    assert _qsk_rows(whole) == _qsk_rows(merged)
    assert whole.count() <= k


def test_quantile_sketch_deterministic_under_partitioning(spark):
    from openeo_processes_dask_spark.training.sketches import quantile_sketch

    rows = [(i, float(i % 500)) for i in range(3000)]
    df = spark.createDataFrame(rows, "uid int, v double")
    one = _qsk_rows(quantile_sketch(df.coalesce(1), "v", "uid", k=128))
    many = _qsk_rows(quantile_sketch(df.repartition(13), "v", "uid", k=128))
    assert one == many


def test_quantile_sketch_accuracy(spark):
    """Rank error of each estimate within the sample bound (~n/sqrt(k));
    we assert a generous 5*n/sqrt(k) to stay flake-free."""
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch,
        quantile_sketch_estimates,
    )

    n = 20000
    vals = sorted(float((i * 7919) % 100000) for i in range(n))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "uid int, v double"
    )
    k = 1024
    est = {
        r["q"]: r["est"]
        for r in quantile_sketch_estimates(
            quantile_sketch(df, "v", "uid", k=k)
        ).collect()
    }
    tol = 5 * n / (k ** 0.5)
    import bisect

    for q, e in est.items():
        true_rank = q * (n - 1)
        got_rank = bisect.bisect_left(vals, e)
        assert abs(got_rank - true_rank) <= tol, (q, e, got_rank, true_rank)


def test_quantile_sketch_small_input_is_exact(spark):
    """n <= k keeps EVERY row (level 0) — estimates are exact order
    statistics."""
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch,
        quantile_sketch_estimates,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "uid int, v double"
    )
    sk = quantile_sketch(df, "v", "uid", k=1024)
    assert sk.count() == 100
    est = {
        r["q"]: r["est"]
        for r in quantile_sketch_estimates(sk, qs=(0.0, 0.5, 1.0)).collect()
    }
    assert est == {0.0: 0.0, 0.5: 49.0, 1.0: 99.0}


def test_quantile_sketch_nulls_and_empty(spark):
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch,
        quantile_sketch_estimates,
    )

    df = spark.createDataFrame(
        [(1, None), (2, 5.0)], "uid int, v double"
    )
    sk = quantile_sketch(df, "v", "uid", k=16)
    assert sk.count() == 1
    empty = quantile_sketch(df.where(F.lit(False)), "v", "uid", k=16)
    rows = quantile_sketch_estimates(empty, qs=(0.5,)).collect()
    assert rows[0]["est"] is None and rows[0]["n"] == 0


def test_stream_quantile_sketch_equals_batch_filter(spark, tmp_path):
    """The stateless streaming sketch drained over a file stream must
    equal the batch hash-threshold filter on the same rows; and
    survivors at level l+1 are a subset of level l (the re-leveling
    contract)."""
    from openeo_processes_dask_spark.training.sketches import (
        _qsk_hash,
        _qsk_level,
        stream_quantile_sketch,
    )

    rows = [(i, float(i % 97)) for i in range(2000)]
    df = spark.createDataFrame(rows, "uid bigint, v double")
    path = str(tmp_path / "qsk_stream")
    df.coalesce(2).write.parquet(path)
    stream = spark.readStream.schema("uid bigint, v double").parquet(path)
    out = stream_quantile_sketch(stream, "v", "uid", level=2)
    q = (
        out.writeStream.format("memory")
        .queryName("t_sqsk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["__v__"], r["__h__"]) for r in spark.table("t_sqsk").collect()
    }
    batch = df.select(
        F.col("v").alias("__v__"), _qsk_hash(F.col("uid")).alias("__h__")
    ).withColumn("__lvl__", _qsk_level(F.col("__h__")))
    exp2 = {
        (r["__v__"], r["__h__"])
        for r in batch.where(F.col("__lvl__") >= 2).collect()
    }
    exp3 = {
        (r["__v__"], r["__h__"])
        for r in batch.where(F.col("__lvl__") >= 3).collect()
    }
    assert got == exp2 and exp3 < exp2


def test_stream_quantile_sketch_level_bounds(spark):
    from openeo_processes_dask_spark.training.sketches import (
        stream_quantile_sketch,
    )

    df = spark.createDataFrame([(1, 1.0)], "uid bigint, v double")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="level must be"):
        stream_quantile_sketch(df, "v", "uid", level=-1)
    with _pytest.raises(ValueError, match="level must be"):
        stream_quantile_sketch(df, "v", "uid", level=61)


def test_grouped_quantile_sketch_equals_per_group_global(spark):
    """Per group, the relational level rule must reproduce EXACTLY what
    the global sketch's driver loop picks on that group's slice — same
    level, same n, same survivor rows."""
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch,
        quantile_sketch_grouped,
    )

    rows = [
        (i, f"g{i % 3}", float((i * 37) % 1000)) for i in range(4500)
    ]
    df = spark.createDataFrame(rows, "uid int, g string, v double")
    k = 64
    grouped = quantile_sketch_grouped(df, "v", "uid", "g", k=k)
    got = {
        (r["g"], r["__v__"], r["__h__"], r["__level__"], r["__n__"])
        for r in grouped.collect()
    }
    expect = set()
    for g in ("g0", "g1", "g2"):
        sk = quantile_sketch(df.where(F.col("g") == g), "v", "uid", k=k)
        expect |= {
            (g, r["__v__"], r["__h__"], r["__level__"], r["__n__"])
            for r in sk.collect()
        }
    assert got == expect


def test_grouped_quantile_sketch_small_groups_exact(spark):
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch_estimates_grouped,
        quantile_sketch_grouped,
    )

    rows = [(i, "a" if i < 100 else "b", float(i % 100)) for i in range(200)]
    df = spark.createDataFrame(rows, "uid int, g string, v double")
    sk = quantile_sketch_grouped(df, "v", "uid", "g", k=1024)
    est = {
        (r["g"], r["q"]): (r["est"], r["m_rows"], r["level"], r["n"])
        for r in quantile_sketch_estimates_grouped(
            sk, "g", qs=(0.0, 0.5, 1.0)
        ).collect()
    }
    # n <= k: every row kept (level 0), estimates exact order stats
    for g in ("a", "b"):
        assert est[(g, 0.0)] == (0.0, 100, 0, 100)
        assert est[(g, 0.5)][0] == 49.0
        assert est[(g, 1.0)][0] == 99.0


def test_grouped_quantile_sketch_merge_equals_whole(spark):
    """Per group, merge(sketch(A), sketch(B)) == sketch(A ∪ B) as row
    sets — the merge law, relationally, per group."""
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch_grouped,
        quantile_sketch_merge_grouped,
    )

    rows = [(i, f"g{i % 3}", float((i * 41) % 900)) for i in range(4200)]
    df = spark.createDataFrame(rows, "uid int, g string, v double")
    k = 64
    whole = quantile_sketch_grouped(df, "v", "uid", "g", k=k)
    merged = quantile_sketch_merge_grouped(
        quantile_sketch_grouped(
            df.where(F.col("uid") % 2 == 0), "v", "uid", "g", k=k
        ),
        quantile_sketch_grouped(
            df.where(F.col("uid") % 2 == 1), "v", "uid", "g", k=k
        ),
        group_cols="g",
        k=k,
    )
    key = lambda r: (r["g"], r["__v__"], r["__h__"], r["__level__"], r["__n__"])  # noqa: E731
    assert {key(r) for r in whole.collect()} == {
        key(r) for r in merged.collect()
    }


def test_hll_grouped_equals_global_per_slice(spark):
    """Per group, the grouped register table equals the global register
    table built on that group's slice — and so do the estimates."""
    from openeo_processes_dask_spark.training.sketches import (
        hyperloglog_estimate_grouped,
        hyperloglog_estimate_relational,
        hyperloglog_registers,
        hyperloglog_registers_grouped,
    )

    df = spark.range(6000).selectExpr(
        "CAST(id % 3 AS STRING) AS g", "CAST(id % 2100 AS STRING) AS k"
    )
    grouped = hyperloglog_registers_grouped(df, "k", "g", p=8)
    for g in ("0", "1", "2"):
        solo = hyperloglog_registers(df.where(F.col("g") == g), "k", p=8)
        got = {
            (r["bucket"], r["rho"])
            for r in grouped.where(F.col("g") == g).collect()
        }
        assert got == {(r["bucket"], r["rho"]) for r in solo.collect()}
        est_solo = hyperloglog_estimate_relational(solo, p=8).first()[
            "estimate"
        ]
        est_grp = {
            r["g"]: r["estimate"]
            for r in hyperloglog_estimate_grouped(grouped, "g", p=8).collect()
        }
        assert est_grp[g] == est_solo


def test_hll_grouped_merge_law_and_determinism(spark):
    """merge(regs(A), regs(B)) == regs(A ∪ B) per group, exactly; and
    the grouped registers are partitioning-invariant."""
    from openeo_processes_dask_spark.training.sketches import (
        hyperloglog_merge_grouped,
        hyperloglog_registers_grouped,
    )

    df = spark.range(4000).selectExpr(
        "CAST(id % 4 AS STRING) AS g", "CAST(id % 1500 AS STRING) AS k",
        "id",
    )
    whole = hyperloglog_registers_grouped(df, "k", "g", p=8)
    merged = hyperloglog_merge_grouped(
        hyperloglog_registers_grouped(df.where(F.col("id") % 2 == 0), "k", "g", p=8),
        hyperloglog_registers_grouped(df.where(F.col("id") % 2 == 1), "k", "g", p=8),
        group_cols="g",
    )
    key = lambda r: (r["g"], r["bucket"], r["rho"])  # noqa: E731
    assert {key(r) for r in whole.collect()} == {
        key(r) for r in merged.collect()
    }
    again = hyperloglog_registers_grouped(df.repartition(19), "k", "g", p=8)
    assert {key(r) for r in whole.collect()} == {
        key(r) for r in again.collect()
    }


def test_hll_grouped_estimate_accuracy(spark):
    """Per-group estimates land within the HLL error envelope of each
    group's true distinct count."""
    import pytest as _pytest

    from openeo_processes_dask_spark.training.sketches import (
        hyperloglog_estimate_grouped,
        hyperloglog_registers_grouped,
    )

    # group sizes 3000 / 1500 / 10 — the small group exercises the
    # per-group linear-counting branch
    df = spark.range(9010).selectExpr(
        "CASE WHEN id < 6000 THEN 'a' WHEN id < 9000 THEN 'b' "
        "ELSE 'c' END AS g",
        "CAST(CASE WHEN id < 6000 THEN id % 3000 "
        "WHEN id < 9000 THEN id % 1500 ELSE id END AS STRING) AS k",
    )
    regs = hyperloglog_registers_grouped(df, "k", "g", p=10)
    est = {
        r["g"]: r["estimate"]
        for r in hyperloglog_estimate_grouped(regs, "g", p=10).collect()
    }
    assert est["a"] == _pytest.approx(3000, rel=0.12)
    assert est["b"] == _pytest.approx(1500, rel=0.12)
    assert est["c"] == _pytest.approx(10, abs=2)


def test_count_min_grouped_equals_global_per_slice(spark):
    """Per group, the grouped CM table equals the global CM table built
    on that group's slice; estimates never underestimate."""
    from openeo_processes_dask_spark.training.sketches import (
        count_min_build,
        count_min_build_grouped,
        count_min_estimate_grouped,
    )

    df = spark.range(3000).selectExpr(
        "CAST(id % 2 AS STRING) AS g", "CAST(id % 37 AS STRING) AS k"
    )
    grouped = count_min_build_grouped(df, "k", "g", depth=3, width=32)
    for g in ("0", "1"):
        solo = count_min_build(
            df.where(F.col("g") == g), "k", depth=3, width=32
        )
        got = {
            (r["row"], r["bucket"], r["cnt"])
            for r in grouped.where(F.col("g") == g).collect()
        }
        assert got == {
            (r["row"], r["bucket"], r["cnt"]) for r in solo.collect()
        }
    probes = spark.createDataFrame([("5",), ("absent",)], ["k"])
    est = {
        (r["g"], r["key"]): r["est"]
        for r in count_min_estimate_grouped(
            grouped, probes, "g", key_col="k", depth=3, width=32
        ).collect()
    }
    # true per-group count of key "5": ids with id%37==5 and id%2==g
    for g in ("0", "1"):
        true = df.where(
            (F.col("k") == "5") & (F.col("g") == g)
        ).count()
        assert est[(g, "5")] >= true  # CM never underestimates
    assert est[("0", "absent")] >= 0 and est[("1", "absent")] >= 0


def test_count_min_grouped_merge_law(spark):
    """merge(cm(A), cm(B)) == cm(A ∪ B) per group, exactly."""
    from openeo_processes_dask_spark.training.sketches import (
        count_min_build_grouped,
        count_min_merge_grouped,
    )

    df = spark.range(2000).selectExpr(
        "CAST(id % 3 AS STRING) AS g", "CAST(id % 53 AS STRING) AS k",
        "id",
    )
    whole = count_min_build_grouped(df, "k", "g", depth=3, width=32)
    merged = count_min_merge_grouped(
        count_min_build_grouped(
            df.where(F.col("id") % 2 == 0), "k", "g", depth=3, width=32
        ),
        count_min_build_grouped(
            df.where(F.col("id") % 2 == 1), "k", "g", depth=3, width=32
        ),
        group_cols="g",
    )
    key = lambda r: (r["g"], r["row"], r["bucket"], r["cnt"])  # noqa: E731
    assert {key(r) for r in whole.collect()} == {
        key(r) for r in merged.collect()
    }


def test_stream_hll_equals_batch(spark, tmp_path):
    """The drained streaming HLL register table equals the batch build
    on the same rows (register max commutes)."""
    from openeo_processes_dask_spark.training.sketches import (
        stream_hll_registers,
    )

    d = str(tmp_path / "hll_src")
    df = spark.range(800).selectExpr("CAST(id % 333 AS STRING) AS k")
    df.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema("k string").parquet(d)
    out = stream_hll_registers(stream, "k", p=8)
    q = (
        out.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("hll_stream").collect()))
    exp = sorted(
        map(tuple, hyperloglog_registers(df, "k", p=8).collect())
    )
    assert got == exp


@pytest.mark.parametrize(
    "scope,step",
    [
        ("global", "build"),
        ("global", "merge"),
        ("grouped", "build"),
        ("grouped", "merge"),
    ],
)
def test_quantile_sketch_build_is_lazy(spark, scope, step):
    """Building a quantile sketch, or merging two, is ONE deferred plan:
    no eager level-count collect inside the builder. Pinned with the
    job-group counter: constructing the sketch launches ZERO jobs;
    consuming it launches at least one."""
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch,
        quantile_sketch_grouped,
        quantile_sketch_merge,
        quantile_sketch_merge_grouped,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 97).cast("double").alias("v"),
        F.col("id").alias("uid"),
        (F.col("id") % 3).alias("g"),
    )
    if scope == "global":
        groups = 1
        build = lambda d: quantile_sketch(d, "v", "uid", k=64)  # noqa: E731
        merge = lambda *s: quantile_sketch_merge(*s, k=64)  # noqa: E731
    else:
        groups = 3
        build = lambda d: quantile_sketch_grouped(  # noqa: E731
            d, "v", "uid", "g", k=64
        )
        merge = lambda *s: quantile_sketch_merge_grouped(  # noqa: E731
            *s, group_cols="g", k=64
        )
    sc = spark.sparkContext
    group = f"qsk_lazy_{scope}_{step}"
    sc.setJobGroup(group, "quantile_sketch build laziness")
    try:
        if step == "build":
            sk = build(df)
        else:
            sk = merge(
                build(df.where("uid < 2000")), build(df.where("uid >= 2000"))
            )
        built_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        n = sk.count()
        total_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert built_jobs == 0, f"builder ran {built_jobs} eager job(s)"
    assert total_jobs >= 1 and 0 < n <= 64 * groups


def test_zero_group_sketches_on_empty_input(spark):
    """The global sketches are the no-group case of the grouped bodies;
    on empty input they still answer: Count-Min probes read 0, both
    HLL estimates read 0.0, and two empty quantile sketches merge to an
    empty sketch."""
    from openeo_processes_dask_spark.training.sketches import (
        hyperloglog_estimate_relational,
        quantile_sketch,
        quantile_sketch_merge,
    )

    empty = spark.createDataFrame([], "uid long, k string, v double")
    probes = spark.createDataFrame([("a",), ("b",)], ["k"])
    est = count_min_estimate(
        count_min_build(empty, "k", depth=3, width=16), probes, "k",
        depth=3, width=16,
    ).collect()
    assert sorted((r["key"], r["est"]) for r in est) == [("a", 0), ("b", 0)]
    regs = hyperloglog_registers(empty, "k", p=8)
    assert hyperloglog_estimate(regs, p=8) == 0.0
    rel = hyperloglog_estimate_relational(regs, p=8).collect()
    assert [r["estimate"] for r in rel] == [0.0]
    a, b = (quantile_sketch(empty, "v", "uid", k=16) for _ in range(2))
    assert quantile_sketch_merge(a, b, k=16).count() == 0
