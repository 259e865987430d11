"""Partitioning helpers, stop-shingle cut, multi-year period labels."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.cube import DataCube
from openeo_processes_dask_spark.session import (
    repartition_spatial,
    repartition_temporal,
)


def test_repartition_helpers_preserve_results(small_cube, small_pdf):
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    for cube in (
        repartition_spatial(small_cube, 5),
        repartition_temporal(small_cube, 5),
    ):
        out = reduce_dimension(cube, "mean", "t")
        exp = small_pdf.groupby(["x", "y", "band"])["value"].mean().reset_index()
        got = out.df.toPandas().sort_values(["x", "y", "band"]).reset_index(drop=True)
        exp = exp.sort_values(["x", "y", "band"]).reset_index(drop=True)
        np.testing.assert_allclose(got.value.values, exp.value.values, rtol=1e-9)


def test_ngram_jaccard_stop_shingle_cut(spark):
    from openeo_processes_dask_spark.training.dedup import ngram_jaccard_pairs

    # "common prefix" shared by all docs; pair (1,2) also shares a rare tail
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over unique tail one two three"),
            (2, "the quick brown fox jumps over unique tail one two four"),
            (3, "the quick brown fox jumps over something else entirely here"),
        ],
        "doc_id bigint, text string",
    )
    full = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    cut = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.0, max_doc_freq=0.67
    )
    full_pairs = {(r.id1, r.id2): r.jaccard for r in full.collect()}
    cut_pairs = {(r.id1, r.id2): r.jaccard for r in cut.collect()}
    # universal shingles removed: doc 3 no longer pairs with 1/2 at all
    assert (1, 2) in cut_pairs
    assert (1, 3) in full_pairs and (1, 3) not in cut_pairs
    # and the surviving pair's similarity is now over rare shingles only
    assert cut_pairs[(1, 2)] < full_pairs[(1, 2)] + 1e-9


def test_connected_components_chain_and_clusters(spark):
    """Transitive chains collapse to one component; disjoint pairs stay
    separate; dedup_clusters reports canonical id + member count."""
    from openeo_processes_dask_spark.training.dedup import (
        connected_components,
        dedup_clusters,
    )

    # chain 1-2-3-4 (never directly 1-4) + isolated pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id1 bigint, id2 bigint"
    )
    comp = {
        r["id"]: r["comp"] for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    clusters = {
        r["keep_id"]: r["n_members"]
        for r in dedup_clusters(pairs).collect()
    }
    assert clusters == {1: 4, 10: 2}


def test_period_labels_multi_year(spark):
    """season / tropical-season / decade / year label expressions over a
    multi-year range (reference period table, tests/test_aggregate.py:101)."""
    from openeo_processes_dask_spark.operators.aggregate import (
        aggregate_temporal_period,
    )

    ts = pd.date_range("2018-01-15", "2021-12-15", freq="MS") + pd.Timedelta(days=14)
    rows = [(t.to_pydatetime(), float(i)) for i, t in enumerate(ts)]
    cube = DataCube(
        spark.createDataFrame(rows, "t timestamp, value double"), dims=("t",)
    )
    season = aggregate_temporal_period(cube, "season", "mean")
    # 48 months -> DJF,MAM,JJA,SON per year + edges = 17 distinct seasons
    n_seasons = season.df.count()
    assert n_seasons == 17, n_seasons
    trop = aggregate_temporal_period(cube, "tropical-season", "mean")
    assert trop.df.count() == 9
    year = aggregate_temporal_period(cube, "year", "mean")
    assert year.df.count() == 4
    decade = aggregate_temporal_period(cube, "decade", "mean")
    labels = sorted(r[0].year for r in decade.df.select("t").collect())
    assert labels == [2010, 2020]


@pytest.mark.parametrize(
    "reducer", ["sum", "min", "max", "count", "mean", "variance", "sd"]
)
def test_salted_reduce_matches_plain(small_cube, reducer):
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension
    from openeo_processes_dask_spark.session import salted_reduce

    plain = reduce_dimension(small_cube, reducer, "t").df.toPandas()
    salted = salted_reduce(small_cube, reducer, "t", n_salts=7).df.toPandas()
    keys = ["x", "y", "band"]
    p = plain.sort_values(keys).reset_index(drop=True)
    s = salted.sort_values(keys).reset_index(drop=True)
    assert len(p) == len(s)
    np.testing.assert_allclose(
        s.value.values.astype(float), p.value.values.astype(float), rtol=1e-9
    )


def test_salted_reduce_rejects_holistic(small_cube):
    from openeo_processes_dask_spark.session import salted_reduce

    with pytest.raises(ValueError):
        salted_reduce(small_cube, "median", "t")


@pytest.mark.parametrize("reducer", ["variance", "sd"])
def test_salted_reduce_degenerate_group_null(spark, reducer):
    """A group with exactly one valid value yields NULL like var_samp —
    must not raise DIVIDE_BY_ZERO under ANSI mode (ADVICE r01)."""
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.session import salted_reduce

    cube = DataCube(
        spark.createDataFrame(
            [("a", 0, 1.0), ("b", 0, 2.0), ("b", 1, 4.0)],
            "x string, t bigint, value double",
        ),
        dims=("x", "t"),
    )
    out = {
        r["x"]: r["value"]
        for r in salted_reduce(cube, reducer, "t").df.collect()
    }
    assert out["a"] is None
    expected = 2.0 if reducer == "variance" else 2.0 ** 0.5
    assert abs(out["b"] - expected) < 1e-12


def test_single_slice_guard_raises(spark, monkeypatch):
    """The no-grouping-dims applyInPandas fallback must refuse oversized
    cubes with a sized message instead of funnelling them into one task
    (VERDICT r03 #4)."""
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators import apply as apply_mod
    from openeo_processes_dask_spark.operators.apply import apply_dimension
    from openeo_processes_dask_spark.operators.udf import run_udf

    df = spark.range(100).select(
        F.col("id").alias("t"), (F.col("id") * 2.0).alias("value")
    )
    cube = DataCube(df, dims=("t",))
    monkeypatch.setattr(apply_mod, "SINGLE_SLICE_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="single-slice limit"):
        apply_dimension(cube, lambda s: s + 1, "t")
    # run_udf only takes the whole-cube-as-one-block path when there is no
    # band/temporal dim to chunk by — use a spatial-only cube
    xdf = spark.range(100).select(
        (F.col("id").cast("double")).alias("x"), (F.col("id") * 2.0).alias("value")
    )
    xcube = DataCube(xdf, dims=("x",))
    with pytest.raises(ValueError, match="single-slice limit"):
        run_udf(
            xcube,
            "def apply_datacube(cube, context):\n    return cube + 1\n",
            runtime="Python",
        )
    # under the limit the same calls succeed
    monkeypatch.setattr(apply_mod, "SINGLE_SLICE_MAX_ROWS", 10_000_000)
    assert apply_dimension(cube, lambda s: s + 1, "t").df.count() == 100


def test_aggregate_spatial_geometry_guard(spark, monkeypatch):
    """A million-polygon vector cube must fail with a sized message, not a
    driver OOM (VERDICT r03 #5)."""
    from openeo_processes_dask_spark.operators import aggregate_spatial as agg_mod

    vc = spark.createDataFrame(
        [(str(i), '{"type": "Point", "coordinates": [0.0, 0.0]}') for i in range(20)],
        "feature_id string, geometry string",
    )
    monkeypatch.setattr(agg_mod, "MAX_GEOMETRIES", 5)
    with pytest.raises(ValueError, match="driver-broadcast limit"):
        agg_mod._features_from(vc)
    monkeypatch.setattr(agg_mod, "MAX_GEOMETRIES", 100)
    assert len(agg_mod._features_from(vc)) == 20


def test_connected_components_star_chain(spark):
    """Large-star/small-star converges in O(log n) rounds on the
    adversarial chain graph (VERDICT r03 #8), within a per-round job
    budget, and labels a random branchy graph like a union-find."""
    import random

    from openeo_processes_dask_spark.training.dedup import (
        connected_components,
    )

    # 40-node chain: diameter 39, but ~2*log2(40) rounds (simulated: 7),
    # so a 10-round budget suffices
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id1 bigint, id2 bigint"
    )
    sc = spark.sparkContext
    sc.setJobGroup("star_cc_gate", "star cc job-count gate")
    star = connected_components(chain, max_iterations=10)
    got = {r["id"]: r["comp"] for r in star.collect()}
    sc.setJobGroup(None, None)
    assert got == {i: 0 for i in range(40)}
    # per-round cost gate (VERDICT r04 #6): the convergence test is one
    # driver-side count of a checkpointed relation per round plus a single
    # anti-join in the final round — the old count+count+subtract pattern
    # measured 120 jobs on this exact input vs 108 now (AQE job splitting
    # makes the absolute number noisy; 115 splits the two populations)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("star_cc_gate"))
    assert n_jobs <= 115, f"star CC round cost regressed: {n_jobs} jobs"

    # random graph: labels equal the minimum id of each union-find set
    rnd = random.Random(7)
    edges = [
        (rnd.randrange(60), rnd.randrange(60)) for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    pairs = spark.createDataFrame(edges, "id1 bigint, id2 bigint")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(pairs, max_iterations=20).collect()
    }
    assert got == {x: find(x) for x in parent}


def test_connected_components_long_chain_default_budget(spark):
    """A 64-node near-duplicate chain (diameter 63, above the default 50
    rounds) clusters under the default max_iterations: one component,
    and leakage_safe_split puts every node in one fold."""
    from openeo_processes_dask_spark.training.dedup import (
        connected_components,
    )
    from openeo_processes_dask_spark.training.sampling import (
        leakage_safe_split,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id1 bigint, id2 bigint"
    )
    comp = {r["id"]: r["comp"] for r in connected_components(chain).collect()}
    assert comp == {i: 0 for i in range(64)}
    docs = spark.createDataFrame([(i,) for i in range(64)], "doc_id bigint")
    split = leakage_safe_split(docs, chain).collect()
    assert len(split) == 64
    assert {r["comp_id"] for r in split} == {0}
    assert len({r["fold"] for r in split}) == 1


def test_segment_duplicates_chunks_and_paragraphs(spark):
    """Sub-document dedup: the shared 10-word boilerplate block dedups
    across docs that are NOT whole-document duplicates; paragraph mode
    splits on the separator regex."""
    from openeo_processes_dask_spark.training.dedup import segment_duplicates

    boiler = "this site uses cookies accept our policy to continue reading"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, boiler + " one two three four five six seven eight nine ten"),
            (3, "totally unrelated content with ten different words right here now"),
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    out = segment_duplicates(docs, "doc_id", "text", segment_words=10)
    rows = out.collect()
    assert len(rows) == 1  # only the boilerplate chunk repeats
    assert rows[0]["n_copies"] == 2
    assert rows[0]["n_docs"] == 2
    assert rows[0]["keep_id"] == 1

    para_docs = spark.createDataFrame(
        [
            (1, "shared footer text\n\nunique body one"),
            (2, "unique body two\n\nshared footer text"),
        ],
        "doc_id bigint, text string",
    )
    pout = segment_duplicates(
        para_docs, "doc_id", "text",
        segment_words=None, paragraph_regex=r"\n{2,}",
    ).collect()
    assert len(pout) == 1 and pout[0]["n_docs"] == 2

    with pytest.raises(ValueError, match="exactly one"):
        segment_duplicates(docs, "doc_id", "text",
                           segment_words=10, paragraph_regex=r"\n")


def test_decontaminate_flags_ngram_overlap(spark):
    """A train doc embedding a benchmark 8-gram is flagged; clean docs are
    not; the returned n_shared counts distinct offending shingles."""
    from openeo_processes_dask_spark.training.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "what is the capital of france the answer is paris of course")],
        "qid bigint, text string",
    )
    train = spark.createDataFrame(
        [
            # contains the benchmark 8-gram "what is the capital of france the answer"
            (1, "quiz leak what is the capital of france the answer is paris end"),
            (2, "completely clean document about cooking pasta with tomato sauce daily"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["id"]: r["n_shared"] for r in decontaminate(
        train, bench, "doc_id", "text", n=8
    ).collect()}
    assert 1 in out and 2 not in out
    assert out[1] >= 1


def test_connected_components_star_self_loops(spark):
    """Self-loop-only nodes keep a label of their own (regression: the
    a != b edge filter once dropped them silently)."""
    from openeo_processes_dask_spark.training.dedup import connected_components

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (7, 7)], "id1 bigint, id2 bigint"
    )
    got = {
        r["id"]: r["comp"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 5: 5, 7: 7}


def test_skew_split_join_equals_plain_join(spark):
    import pytest
    from pyspark.sql import functions as F

    from openeo_processes_dask_spark.session import skew_split_join

    # key 7 carries 80% of the left side; key None must survive a left join
    left = spark.createDataFrame(
        [(7, i) for i in range(400)]
        + [(i % 5, 1000 + i) for i in range(100)]
        + [(None, 9999)],
        "k int, lv int",
    )
    right = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], "k int, rv string"
    )
    for how in ("inner", "left"):
        plain = set(
            map(tuple, left.join(right, "k", how).select("k", "lv", "rv").collect())
        )
        split = set(
            map(
                tuple,
                skew_split_join(left, right, "k", hot_threshold=100, how=how)
                .select("k", "lv", "rv")
                .collect(),
            )
        )
        assert split == plain, how
    # explicit hot list + plan: the hot slice must broadcast
    from openeo_processes_dask_spark.diagnostics import plan_report

    out = skew_split_join(left, right, "k", hot_keys=[7])
    out.count()
    assert "BroadcastHashJoin" in plan_report(out).text
    with pytest.raises(ValueError):
        skew_split_join(left, right, "k")
    with pytest.raises(ValueError):
        skew_split_join(left, right, "k", hot_keys=[7], how="full")
