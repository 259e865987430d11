"""Round-9 hardening pins: tests for the r8 code paths that shipped
untested (VERDICT r8 "What's wrong" #3) plus the r9 bounded probes —
quantiles q=1, the isotonic over-cap binned lane (+NaN scores), the
irregular-axis fallback and its cap, the Bloom NULL/''-vs-sentinel key
encoding, BPE pre-tokenization parity with the JVM whitespace contract,
the mask temporal-label error branches (incl. NULL labels on both
sides), and the no-driver-collect pins for the bucketed sink and
merge_cubes label probes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.cube import DataCube


# ---------------------------------------------------------------- quantiles


def test_quantiles_q1_empty(spark):
    """q=1 / probabilities=1 / probabilities=[1] mean ZERO inner break
    points — the reference returns an empty array (math.py:352-371),
    not an error (reducers.py:179-187, fixed r8)."""
    from openeo_processes_dask_spark.functions.reducers import quantiles

    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
    for kw in ({"q": 1}, {"probabilities": 1}, {"probabilities": [1]}):
        got = df.agg(quantiles(F.col("v"), **kw).alias("qs")).first()["qs"]
        assert got == [], kw
    # and ignore_nodata=False is moot for the empty case
    got = df.agg(
        quantiles(F.col("v"), ignore_nodata=False, q=1).alias("qs")
    ).first()["qs"]
    assert got == []


# ------------------------------------------------------------- isotonic


def test_isotonic_over_cap_binned_lane(spark):
    """More distinct scores than max_distinct_scores must take the
    equal-width pre-binning lane (classifier.py:241-272): output has at
    most `cap` rows, stays monotone non-decreasing in s, and keeps the
    exact total counts."""
    from openeo_processes_dask_spark.training.classifier import (
        isotonic_calibrate,
    )

    # 1000 distinct scores, labels noisily increasing with the score
    rows = [(i / 1000.0, 1 if (i * 2654435761 % 97) < i // 12 else 0)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "s double, y int")
    out = isotonic_calibrate(df, "s", "y", max_distinct_scores=100)
    got = sorted(
        ((r["s"], r["n"], r["n_pos"], r["calibrated"]) for r in out.collect())
    )
    assert 0 < len(got) <= 100
    assert sum(g[1] for g in got) == 1000
    cal = [g[3] for g in got]
    assert all(a <= b + 1e-9 for a, b in zip(cal, cal[1:]))
    assert all(0.0 <= c <= 1.0 for c in cal)


def test_isotonic_over_cap_counts_exact(spark):
    from openeo_processes_dask_spark.training.classifier import (
        isotonic_calibrate,
    )

    rows = [(float(i), i % 3 == 0) for i in range(500)]
    df = spark.createDataFrame(
        [(s, int(y)) for s, y in rows], "s double, y int"
    )
    out = isotonic_calibrate(df, "s", "y", max_distinct_scores=50).collect()
    assert sum(int(r["n"]) for r in out) == 500
    assert sum(int(r["n_pos"]) for r in out) == sum(
        1 for _, y in rows if y
    )


def test_isotonic_nan_scores_excluded(spark):
    """A NaN score must not poison the binned lane's (lo, hi) probe
    (ADVICE r8: hi=NaN made width NaN and pooled EVERY row into one
    bin). NaN and NULL rows are simply excluded."""
    from openeo_processes_dask_spark.training.classifier import (
        isotonic_calibrate,
    )

    rows = [(float(i), int(i >= 10)) for i in range(20)]
    df = spark.createDataFrame(rows, "s double, y int").unionByName(
        spark.createDataFrame(
            [(float("nan"), 1), (None, 0)], "s double, y int"
        )
    )
    out = isotonic_calibrate(df, "s", "y", max_distinct_scores=5).collect()
    assert sum(int(r["n"]) for r in out) == 20  # NaN/NULL rows dropped
    assert not any(
        r["s"] is None or r["s"] != r["s"] for r in out
    )  # and no NaN representative survives
    # more than one pool: the calibration did NOT degenerate to a constant
    assert len({r["calibrated"] for r in out}) > 1


# ------------------------------------------------------- axis geometry


def test_probe_regular_axis(spark):
    from openeo_processes_dask_spark.functions.axes import probe_regular_axis

    df = spark.range(0, 50).select(
        (F.lit(10.0) + F.col("id") * 2.5).alias("x")
    )
    lo, step, n, regular = probe_regular_axis(df, "x")
    assert regular and n == 50
    assert lo == pytest.approx(10.0) and step == pytest.approx(2.5)


def test_probe_irregular_axis_and_fallback(spark):
    """An axis with a gap is NOT on the (min,max,n) lattice — the probe
    reports irregular and the capped fallback recovers the true minimum
    spacing (resample._axis_geometry, VERDICT r8 #3)."""
    from openeo_processes_dask_spark.functions.axes import (
        collect_irregular_axis,
        probe_regular_axis,
    )
    from openeo_processes_dask_spark.operators.resample import _axis_geometry

    vals = [0.0, 1.0, 2.0, 3.0, 10.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    lo, step, n, regular = probe_regular_axis(df, "x")
    assert not regular and n == 5
    got_vals, got_step = collect_irregular_axis(df, "x", n)
    assert got_vals == vals and got_step == 1.0
    assert _axis_geometry(df, "x") == (0.0, 1.0, 5)


def test_irregular_axis_too_large_raises(spark, monkeypatch):
    from openeo_processes_dask_spark.functions import axes
    from openeo_processes_dask_spark.exceptions import IrregularAxisTooLarge

    monkeypatch.setattr(axes, "AXIS_COLLECT_CAP", 4)
    vals = [0.0, 1.0, 2.0, 3.0, 4.0, 11.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    _, _, n, regular = axes.probe_regular_axis(df, "x")
    assert not regular
    with pytest.raises(IrregularAxisTooLarge):
        axes.collect_irregular_axis(df, "x", n)


def test_probe_ignores_nulls_and_degenerate(spark):
    from openeo_processes_dask_spark.functions.axes import probe_regular_axis

    df = spark.createDataFrame(
        [(None,), (5.0,), (None,)], "x double"
    )
    assert probe_regular_axis(df, "x") == (5.0, 1.0, 1, True)
    empty = spark.createDataFrame([], "x double")
    assert probe_regular_axis(empty, "x") == (0.0, 1.0, 0, True)


# ------------------------------------------------------- bucketed sink


def test_bucketed_sink_regular_axis_never_collects_labels(
    spark, tmp_path, monkeypatch
):
    """The float-axis grid inference in save_cube_bucketed must be the
    bounded probe (VERDICT r8 #1): patch DataFrame.distinct to explode
    — the sink still writes, proving zero label collection on a regular
    axis."""
    from openeo_processes_dask_spark.sources.load import (
        create_fake_rastercube,
        save_cube_bucketed,
    )
    from tests.conftest import concrete_dataframe_cls

    DataFrame = concrete_dataframe_cls()

    cube = create_fake_rastercube(spark, size=(4, 3, 2, 2), seed=7)
    df = cube.df.cache()
    df.count()  # materialize before distinct is poisoned
    cube = cube.with_df(df)

    def _boom(self, *a, **kw):  # noqa: ANN001
        raise AssertionError(
            "save_cube_bucketed collected axis labels on a regular axis"
        )

    monkeypatch.setattr(DataFrame, "distinct", _boom)
    try:
        save_cube_bucketed(
            cube, "r9_probe_pin", n_buckets=2, path=str(tmp_path / "b")
        )
    finally:
        monkeypatch.undo()
        df.unpersist()
        spark.sql("DROP TABLE IF EXISTS r9_probe_pin")


def test_bucketed_sink_irregular_axis_rejected(spark, tmp_path):
    from openeo_processes_dask_spark.sources.load import save_cube_bucketed

    rows = [(x, 0.0, 1.0) for x in (0.0, 1.0, 2.0, 9.0)]
    df = spark.createDataFrame(rows, "x double, y double, value double")
    cube = DataCube(df, dims=("x", "y"), value_col="value")
    with pytest.raises(ValueError, match="regular grid"):
        save_cube_bucketed(
            cube, "r9_irregular", n_buckets=2, path=str(tmp_path / "c")
        )


# ------------------------------------------------------------ bloom keys


def test_bloom_key_null_empty_sentinel_distinct(spark):
    """NULL, '', and the literal strings 'n'/'v' must all encode to
    DISTINCT Bloom keys (bloom.py:29-40, fixed r8): concat_ws silently
    skips NULLs, which used to alias NULL with ''."""
    from openeo_processes_dask_spark.training.bloom import _key_sql

    df = spark.createDataFrame(
        [(None,), ("",), ("n",), ("v",)], "k string"
    )
    keys = [
        r["key"]
        for r in df.selectExpr(f"{_key_sql(['k'])} AS key").collect()
    ]
    assert len(set(keys)) == 4, keys

    # multi-column: (NULL, 'x') vs ('', 'x') vs ('n', 'x') distinct, and
    # no separator ambiguity between ('a','b') and ('a\x1fb', NULL-ish)
    df2 = spark.createDataFrame(
        [(None, "x"), ("", "x"), ("n", "x"), ("a", "b"), ("a\x1fb", None)],
        "k1 string, k2 string",
    )
    keys2 = [
        r["key"]
        for r in df2.selectExpr(f"{_key_sql(['k1', 'k2'])} AS key").collect()
    ]
    assert len(set(keys2)) == 5, keys2


# ----------------------------------------------------- BPE whitespace


def test_pretokenize_matches_jvm_whitespace_contract(spark):
    """bpe._pretokenize (Python) must split EXACTLY like the engine's
    JVM lane textanalysis.tokens (Java \\s+ — ASCII only): NBSP and
    em-space are NOT separators. str.split() (Unicode whitespace) is
    demonstrably different on these corpora — the r7/r8 divergence."""
    from openeo_processes_dask_spark.training.bpe import _pretokenize
    from openeo_processes_dask_spark.training.textanalysis import tokens

    cases = [
        "Hello\u00a0World more",      # NBSP inside a token
        "a\u2003b c",                  # em-space inside a token
        "x\u00a0",                     # trailing NBSP survives
        "\u00a0y",                     # leading NBSP survives
        "plain ascii words",
        "tabs\tand\nnewlines split",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    jvm = {
        r["text"]: [t for t in r["toks"] if t != ""]
        for r in df.select(
            "text", tokens(F.lower(F.col("text"))).alias("toks")
        ).collect()
    }
    for c in cases:
        assert _pretokenize(c, lowercase=True) == jvm[c], c
    # proof the old behavior differed: Unicode split breaks the NBSP case
    assert _pretokenize(cases[0], lowercase=True) != cases[0].lower().split()


def test_oracle_bpe_words_matches_engine_pretokenize():
    from openeo_processes_dask_spark.gates.oracle_builders import _bpe_words
    from openeo_processes_dask_spark.training.bpe import _pretokenize

    for c in (
        "Hello\u00a0World more", "a\u2003b c", "\u00a0y", "x\u00a0",
        "", None, "plain words", "A\tB\nC",
    ):
        assert _bpe_words(c) == _pretokenize(c, lowercase=True), c


# ------------------------------------------------------- mask branches


def _cube(spark, t_vals, tag, reverse=False):
    """``reverse=True`` gives the same rows in the opposite order: equal
    labels that the plans cannot prove equal, so merge_cubes falls back
    to its label probe."""
    rows = [(t, float(i), 1.0) for i, t in enumerate(t_vals)]
    if reverse:
        rows.reverse()
    df = spark.createDataFrame(rows, "t int, x double, value double")
    return DataCube(df, dims=("t", "x"), value_col="value")


def test_mask_temporal_label_count_mismatch(spark):
    from openeo_processes_dask_spark.exceptions import (
        DimensionLabelCountMismatch,
    )
    from openeo_processes_dask_spark.operators.mask import mask

    data = _cube(spark, [1, 2, 3], "d")
    m = _cube(spark, [1, 2], "m")
    with pytest.raises(DimensionLabelCountMismatch):
        mask(data, m)


def test_mask_temporal_label_value_mismatch(spark):
    from openeo_processes_dask_spark.exceptions import LabelMismatch
    from openeo_processes_dask_spark.operators.mask import mask

    data = _cube(spark, [1, 2, 3], "d")
    m = _cube(spark, [1, 2, 9], "m")
    with pytest.raises(LabelMismatch):
        mask(data, m)


def test_mask_null_temporal_label_on_both_sides_ok(spark):
    """A NULL label present in BOTH cubes is a MATCH (eqNullSafe probe,
    ADVICE r8) — the old null-unsafe join raised a spurious
    LabelMismatch here."""
    from openeo_processes_dask_spark.operators.mask import mask

    data = _cube(spark, [1, 2, None], "d")
    m = _cube(spark, [1, 2, None], "m")
    out = mask(data, m)
    assert out.df.count() >= 0  # no raise; plan executes


# ------------------------------------------------------- merge probes


def test_merge_same_lineage_skips_label_probe(spark, monkeypatch):
    """Two cubes from one source, no caller hint: plan equivalence proves
    their labels equal, so merge_cubes runs ZERO label-probe jobs."""
    from openeo_processes_dask_spark.operators import merge as merge_mod

    def _boom(*a, **kw):
        raise AssertionError("label probe ran for cubes of one lineage")

    monkeypatch.setattr(merge_mod, "_label_probe", _boom)
    c1 = _cube(spark, [1, 2], "a")
    c2 = c1.with_df(c1.df.withColumn("value", F.col("value") * 2))
    out = merge_mod.merge_cubes(c1, c2, overlap_resolver="add")
    # case 2: elementwise inner join on all dims — both cubes have rows
    # (t=1, x=0.0) and (t=2, x=1.0)
    assert out.df.count() == 2


def test_merge_probe_never_collects_labels_and_runs_one_job(
    spark, monkeypatch
):
    """The merge label probe is count-only (VERDICT r8 #8) AND single-job
    (VERDICT r9 #5): all shared dims probe through ONE collect of
    dim-tagged count rows — labels never reach the driver, and probe
    latency is flat in the dim count. Poison DataFrame.collect to prove
    both: at most one call, at most |dims| rows, and only the
    (__dim__, mismatched, both) probe schema."""
    from openeo_processes_dask_spark.operators.merge import merge_cubes
    from tests.conftest import concrete_dataframe_cls

    DataFrame = concrete_dataframe_cls()

    c1 = _cube(spark, [1, 2, 3], "a")
    c2 = _cube(spark, [1, 2, 3], "b", reverse=True)
    c1.df.cache().count()
    c2.df.cache().count()

    real_collect = DataFrame.collect
    calls: list[int] = []

    def _guard(self, *a, **kw):  # noqa: ANN001
        rows = real_collect(self, *a, **kw)
        calls.append(len(rows))
        assert len(rows) <= 2, "merge probe collected label values"
        for r in rows:
            assert set(r.asDict()) == {"__dim__", "mismatched", "both"}
        return rows

    monkeypatch.setattr(DataFrame, "collect", _guard)
    try:
        out = merge_cubes(c1, c2, overlap_resolver="add")
        monkeypatch.undo()
        assert len(calls) == 1, f"probe ran {len(calls)} jobs, expected 1"
        # case 2 inner join on (t, x): 3 matching rows
        assert out.df.count() == 3
    finally:
        monkeypatch.undo()
        c1.df.unpersist()
        c2.df.unpersist()


def test_merge_null_labels_on_both_sides_not_differing(spark):
    """NULL labels present on both sides must compare EQUAL in the
    probe (eqNullSafe) — else case 2 would spuriously become case 3."""
    from openeo_processes_dask_spark.operators.merge import merge_cubes

    c1 = _cube(spark, [1, None], "a")
    c2 = _cube(spark, [1, None], "b", reverse=True)
    out = merge_cubes(c1, c2, overlap_resolver="add")
    # identical label sets => case 2 elementwise inner join. The join
    # itself stays null-unsafe (a NULL coord aligns nowhere, like
    # xarray NaN coords), so only the t=1 row survives — but the PROBE
    # must classify the sets EQUAL; a spurious "differing" would
    # reroute to case 3 / raise on >1 differing dims.
    assert out.df.count() == 1
    assert out.df.first()["t"] == 1


def test_rename_labels_fallback_collects_bounded(spark, monkeypatch):
    """The enumerated-rename fallback must never collect more rows than
    len(target) (VERDICT r9 follow-on: the old code collected EVERY
    distinct label)."""
    from openeo_processes_dask_spark.operators.general import rename_labels
    from tests.conftest import concrete_dataframe_cls

    DataFrame = concrete_dataframe_cls()

    rows = [(i, float(i), 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "idx int, x double, value double")
    cube = DataCube(df, dims=("idx", "x"), value_col="value")
    df.cache().count()

    real_collect = DataFrame.collect

    def _guard(self, *a, **kw):  # noqa: ANN001
        out = real_collect(self, *a, **kw)
        assert len(out) <= 3, "rename_labels collected the full label set"
        return out

    monkeypatch.setattr(DataFrame, "collect", _guard)
    try:
        out = rename_labels(cube, "idx", target=[1000, 2000, 3000])
        monkeypatch.undo()
        got = sorted(
            r["idx"] for r in out.df.select("idx").distinct().collect()
        )
        assert got[:3] == [3, 1000, 2000] or 1000 in got
        assert 0 not in got and 1 not in got and 2 not in got
    finally:
        monkeypatch.undo()
        df.unpersist()


def test_probe_regular_axis_large_n_tolerance(spark):
    """ADVICE r8: at n ~ 2e6 the (val-lo)/step ratio reaches magnitudes
    where fixed-1e-6 tolerance can trip on float64 rounding of an
    honestly regular axis. The length-scaled tolerance must classify a
    2e6-label regular axis regular — in two aggregate jobs."""
    from openeo_processes_dask_spark.functions.axes import probe_regular_axis

    n = 2_000_000
    df = spark.range(0, n).select(
        (F.lit(-180.0) + F.col("id") * F.lit(0.00018)).alias("x")
    )
    lo, step, got_n, regular = probe_regular_axis(df, "x")
    assert regular, "length-scaled tolerance misclassified a regular axis"
    assert got_n == n
    assert lo == pytest.approx(-180.0)
    assert step == pytest.approx(0.00018, rel=1e-9)


def test_dedup_lanes_release_their_caches(spark, monkeypatch):
    """Every cache a dedup pair-lane creates must be unpersisted by the
    time the call returns (the PPJoin leak class, ADVICE r7): the
    returned pair set is checkpointed, the corpus-sized shingle or
    signature cache is released."""
    from tests.conftest import concrete_dataframe_cls

    DataFrame = concrete_dataframe_cls()

    from openeo_processes_dask_spark.training.dedup import (
        minhash_incremental,
        minhash_near_duplicates,
        minhash_signatures,
        ngram_jaccard_pairs,
        simhash_near_duplicates,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i % 7} tail {i % 3}")
         for i in range(40)],
        "doc_id int, text string",
    )
    seen_sigs = minhash_signatures(docs, "doc_id", "text")

    persisted, unpersisted = [], []
    real_p, real_u = DataFrame.persist, DataFrame.unpersist

    def track_p(self, *a, **kw):  # noqa: ANN001
        persisted.append(id(self))
        return real_p(self, *a, **kw)

    def track_u(self, *a, **kw):  # noqa: ANN001
        unpersisted.append(id(self))
        return real_u(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "persist", track_p)
    monkeypatch.setattr(DataFrame, "unpersist", track_u)
    try:
        for call in (
            lambda: ngram_jaccard_pairs(docs, "doc_id", "text"),
            lambda: minhash_near_duplicates(docs, "doc_id", "text"),
            lambda: simhash_near_duplicates(docs, "doc_id", "text"),
            lambda: minhash_incremental(docs, seen_sigs),
        ):
            persisted.clear()
            unpersisted.clear()
            out = call()
            assert out.count() >= 0
            assert persisted, "lane no longer persists its working table"
            assert set(persisted) <= set(unpersisted), (
                "a persisted working table outlived the call"
            )
    finally:
        monkeypatch.undo()
