"""Label lineage for merge_cubes and mask: cubes cut from one source by the
same label predicates are proven to share their dim labels from the
Catalyst plans (``cube.same_dim_rows``), so neither operator runs its
label probe; anything the plans cannot prove still reaches the probe."""

from __future__ import annotations

from pyspark.sql import functions as F

from openeo_processes_dask_spark.cube import DataCube, same_dim_rows
from tests.test_entry_contract import SF_DIR


def _grid(spark):
    """A full t x x grid (t in 1..4, x in 0..2), value = 10*t + x."""
    rows = [(t, float(x), 10.0 * t + x) for t in range(1, 5) for x in range(3)]
    df = spark.createDataFrame(rows, "t int, x double, value double")
    return DataCube(df, dims=("t", "x"), value_col="value")


def _between(cube, dim, lo, hi):
    from openeo_processes_dask_spark.operators.filters import filter_labels

    return filter_labels(cube, lambda c: (c >= lo) & (c < hi), dimension=dim)


def _keep_all(seed):
    """A nondeterministic predicate that holds on every row (rand() >= 0).
    Written against a column so the optimizer cannot fold it to true, as
    it folds ``rand() < 2``."""
    return F.col("t") + F.rand(seed) >= F.col("t")


def _counting_probe(monkeypatch):
    from openeo_processes_dask_spark.operators import merge as merge_mod

    calls: list[int] = []
    real = merge_mod._label_probe

    def _probe(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(merge_mod, "_label_probe", _probe)
    return calls


def test_same_dim_rows_proves_lineage_only(spark):
    g = _grid(spark)
    p = g.with_df(g.df.withColumn("value", F.col("value") * 2)).df
    d = g.df
    dims = ("t", "x")
    assert same_dim_rows(_between(g, "t", 2, 4).df, _between(g, "t", 2, 4).df, dims)
    # conjunct order and the value column do not matter
    a = p.filter(F.col("t") >= 2).filter(F.col("x") < 2)
    b = d.filter(F.col("x") < 2).filter(F.col("t") >= 2)
    assert same_dim_rows(a, b, dims)
    # extents differing by one label are not proven equal
    assert not same_dim_rows(_between(g, "t", 2, 4).df, _between(g, "t", 2, 5).df, dims)
    # dim names are quoted, not parsed
    odd = d.withColumnRenamed("t", "t.`1")
    assert same_dim_rows(odd, odd.withColumn("value", F.col("x")), ("t.`1", "x"))
    # a nondeterministic plan is never proven equal, even to itself
    r = d.filter(_keep_all(3))
    assert not same_dim_rows(r, r, dims)


def test_merge_different_extents_reach_probe_case3(spark, monkeypatch):
    """Extents t in [1, 3) and [2, 5): the plans differ, the probe runs and
    finds t the one differing dim with overlap at t=2 -> case 3."""
    from openeo_processes_dask_spark.operators.merge import merge_cubes

    g = _grid(spark)
    c1, c2 = _between(g, "t", 1, 3), _between(g, "t", 2, 5)
    calls = _counting_probe(monkeypatch)
    out = merge_cubes(c1, c2, overlap_resolver="add")
    assert calls == [1]
    got = {(r["t"], r["x"]): r["value"] for r in out.df.collect()}
    assert got == {
        (t, float(x)): (2 if t == 2 else 1) * (10.0 * t + x)
        for t in range(1, 5)
        for x in range(3)
    }


def test_merge_nondeterministic_filters_reach_probe(spark, monkeypatch):
    """The same seeded rand() filter (one that keeps every row) on both
    sides: the canonical plans are equal but nondeterministic, so equality
    is not proven; the probe runs and finds equal labels -> case 2 over
    the whole grid."""
    from openeo_processes_dask_spark.operators.merge import merge_cubes

    g = _grid(spark)
    c1 = g.with_df(g.df.filter(_keep_all(1)))
    c2 = g.with_df(g.df.filter(_keep_all(1)))
    calls = _counting_probe(monkeypatch)
    out = merge_cubes(c1, c2, overlap_resolver="add")
    assert calls == [1]
    got = {(r["t"], r["x"]): r["value"] for r in out.df.collect()}
    assert got == {
        (t, float(x)): 2 * (10.0 * t + x) for t in range(1, 5) for x in range(3)
    }


def test_mask_derived_from_data_runs_no_probe(spark, monkeypatch):
    """A temporal mask computed from the data cube by apply(gt) shares its
    t labels by lineage: mask() builds without the distinct/full-outer
    probe (no collect at all)."""
    from openeo_processes_dask_spark.operators.apply import apply
    from openeo_processes_dask_spark.operators.mask import mask
    from tests.conftest import concrete_dataframe_cls

    def _boom(self, *a, **kw):  # noqa: ANN001
        raise AssertionError("mask ran its label probe")

    g = _grid(spark)
    m = apply(g, lambda v: v > 25.0)
    monkeypatch.setattr(concrete_dataframe_cls(), "collect", _boom)
    out = mask(g, m, replacement=0.0)
    monkeypatch.undo()
    got = {(r["t"], r["x"]): r["value"] for r in out.df.collect()}
    assert got == {
        (t, float(x)): 0.0 if 10.0 * t + x > 25.0 else 10.0 * t + x
        for t in range(1, 5)
        for x in range(3)
    }


def test_merge_graph_filtered_gate_builds_without_jobs(spark):
    """The process-graph merge gate (no caller hint) must build with ZERO
    Spark jobs: plan equivalence replaces the label probe."""
    from openeo_processes_dask_spark.gates.core import q_merge_graph_filtered
    from openeo_processes_dask_spark.sources.load import load_table

    # the parquet schema read belongs to the source, not to the merge
    load_table(spark, SF_DIR, "lineitem")
    sc = spark.sparkContext
    sc.setJobGroup("merge_graph_build", "merge_graph_filtered build")
    try:
        df = q_merge_graph_filtered(spark, SF_DIR)
        jobs = len(sc.statusTracker().getJobIdsForGroup("merge_graph_build"))
    finally:
        sc.setJobGroup(None, None)
    assert jobs == 0, f"build ran {jobs} job(s)"
    assert df.columns == ["x", "pos", "value"]
    assert df.count() > 0
