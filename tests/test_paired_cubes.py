"""merge_cubes case 2 and mask on co-derived cubes: when Catalyst proves
two cubes are two value columns of the same rows (``cube.paired_values``),
both operators read one relation instead of joining the cubes on every
dim. Pairs the plans cannot prove keep the join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.cube import DataCube, paired_values
from openeo_processes_dask_spark.operators import mask as mask_mod
from openeo_processes_dask_spark.operators import merge as merge_mod
from openeo_processes_dask_spark.operators.filters import filter_labels
from openeo_processes_dask_spark.operators.mask import mask
from openeo_processes_dask_spark.operators.merge import merge_cubes
from tests.test_entry_contract import SF_DIR

CELL = ("x", "pos")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _relations(df) -> int:
    """Leaf relations (parquet ``Relation [..]`` or ``LocalRelation [..]``)."""
    return _plan(df).count("Relation [")


def _joins(df) -> int:
    return _plan(df).count("Join ")


def _between(cube, lo, hi):
    return filter_labels(cube, lambda c: (c >= lo) & (c < hi), dimension="x")


def _lineitem(spark, read=None):
    from openeo_processes_dask_spark.sources.load import load_table

    li = load_table(spark, SF_DIR, "lineitem") if read is None else read()
    return li.select(F.col("l_orderkey").alias("x"), F.col("l_linenumber").alias("pos"), "*")


def _lineitem_cubes(spark, values, read=None):
    """Project-rooted cubes as perfbench's CubeInputs builds them: one
    ``load_table`` DataFrame, one select per value column."""
    li = _lineitem(spark, read)
    return [DataCube(li.select(*CELL, F.col(v).alias("value")), dims=CELL) for v in values]


def _cells(spark):
    from openeo_processes_dask_spark.gates.common import _li_cells

    return _li_cells(spark, SF_DIR)


def _cell_cubes(spark, values):
    """Aggregate-rooted cubes of the gates' ``_li_cells``."""
    cells = _cells(spark)
    return [DataCube(cells.select(*CELL, F.col(v).alias("value")), dims=CELL) for v in values]


def _build_jobs(spark, fn):
    """(result of ``fn()``, Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup("paired_build", "paired cube build")
    try:
        out = fn()
        jobs = len(sc.statusTracker().getJobIdsForGroup("paired_build"))
    finally:
        sc.setJobGroup(None, None)
    return out, jobs


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _no_pairing(monkeypatch):
    """Force the join path, as an unproven pair takes it."""
    for mod in (merge_mod, mask_mod):
        monkeypatch.setattr(mod, "paired_values", lambda *a, **k: None)


@pytest.mark.parametrize(
    "shape, values, source",
    [
        ("project", ("l_extendedprice", "l_discount"), _lineitem),
        ("aggregate", ("sep", "sd"), _cells),
    ],
)
def test_co_derived_cubes_merge_and_mask_in_one_relation(spark, shape, values, source):
    """Both plan shapes build with no Spark job into one relation with no
    join, and every row is its own pair: lineitem's (x, pos) repeats, so
    the expected values are computed row by row on the source."""
    cubes = _lineitem_cubes(spark, values) if shape == "project" else _cell_cubes(spark, values)
    p, d = (_between(c, 10, 400) for c in cubes)
    m = d.with_df(d.df.select(*CELL, (F.col("value") > 0.05).cast("int").alias("value")))
    merged, jobs = _build_jobs(spark, lambda: merge_cubes(p, d, overlap_resolver="multiply"))
    assert jobs == 0
    masked, jobs = _build_jobs(spark, lambda: mask(p, m, replacement=-1.0))
    assert jobs == 0
    for out in (merged, masked):
        assert out.df.columns == ["x", "pos", "value"]
        assert _joins(out.df) == 0 and _relations(out.df) == 1, _plan(out.df)
    pv, dv = (F.col(v) for v in values)
    rows = source(spark).where("x >= 10 AND x < 400")
    assert _rows(merged.df) == _rows(rows.select(*CELL, (pv * dv).alias("value")))
    expected = F.when(dv > 0.05, F.lit(-1.0)).otherwise(pv)
    assert _rows(masked.df) == _rows(rows.select(*CELL, expected.alias("value")))
    assert merged.df.count() > 0


def _null_labelled(spark):
    """Two value cubes of one relation whose x label is NULL on some rows."""
    rows = [(t, x, 10.0 * t + (x or 0)) for t in range(1, 4) for x in (0, 1, None)]
    src = spark.createDataFrame(rows, "t int, x int, value double")
    a = DataCube(src.select("t", "x", (F.col("value") * 2).alias("value")), dims=("t", "x"))
    b = DataCube(src.select("t", "x", (F.col("value") - 15).alias("value")), dims=("t", "x"))
    return a, b


def test_null_labels_match_the_join_path(spark, monkeypatch):
    """merge_cubes drops a NULL-labelled row, as the inner join did; mask
    leaves it unmasked, as the left join did."""
    a, b = _null_labelled(spark)
    assert paired_values(a.df, b.df, a.dims, "value") is not None
    merged = merge_cubes(a, b, overlap_resolver="add")
    masked = mask(a, b, replacement=0.0)
    assert _joins(merged.df) == 0 and _joins(masked.df) == 0
    _no_pairing(monkeypatch)
    assert _rows(merged.df) == _rows(merge_cubes(a, b, overlap_resolver="add").df)
    assert _rows(masked.df) == _rows(mask(a, b, replacement=0.0).df)
    assert all(r["x"] is not None for r in merged.df.collect())
    assert sum(r["x"] is None and r["value"] != 0.0 for r in masked.df.collect()) == 3


def _unproven_pairs(spark):
    from openeo_processes_dask_spark.sources.load import _read_parquet_nanosafe

    p, d = _lineitem_cubes(spark, ("l_extendedprice", "l_discount"))
    read = lambda: _read_parquet_nanosafe(spark, f"{SF_DIR}/lineitem.parquet")  # noqa: E731
    (p2,) = _lineitem_cubes(spark, ("l_extendedprice",), read=read)
    (d2,) = _lineitem_cubes(spark, ("l_discount",), read=read)
    keep_all = F.col("x") + F.rand(1) >= F.col("x")
    return {
        "different extents": (_between(p, 10, 400), _between(d, 10, 401)),
        "separate reads": (_between(p2, 10, 400), _between(d2, 10, 400)),
        "rand() filters": (p.with_df(p.df.where(keep_all)), d.with_df(d.df.where(keep_all))),
    }


@pytest.mark.parametrize("case", ["different extents", "separate reads", "rand() filters"])
def test_unproven_pairs_keep_the_join(spark, case):
    a, b = _unproven_pairs(spark)[case]
    assert paired_values(a.df, b.df, CELL, "value") is None
    out = merge_cubes(a, b, overlap_resolver="add")
    assert _joins(out.df) == 1
    m = b.with_df(b.df.select(*CELL, (F.col("value") > 0.05).cast("int").alias("value")))
    assert _joins(mask(a, m).df) == 1


def test_subset_dim_mask_keeps_the_join(spark):
    """A mask with fewer dims than the data broadcasts over the missing
    dims through the join on the shared ones."""
    rows = [(t, x, 10.0 * t + x) for t in range(1, 4) for x in range(3)]
    src = spark.createDataFrame(rows, "t int, x int, value double")
    data = DataCube(src.select("t", "x", (F.col("value") * 2).alias("value")), dims=("t", "x"))
    m = DataCube(src.where("x = 0").select("t", (F.col("t") > 1).alias("value")), dims=("t",))
    out = mask(data, m, replacement=0.0)
    assert _joins(out.df) == 1
    got = {(r["t"], r["x"]): r["value"] for r in out.df.collect()}
    assert got == {(t, x): 0.0 if t > 1 else 2 * (10.0 * t + x) for t in range(1, 4) for x in range(3)}
