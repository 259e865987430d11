"""Cube operator suite vs pandas oracles (reference library-equivalence
pattern, tests/general_checks.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.cube import DataCube, DimensionNotAvailable
from openeo_processes_dask_spark.operators.aggregate import (
    aggregate_temporal,
    aggregate_temporal_period,
)
from openeo_processes_dask_spark.operators.apply import apply, apply_dimension
from openeo_processes_dask_spark.operators.filters import (
    filter_bands,
    filter_bbox,
    filter_labels,
    filter_temporal,
)
from openeo_processes_dask_spark.operators.general import (
    DimensionLabelCountMismatch,
    add_dimension,
    drop_dimension,
    rename_dimension,
    rename_labels,
    trim_cube,
)
from openeo_processes_dask_spark.operators.mask import mask, mask_polygon
from openeo_processes_dask_spark.operators.merge import (
    OverlapResolverMissing,
    merge_cubes,
)
from openeo_processes_dask_spark.operators.windows import (
    array_interpolate_linear,
    cummax,
    cumsum,
)
from tests.conftest import assert_cubes_close


def test_filter_temporal(small_cube, small_pdf):
    out = filter_temporal(small_cube, ["2018-05-10", "2018-05-25"])
    exp = small_pdf[
        (small_pdf.t >= "2018-05-10") & (small_pdf.t < "2018-05-25")
    ]
    assert out.df.count() == len(exp)


def test_filter_temporal_errors(small_cube):
    from openeo_processes_dask_spark.operators.filters import TemporalExtentEmpty

    with pytest.raises(TemporalExtentEmpty):
        filter_temporal(small_cube, ["2018-06-01", "2018-05-01"])


def test_filter_bbox(small_cube, small_pdf):
    out = filter_bbox(
        small_cube, {"west": 10.46, "east": 10.48, "south": 46.12, "north": 46.16}
    )
    exp = small_pdf[
        small_pdf.x.between(10.46, 10.48) & small_pdf.y.between(46.12, 46.16)
    ]
    assert out.df.count() == len(exp)


def test_filter_bands_and_labels(small_cube, small_pdf):
    out = filter_bands(small_cube, ["B02", "B08"])
    assert out.df.count() == len(small_pdf[small_pdf.band.isin(["B02", "B08"])])
    out = filter_labels(small_cube, lambda c: c.endswith("4"), "band")
    assert out.df.count() == len(small_pdf[small_pdf.band == "B04"])


def test_apply_expression(small_cube, small_pdf):
    out = apply(small_cube, lambda c: c * 2 + 1)
    exp = small_pdf.assign(value=small_pdf.value * 2 + 1)
    assert_cubes_close(out.df, exp)


def test_apply_dimension_shape_preserving(small_cube, small_pdf):
    out = apply_dimension(
        small_cube, lambda s: s - s.mean(), "t", preserves_labels=True
    )
    exp = small_pdf.copy()
    exp["value"] = exp.groupby(["x", "y", "band"])["value"].transform(
        lambda s: s - s.mean()
    )
    assert_cubes_close(out.df, exp)


def test_aggregate_temporal_explicit_bins(small_cube, small_pdf):
    out = aggregate_temporal(
        small_cube,
        intervals=[["2018-05-01", "2018-05-16"], ["2018-05-16", "2018-06-02"]],
        labels=["first-half", "second-half"],
        reducer="mean",
    )
    pdf = small_pdf.copy()
    pdf["t"] = np.where(
        pdf.t < pd.Timestamp("2018-05-16"), "first-half", "second-half"
    )
    exp = pdf.groupby(["x", "y", "band", "t"])["value"].mean().reset_index()
    exp = exp[["x", "y", "t", "band", "value"]]
    assert_cubes_close(out.df.select("x", "y", "t", "band", "value"), exp)


def test_aggregate_temporal_period_counts(small_cube):
    # bucket-count assertions like reference tests/test_aggregate.py:101-115
    out = aggregate_temporal_period(small_cube, "month", "mean")
    assert out.df.select("t").distinct().count() == 2  # May + June
    out = aggregate_temporal_period(small_cube, "dekad", "mean")
    assert out.df.select("t").distinct().count() == 4


def test_merge_cubes_elementwise(small_cube, small_pdf):
    doubled = apply(small_cube, lambda c: c * 2)
    out = merge_cubes(small_cube, doubled, overlap_resolver="add")
    exp = small_pdf.assign(value=small_pdf.value * 3)
    assert_cubes_close(out.df.select(*small_cube.dims, "value"), exp)


def test_merge_cubes_concat_dim(small_cube):
    out = merge_cubes(small_cube, small_cube)
    assert "cubes" in out.dims
    assert out.df.count() == small_cube.df.count() * 2


def test_merge_cubes_disjoint_labels(spark, small_cube, small_pdf):
    b1 = filter_bands(small_cube, ["B02", "B03"])
    b2 = filter_bands(small_cube, ["B04", "B08"])
    out = merge_cubes(b1, b2)
    assert out.df.count() == small_cube.df.count()
    with pytest.raises(OverlapResolverMissing):
        merge_cubes(filter_bands(small_cube, ["B02", "B03"]),
                    filter_bands(small_cube, ["B03", "B04"]))


def test_merge_cubes_broadcast_subcube(small_cube, small_pdf):
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    tmean = reduce_dimension(small_cube, "mean", "t")
    out = merge_cubes(small_cube, tmean, overlap_resolver="subtract")
    exp = small_pdf.copy()
    exp["value"] = exp["value"] - exp.groupby(["x", "y", "band"])[
        "value"
    ].transform("mean")
    assert_cubes_close(out.df.select(*small_cube.dims, "value"), exp)


def test_merge_cubes_case4_no_forced_broadcast(spark, small_cube, small_pdf):
    """The lower-dim cube may be terabytes (VERDICT r01 #2): case 4 must not
    force F.broadcast. With autoBroadcastJoinThreshold=-1 a forced hint
    would still produce a BroadcastExchange; the un-hinted plan must not."""
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    tmean = reduce_dimension(small_cube, "mean", "t")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = merge_cubes(small_cube, tmean, overlap_resolver="subtract")
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        # correctness unchanged on the shuffled-join path
        exp = small_pdf.copy()
        exp["value"] = exp["value"] - exp.groupby(["x", "y", "band"])[
            "value"
        ].transform("mean")
        assert_cubes_close(out.df.select(*small_cube.dims, "value"), exp)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_mask_and_replacement(small_cube, small_pdf):
    m = apply(small_cube, lambda c: (c > 0).cast("int"))
    out = mask(small_cube, m, replacement=-999.0)
    exp = small_pdf.assign(
        value=np.where(small_pdf.value > 0, -999.0, small_pdf.value)
    )
    assert_cubes_close(out.df, exp)


def test_mask_polygon(small_cube, small_pdf):
    # FIXTURES.md F4 polygon box
    poly = {
        "type": "Polygon",
        "coordinates": [[
            [10.47, 46.12], [10.48, 46.12], [10.48, 46.18],
            [10.47, 46.18], [10.47, 46.12],
        ]],
    }
    out = mask_polygon(small_cube, poly)
    got = out.df.toPandas()
    inside = small_pdf.x.between(10.4701, 46.1799) & False  # placeholder
    # Oracle: point-in-box is a plain range check for a rectangle
    inside = (
        (small_pdf.x > 10.47) & (small_pdf.x < 10.48)
        & (small_pdf.y > 46.12) & (small_pdf.y < 46.18)
    )
    assert got.value.notna().sum() == int(inside.sum())


def test_dimension_management(small_cube):
    c = add_dimension(small_cube, "model", "m1")
    assert c.dims == ("x", "y", "t", "band", "model")
    c2 = drop_dimension(c, "model")
    assert c2.dims == ("x", "y", "t", "band")
    c3 = rename_dimension(small_cube, "t", "time")
    assert "time" in c3.dims and c3.meta.role_of("time") == "temporal"
    c4 = rename_labels(small_cube, "band", source=["B02"], target=["blue"])
    labels = {r[0] for r in c4.df.select("band").distinct().collect()}
    assert labels == {"blue", "B03", "B04", "B08"}


def test_rename_labels_positional_and_enumerated(spark, small_cube):
    """source omitted (reference: cubes/general.py:197-211): full-length
    target renames positionally over sorted labels; shorter target is legal
    only for enumerated (0-based) labels; LabelExists/LabelMismatch guards."""
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.general import (
        LabelExists,
        LabelsNotEnumerated,
    )

    # full-length positional: sorted bands B02,B03,B04,B08 -> b,g,r,nir
    c = rename_labels(small_cube, "band", target=["b", "g", "r", "nir"])
    labels = {r[0] for r in c.df.select("band").distinct().collect()}
    assert labels == {"b", "g", "r", "nir"}

    # enumerated labels 0..3: shorter target renames the first len(target)
    enum = DataCube(
        spark.createDataFrame(
            [(i, "b", float(i)) for i in range(4)],
            "idx bigint, band string, value double",
        ),
        dims=("idx", "band"),
    )
    out = rename_labels(enum, "idx", target=[100, 200])
    assert {r[0] for r in out.df.select("idx").distinct().collect()} == {
        100, 200, 2, 3,
    }

    # non-enumerated labels + shorter target
    with pytest.raises(LabelsNotEnumerated):
        rename_labels(small_cube, "band", target=["b", "g"])
    # a target label colliding with an existing one
    with pytest.raises(LabelExists):
        rename_labels(small_cube, "band", target=["B03", "x", "y", "z"])
    # more targets than labels
    with pytest.raises(DimensionLabelCountMismatch):
        rename_labels(small_cube, "band", target=list("abcde"))


def test_trim_cube(small_cube):
    masked = apply(small_cube, lambda c: F.when(F.col("band") != "B02", c))
    out = trim_cube(masked)
    labels = {r[0] for r in out.df.select("band").distinct().collect()}
    assert labels == {"B03", "B04", "B08"}


def test_cumsum_vs_pandas(small_cube, small_pdf):
    out = cumsum(small_cube, "t")
    exp = small_pdf.sort_values("t").copy()
    exp["value"] = exp.groupby(["x", "y", "band"])["value"].cumsum()
    assert_cubes_close(out.df, exp)


def test_cummax_vs_pandas(small_cube, small_pdf):
    out = cummax(small_cube, "t")
    exp = small_pdf.sort_values("t").copy()
    exp["value"] = exp.groupby(["x", "y", "band"])["value"].cummax()
    assert_cubes_close(out.df, exp)


def test_interpolate_linear(spark):
    # rows as tuples, NOT via pandas: createDataFrame(pandas) turns None
    # into NaN (a valid double), while nodata in this engine is SQL NULL
    vals = [1.0, None, None, 4.0, None, None, 2.0, 4.0, None, 8.0]
    rows = [
        (x, float(p), v)
        for (x, p, v) in zip([0] * 5 + [1] * 5, list(range(5)) * 2, vals)
    ]
    df = spark.createDataFrame(rows, "x int, pos double, value double")
    cube = DataCube(df, dims=("x", "pos"))
    out = array_interpolate_linear(cube, "pos")
    got = (
        out.df.toPandas().sort_values(["x", "pos"]).reset_index(drop=True)
    )
    exp = [1.0, 2.0, 3.0, 4.0, None, None, 2.0, 4.0, 6.0, 8.0]
    np.testing.assert_allclose(
        got.value.astype(float).values,
        np.array(exp, dtype=float),
        equal_nan=True,
    )


def test_interpolate_linear_evaluates_each_window_once(spark):
    """The gap fill needs four window aggregates (last value and position
    before, first value and position after); the arithmetic reads them as
    columns, so the physical plan holds exactly four window expressions."""
    rows = [(x, float(p), None if p % 3 else float(p)) for x in range(2) for p in range(7)]
    df = spark.createDataFrame(rows, "x int, pos double, value double")
    out = array_interpolate_linear(DataCube(df, dims=("x", "pos")), "pos")
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("windowspecdefinition(") == 4, plan


def test_missing_dim_raises(small_cube):
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    with pytest.raises(DimensionNotAvailable):
        reduce_dimension(small_cube, "mean", "nope")
