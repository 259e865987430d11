"""Ordered-along-a-dimension ops: cumulatives, sort/order, interpolation
(reference: math.py:125-174, arrays.py:405-584 — SURVEY.md §2.5).

All lower to window functions partitioned by the non-target dims and ordered
by the target dim. The reference must materialize to sort (dask can't sort
lazily, reference: arrays.py:509-513) — Spark's distributed sort/window is a
genuine scale win the survey called out.

At 100 TB the partition key (all other dims) has high cardinality and each
window is |dim| rows — so windows parallelize across groups and no single
executor ever sees more than one slice.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

from openeo_processes_dask_spark.core import process
from openeo_processes_dask_spark.cube import DataCube, quoted


def _w(data: DataCube, dim: str) -> WindowSpec:
    keep = data.other_dims(dim)
    w = Window.orderBy(dim)
    if keep:
        w = Window.partitionBy(*keep).orderBy(dim)
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def _preserve_null(v: Column, out: Column) -> Column:
    """Cumulative ops keep nodata cells as nodata while skipping them in the
    running aggregate (reference cumsum/cumprod NaN-preserving behavior,
    math.py:125-174)."""
    return F.when(v.isNull(), F.lit(None)).otherwise(out)


@process
def cumsum(data: DataCube, dimension: str, ignore_nodata: bool = True) -> DataCube:
    dim = data.assert_dim(dimension)
    v = F.col(data.value_col)
    out = F.sum(v).over(_w(data, dim))
    out = _preserve_null(v, out) if ignore_nodata else out
    return data.with_df(data.df.withColumn(data.value_col, out))


@process
def cummin(data: DataCube, dimension: str, ignore_nodata: bool = True) -> DataCube:
    dim = data.assert_dim(dimension)
    v = F.col(data.value_col)
    out = F.min(v).over(_w(data, dim))
    out = _preserve_null(v, out) if ignore_nodata else out
    return data.with_df(data.df.withColumn(data.value_col, out))


@process
def cummax(data: DataCube, dimension: str, ignore_nodata: bool = True) -> DataCube:
    dim = data.assert_dim(dimension)
    v = F.col(data.value_col)
    out = F.max(v).over(_w(data, dim))
    out = _preserve_null(v, out) if ignore_nodata else out
    return data.with_df(data.df.withColumn(data.value_col, out))


@process
def cumproduct(
    data: DataCube, dimension: str, ignore_nodata: bool = True
) -> DataCube:
    """Running product via exp∘sum∘ln with zero/sign bookkeeping — stays a
    single window pass (same trick as the product reducer)."""
    dim = data.assert_dim(dimension)
    w = _w(data, dim)
    v = F.col(data.value_col)
    zeros_so_far = F.sum(F.when(v == 0, 1).otherwise(0)).over(w)
    neg_odd = F.pmod(F.sum(F.when(v < 0, 1).otherwise(0)).over(w), F.lit(2)) == 1
    log_sum = F.sum(F.log(F.abs(F.nullif(v.cast("double"), F.lit(0.0))))).over(w)
    magnitude = F.exp(F.coalesce(log_sum, F.lit(0.0)))
    out = F.when(zeros_so_far > 0, F.lit(0.0)).otherwise(
        F.when(neg_odd, -magnitude).otherwise(magnitude)
    )
    out = _preserve_null(v, out) if ignore_nodata else out
    return data.with_df(data.df.withColumn(data.value_col, out))


def _pos_window(data: DataCube, dim: str, order_cols) -> WindowSpec:
    keep = data.other_dims(dim)
    if keep:
        return Window.partitionBy(*keep).orderBy(*order_cols)
    return Window.orderBy(*order_cols)


@process
def order(
    data: DataCube,
    dimension: str,
    asc: bool = True,
    nodata: Optional[bool] = None,
) -> DataCube:
    """argsort along a dim (stable; reference: arrays.py:498-535): the value
    at output position p is the *input index* of the p-th element in sorted
    order. nodata=None drops nulls; True/False puts them last/first."""
    dim = data.assert_dim(dimension)
    v = F.col(data.value_col)
    df = data.df
    if nodata is None:
        df = df.where(v.isNotNull())
        val_order = v.asc() if asc else v.desc()
    elif nodata:  # nulls last
        val_order = v.asc_nulls_last() if asc else v.desc_nulls_last()
    else:  # nulls first
        val_order = v.asc_nulls_first() if asc else v.desc_nulls_first()
    # original position along the dim (computed before the value sort)
    idx = F.row_number().over(_pos_window(data, dim, [F.col(dim)])) - 1
    df = df.withColumn("__idx__", idx)
    # stable: ties broken by original index, like kind="mergesort"
    pos = F.row_number().over(
        _pos_window(data, dim, [val_order, F.col("__idx__")])
    ) - 1
    df = (
        df.withColumn(dim, pos)
        .withColumn(data.value_col, F.col("__idx__").cast("double"))
        .drop("__idx__")
    )
    roles = dict(data.meta.roles)
    roles[dim] = "other"
    return DataCube(
        df.select(*data.meta.dims, data.value_col),
        dims=data.meta.dims,
        value_col=data.value_col,
        roles=roles,
        crs=data.meta.crs,
        attrs=data.meta.attrs,
    )


@process
def sort(
    data: DataCube,
    dimension: str,
    asc: bool = True,
    nodata: Optional[bool] = None,
) -> DataCube:
    """Sorted values along a dim (reference: arrays.py:558-584). Output dim
    labels are the sorted position 0..n-1."""
    dim = data.assert_dim(dimension)
    v = F.col(data.value_col)
    df = data.df
    if nodata is None:
        df = df.where(v.isNotNull())
        val_order = v.asc() if asc else v.desc()
    elif nodata:
        val_order = v.asc_nulls_last() if asc else v.desc_nulls_last()
    else:
        val_order = v.asc_nulls_first() if asc else v.desc_nulls_first()
    pos = F.row_number().over(_pos_window(data, dim, [val_order, F.col(dim)])) - 1
    df = df.withColumn(dim, pos)
    roles = dict(data.meta.roles)
    roles[dim] = "other"
    return DataCube(
        df.select(*data.meta.dims, data.value_col),
        dims=data.meta.dims,
        value_col=data.value_col,
        roles=roles,
        crs=data.meta.crs,
        attrs=data.meta.attrs,
    )


@process
def rearrange(data: DataCube, order: Sequence[int], dimension: str) -> DataCube:  # noqa: A002
    """Take-by-permutation along a dim (reference: arrays.py:538-555):
    output position p holds the element at input index order[p]. The
    permutation is a broadcast literal joined against a row_number index."""
    dim = data.assert_dim(dimension)
    spark = data.df.sparkSession
    perm = spark.createDataFrame(
        [(p, int(src)) for p, src in enumerate(order)], ["__p__", "__src__"]
    )
    idx = F.row_number().over(_pos_window(data, dim, [F.col(dim)])) - 1
    df = data.df.withColumn("__idx__", idx)
    df = (
        df.join(F.broadcast(perm), df["__idx__"] == perm["__src__"], "inner")
        .withColumn(dim, F.col("__p__"))
        .drop("__idx__", "__p__", "__src__")
    )
    roles = dict(data.meta.roles)
    roles[dim] = "other"
    return DataCube(
        df.select(*data.meta.dims, data.value_col),
        dims=data.meta.dims,
        value_col=data.value_col,
        roles=roles,
        crs=data.meta.crs,
        attrs=data.meta.attrs,
    )


@process
def array_interpolate_linear(data: DataCube, dimension: str) -> DataCube:
    """Linear interpolation of interior nodata runs along a dim, labels as
    x-coordinates (reference: arrays.py:405-458) — the classic Spark
    gap-fill: last non-null before + first non-null after + label-distance
    weighting. Leading/trailing nodata stays nodata (np.interp interior-only
    semantics per the reference tests)."""
    dim = data.assert_dim(dimension)
    v, lab = quoted(data.value_col), quoted(dim)
    keep = ", ".join(map(quoted, data.other_dims(dim)))
    # numeric position of a label on the interpolation axis
    pos = (
        f"unix_micros(CAST({lab} AS TIMESTAMP)) / 1000000.0D"
        if dict(data.df.dtypes)[dim].startswith("timestamp")
        else f"CAST({lab} AS DOUBLE)"
    )
    over = f"OVER ({f'PARTITION BY {keep} ' if keep else ''}ORDER BY {lab} ROWS BETWEEN "
    before = over + "UNBOUNDED PRECEDING AND 1 PRECEDING)"
    after = over + "1 FOLLOWING AND UNBOUNDED FOLLOWING)"
    known_pos = f"CASE WHEN {v} IS NOT NULL THEN __pos__ END"
    # the four window aggregates are materialized once each; the
    # arithmetic reads them as columns. try_divide: duplicate labels make
    # __np__ == __pp__; under ANSI mode a plain / would error the whole
    # job instead of yielding NULL
    df = (
        data.df.selectExpr("*", f"{pos} AS __pos__")
        .selectExpr(
            "*",
            f"last({v}, true) {before} AS __pv__",
            f"last({known_pos}, true) {before} AS __pp__",
            f"first({v}, true) {after} AS __nv__",
            f"first({known_pos}, true) {after} AS __np__",
        )
        .selectExpr(
            *map(quoted, data.meta.dims),
            f"CASE WHEN {v} IS NOT NULL THEN {v}"
            " WHEN __pv__ IS NOT NULL AND __nv__ IS NOT NULL"
            " THEN __pv__ + try_divide(__pos__ - __pp__, __np__ - __pp__) * (__nv__ - __pv__)"
            f" END AS {v}",
        )
    )
    return data.with_df(df)
