"""Extended operator-parity gate queries (resample kernels, merges, CRS, arrays).

Sliced verbatim from the round-2 ``__spark_entry__.py`` (round 3 split);
query/oracle semantics unchanged. See gates/__init__.py for registry order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .common import (
    _round6n,
    _CELLS_CTE,
    _GRID_CTE,
    _IDX_CTE,
    _RECT,
    _RECT_SQL,
    _cells_cube,
    _events_cube,
    _grid_cube,
    _li_cells,
    _round6,
    _setup,
    _table,
)
from .oracle_builders import (
    _SqlOps,
    _crs_laea_oracle_sql,
    _crs_stereo_oracle_sql,
    _crs_utm_oracle_sql,
    _multimodal_av_oracle_sql,
    _multimodal_resize_oracle_sql,
    _resample_kernel_oracle_sql,
)

def q_filter_spatial(spark, sf_dir):
    """filter_spatial: bbox crop + point-in-polygon drop
    (reference: cubes/_filter.py:152-168)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.filters import filter_spatial

    return filter_spatial(_grid_cube(spark, sf_dir), _RECT).df


def q_mask_polygon(spark, sf_dir):
    """mask_polygon with a replacement value
    (reference: cubes/mask_polygon.py:27-163)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.mask import mask_polygon

    return mask_polygon(_grid_cube(spark, sf_dir), _RECT, replacement=-1.0).df


def q_apply_polygon(spark, sf_dir):
    """apply_polygon: mask -> apply(sqrt) -> re-mask
    (reference: cubes/apply.py:185-219)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.mask import apply_polygon

    out = apply_polygon(_grid_cube(spark, sf_dir), _RECT, "sqrt")
    return _round6(out.df, "value")


def q_trim_cube(spark, sf_dir):
    """trim_cube: drop labels that are all-NULL along each non-spatial dim
    (reference: cubes/general.py:42-56); here band 'view' is nulled out."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.general import trim_cube

    cube = _events_cube(spark, sf_dir)
    nulled = cube.with_df(
        cube.df.withColumn(
            "value",
            F.when(F.col("band") == "view", F.lit(None).cast("double")).otherwise(
                F.col("value")
            ),
        )
    )
    return trim_cube(nulled).df.drop("__t_ns__")


def q_order_argsort(spark, sf_dir):
    """order(): stable argsort along a dim (reference: arrays.py:498-535)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.windows import order as order_op

    return order_op(_cells_cube(spark, sf_dir, dist="x"), "pos").df


def q_rearrange(spark, sf_dir):
    """rearrange: take-by-permutation [2, 0, 1] along the pos dim
    (reference: arrays.py:538-555)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.windows import rearrange

    return rearrange(_cells_cube(spark, sf_dir, dist="x"), [2, 0, 1], "pos").df


def q_resample_spatial_grid(spark, sf_dir):
    """resample_spatial: snap to a 100-unit grid, mean per cell
    (reference: cubes/resample.py:39-113)."""
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.resample import resample_spatial

    df = _table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("double").alias("x"),
        F.col("l_suppkey").cast("double").alias("y"),
        F.col("l_returnflag").alias("band"),
        F.col("l_quantity").alias("value"),
    )
    out = resample_spatial(
        DataCube(df, dims=("x", "y", "band")), resolution=100.0, method="mean"
    )
    return _round6(out.df, "value")


def q_resample_cube_spatial_coarse(spark, sf_dir):
    """resample_cube_spatial: regrid onto a target cube whose labels are
    floored multiples of 3 (reference: cubes/resample.py:116-180). No source
    label is ever equidistant to two targets, so the nearest map is
    deterministic on both sides."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.resample import (
        resample_cube_spatial,
    )

    data = _grid_cube(spark, sf_dir)
    target = data.with_df(
        data.df.select(
            (F.col("x") - F.col("x") % 3).alias("x"),
            (F.col("y") - F.col("y") % 3).alias("y"),
            "band",
            "value",
        )
    )
    out = resample_cube_spatial(data, target, method="mean")
    return _round6(out.df, "value")


def q_resample_cube_spatial_near(spark, sf_dir):
    """resample_cube_spatial method='near': target labels at grid+0.25 so
    every target has a UNIQUE nearest source (no tie-break dependence);
    each target label is fed by exactly one deterministic source
    (reference: cubes/resample.py:116-180, nearest reindex)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.resample import (
        resample_cube_spatial,
    )

    data = _grid_cube(spark, sf_dir)
    target = data.with_df(
        data.df.select(
            (F.floor(F.col("x") / 4) * 4 + 0.25).alias("x"),
            (F.floor(F.col("y") / 4) * 4 + 0.25).alias("y"),
            "band",
            "value",
        )
    )
    out = resample_cube_spatial(data, target, method="near")
    return _round6(out.df, "value")


def q_rename_labels_enumerated(spark, sf_dir):
    """rename_labels with source omitted (reference: cubes/general.py:
    197-211): x labels are enumerated 0..29, a 3-element target renames the
    first three positionally (sorted label order), rest unchanged."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.general import rename_labels

    out = rename_labels(
        _grid_cube(spark, sf_dir), "x", target=[-1.0, -2.0, -3.0]
    )
    return _round6(out.df, "value")


def q_reduce_quantiles(spark, sf_dir):
    """quantiles reducer (probabilities form): exact interpolated
    percentiles per (x, band), exploded to one row per probability
    (reference: math.py:341-387; Spark percentile == np.quantile linear ==
    DuckDB quantile_cont)."""
    _setup(spark)
    from openeo_processes_dask_spark.functions.reducers import quantiles

    df = _table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("x"),
        F.col("l_returnflag").alias("band"),
        F.col("l_quantity").alias("value"),
    )
    agg = df.groupBy("x", "band").agg(
        quantiles(F.col("value"), probabilities=[0.25, 0.75]).alias("qs")
    )
    return agg.select(
        "x", "band", F.posexplode("qs").alias("pos", "value")
    ).withColumn("value", F.round("value", 6))


def q_resample_cubic(spark, sf_dir):
    """resample_spatial method='cubic': bicubic Catmull-Rom warp via the
    separable tap-map join (operators/resample.py _resample_convolved).
    Oracle replays the same geometry probe + kernel polynomial in SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.resample import resample_spatial

    out = resample_spatial(_grid_cube(spark, sf_dir), resolution=2.5,
                           method="cubic")
    return _round6n(out.df, "value")


def q_apply_neighborhood_2d(spark, sf_dir):
    """apply_neighborhood with the reference's multi-dim size dict —
    reference-faithful STRIDED semantics (apply_neighborhood_intertwin.py:
    40-43): size 3×3 ⇒ window 3×3 at every 3rd position (non-overlapping
    tiling), median per tile. Median is deliberately non-convolutional —
    apply_kernel can't express it. Oracle joins each strided center to
    its |Δ|≤1 rectangle."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.kernel import apply_neighborhood

    out = apply_neighborhood(
        _grid_cube(spark, sf_dir), "median", size={"x": 3, "y": 3}
    )
    return _round6(out.df, "value")


def q_apply_neighborhood_2d_mean(spark, sf_dir):
    """apply_neighborhood dense 3×3 rolling mean — the reference's
    size≤0 + overlap spelling (stride clamps to 1) — routes to the
    SEPARABLE plan (operators/kernel.py _apply_neighborhood_separable):
    one integer-range window pass per dim, zero fan-out. Oracle is the
    direct rectangle self-join, so this gate proves the two-pass
    decomposition equals the true 2-D neighborhood mean."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.kernel import apply_neighborhood

    out = apply_neighborhood(
        _grid_cube(spark, sf_dir), "mean",
        size={"x": -1, "y": -1}, overlap={"x": 2, "y": 2},
    )
    return _round6(out.df, "value")


def q_resample_cubicspline(spark, sf_dir):
    """resample_spatial method='cubicspline' (B-spline smoothing kernel,
    odc resampling list)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.resample import resample_spatial

    out = resample_spatial(_grid_cube(spark, sf_dir), resolution=2.5,
                           method="cubicspline")
    return _round6n(out.df, "value")


def q_resample_lanczos(spark, sf_dir):
    """resample_spatial method='lanczos' (a=3 windowed sinc, 6 taps/axis)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.resample import resample_spatial

    out = resample_spatial(_grid_cube(spark, sf_dir), resolution=2.5,
                           method="lanczos")
    return _round6n(out.df, "value")


def q_resample_gauss(spark, sf_dir):
    """resample_spatial method='gauss' (σ=1 truncated Gaussian — completes
    the odc/GDAL resampling method list)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.resample import resample_spatial

    out = resample_spatial(_grid_cube(spark, sf_dir), resolution=2.5,
                           method="gauss")
    return _round6n(out.df, "value")


def q_resample_mode(spark, sf_dir):
    """resample_spatial method='mode': most frequent value per target cell,
    deterministic smallest-value tie-break."""
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.resample import resample_spatial

    df = _table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("double").alias("x"),
        F.col("l_suppkey").cast("double").alias("y"),
        F.col("l_returnflag").alias("band"),
        F.col("l_quantity").alias("value"),
    )
    out = resample_spatial(
        DataCube(df, dims=("x", "y", "band")), resolution=100.0, method="mode"
    )
    return _round6(out.df, "value")


def q_resample_rms(spark, sf_dir):
    """resample_spatial method='rms' (odc resampling list,
    reference cubes/resample.py:23-36)."""
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.resample import resample_spatial

    df = _table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("double").alias("x"),
        F.col("l_suppkey").cast("double").alias("y"),
        F.col("l_returnflag").alias("band"),
        F.col("l_quantity").alias("value"),
    )
    out = resample_spatial(
        DataCube(df, dims=("x", "y", "band")), resolution=100.0, method="rms"
    )
    return _round6(out.df, "value")


def q_apply_neighborhood_mean(spark, sf_dir):
    """apply_neighborhood: centered size-3 rolling mean along pos
    (reference: apply_neighborhood_intertwin.py:8-37)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.kernel import apply_neighborhood

    out = apply_neighborhood(_cells_cube(spark, sf_dir, dist="x"), "mean", "pos", size=3)
    return _round6(out.df, "value")


def q_cummax(spark, sf_dir):
    """cummax along pos (reference: math.py:125-174)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.windows import cummax

    return cummax(_cells_cube(spark, sf_dir, dist="x"), "pos").df


def q_cummin(spark, sf_dir):
    """cummin along pos (reference: math.py:125-174)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.windows import cummin

    return cummin(_cells_cube(spark, sf_dir, dist="x"), "pos").df


def q_cumproduct(spark, sf_dir):
    """cumproduct along pos (windowed exp∘sum∘ln; reference math.py:125-174).
    Compared in log space like reduce_product: exact running products land
    exactly on round boundaries, ln() moves them off the decimal grid."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.windows import cumproduct

    out = cumproduct(_cells_cube(spark, sf_dir, dist="x"), "pos")
    return out.df.withColumn("value", F.round(F.log(F.col("value")), 6))


def q_merge_concat(spark, sf_dir):
    """merge_cubes case 1 (same dims, same labels, no resolver): concat
    along a new 'cubes' dimension (reference: merge.py:91-104). Wrapped in
    inspect() so the debug pass-through is driver-exercised too."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.general import inspect
    from openeo_processes_dask_spark.operators.merge import merge_cubes

    g = _grid_cube(spark, sf_dir)
    doubled = g.with_df(g.df.withColumn("value", F.col("value") * 2))
    out = merge_cubes(g, doubled)
    out = inspect(out, message="merge_concat gate")
    return _round6(out.df.select("x", "y", "band", "cubes", "value"), "value")


def q_merge_disjoint_bands(spark, sf_dir):
    """merge_cubes case 3 with NO overlap (labels differ in the band dim):
    pure coordinate union (reference: merge.py:121-243)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.filters import filter_labels
    from openeo_processes_dask_spark.operators.merge import merge_cubes

    g = _grid_cube(spark, sf_dir)
    c1 = filter_labels(g, lambda c: c != "R", dimension="band")
    c2 = filter_labels(g, lambda c: c == "R", dimension="band")
    c2 = c2.with_df(c2.df.withColumn("value", F.col("value") * 2))
    out = merge_cubes(c1, c2)
    return _round6(out.df, "value")


def q_merge_case4_subcube(spark, sf_dir):
    """merge_cubes case 4 (differing dims): subtract the band-reduced mean
    cube from the full cube — the xarray broadcast case
    (reference: merge.py:245-291), now AQE-joined without a forced
    broadcast hint."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.merge import merge_cubes
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    g = _grid_cube(spark, sf_dir)
    bmean = reduce_dimension(g, "mean", "band")
    out = merge_cubes(g, bmean, overlap_resolver="subtract")
    # +0.0: value-minus-mean near zero — signed-zero hash hazard
    return out.df.withColumn("value", F.round(F.col("value"), 6) + F.lit(0.0))


def q_array_ops2(spark, sf_dir):
    """Second array-family gate: array_filter, array_apply, array_modify,
    array_find(max), array_labels (reference: arrays.py:144-402)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.arrays import (
        array_apply,
        array_filter,
        array_find,
        array_labels,
        array_modify,
    )

    cells = _li_cells(spark, sf_dir, dist="x")
    arrs = (
        cells.groupBy("x")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("sq")))
            ).alias("ps")
        )
        .select("x", F.transform(F.col("ps"), lambda s: s["sq"]).alias("arr"))
    )
    arr = F.col("arr")
    return arrs.select(
        "x",
        F.size(array_filter(arr, lambda v: v > 30)).alias("n_gt30"),
        F.round(
            F.element_at(array_apply(arr, lambda v: v * 2 + 1), 1), 6
        ).alias("app0"),
        F.size(array_modify(arr, [0.0, 0.0], index=1, length=1)).alias(
            "n_mod"
        ),
        array_find(arr, F.array_max(arr)).alias("find_max"),
        F.size(array_labels(arr)).alias("n_labels"),
    )


def q_rename_labels_dim(spark, sf_dir):
    """rename_dimension + rename_labels (reference: cubes/general.py:103-222)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.general import (
        rename_dimension,
        rename_labels,
    )

    cube = _events_cube(spark, sf_dir)
    cube = rename_dimension(cube, "user_id", "uid")
    cube = rename_labels(
        cube, "band", target=["c", "v", "p"], source=["click", "view", "purchase"]
    )
    return cube.df.drop("__t_ns__")


def q_dimension_labels(spark, sf_dir):
    """dimension_labels: distinct sorted labels of the band dim
    (reference: cubes/general.py:59-69)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.general import dimension_labels

    return dimension_labels(_events_cube(spark, sf_dir), "band")


def q_predict_curve_linear(spark, sf_dir):
    """fit_curve -> predict_curve with a linear model at labels [0, 10]
    (reference: ml/curve_fitting.py:100-162); OLS oracle via regr_*."""
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.ml.curve_fitting import (
        fit_curve,
        predict_curve,
    )

    cells = _li_cells(spark, sf_dir, dist="x").where(F.col("x") % 10 == 0)
    counts = cells.groupBy("x").count().where(F.col("count") >= 3).select("x")
    cells = cells.join(counts, "x")
    cube = DataCube(
        cells.select(
            "x", F.col("pos").cast("double").alias("pos"), F.col("sq").alias("value")
        ),
        dims=("x", "pos"),
        roles={"pos": "other"},
    )

    def model(p, t):
        return p[0] * t + p[1]

    params = fit_curve(cube, [0.0, 0.0], model, "pos")
    out = predict_curve(params, model, "pos", [0.0, 10.0])
    # +0.0 normalizes IEEE signed zero (same class as fit_curve_linear)
    return out.df.withColumn(
        "value", F.round(F.col("value"), 4) + F.lit(0.0)
    )


def q_array_ops(spark, sf_dir):
    """Array-process family over per-x value arrays: array_element,
    array_concat + array_append + array_create, first/last element, and a
    fold-left sum (reference: arrays.py:66-265,461-495)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.arrays import (
        array_append,
        array_concat,
        array_create,
        array_element,
        first_element,
        last_element,
    )

    cells = _li_cells(spark, sf_dir, dist="x")
    arrs = (
        cells.groupBy("x")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("sq")))
            ).alias("ps")
        )
        # materialize the values array ONCE — HOF lambdas re-evaluate
        # captured subexpressions per element (see shingles_from_tokens)
        .select("x", F.transform(F.col("ps"), lambda s: s["sq"]).alias("arr"))
    )
    arr = F.col("arr")
    return arrs.select(
        "x",
        array_element(arr, index=2).alias("elem2"),
        F.size(
            array_append(array_concat(arr, array_create([1.0, 2.0])), 3.0)
        ).alias("n_concat"),
        first_element(arr).alias("first_v"),
        last_element(arr).alias("last_v"),
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, v: a + v), 6).alias(
            "total"
        ),
    )


def q_ddmc(spark, sf_dir):
    """ddmc cloud composite over a 5-band cube built from lineitem positions
    (reference: experimental/ddmc.py:8-84)."""
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.experimental import ddmc

    cells = _li_cells(spark, sf_dir).where(F.col("pos") <= 5)
    band = (
        F.when(F.col("pos") == 1, "nir08")
        .when(F.col("pos") == 2, "nir09")
        .when(F.col("pos") == 3, "cirrus")
        .when(F.col("pos") == 4, "swir16")
        .when(F.col("pos") == 5, "swir22")
    )
    df = cells.select("x", band.alias("band"), F.col("sq").alias("value"))
    out = ddmc(DataCube(df, dims=("x", "band")))
    # +0.0: band-difference values can be exactly zero — signed-zero
    # convention (DIVERGENCES.md oracle conventions)
    return out.df.withColumn(
        "value", F.round(F.col("value"), 6) + F.lit(0.0)
    )


def q_resample_mercator(spark, sf_dir):
    """resample_spatial with a native EPSG:4326->3857 warp: the Mercator
    transform is composed as JVM expressions in front of the grid snap
    (functions/crs.py), so warp + regrid is one codegen'd stage + one
    shuffle. Rounding to 1000 km cells absorbs libm last-ulp differences
    between the JVM and DuckDB."""
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.resample import resample_spatial

    df = _table(spark, sf_dir, "lineitem").select(
        ((F.col("l_partkey") % 360).cast("double") - 179.5).alias("x"),
        ((F.col("l_suppkey") % 170).cast("double") - 84.5).alias("y"),
        F.col("l_returnflag").alias("band"),
        F.col("l_quantity").alias("value"),
    )
    cube = DataCube(df, dims=("x", "y", "band"), crs="EPSG:4326")
    out = resample_spatial(
        cube, resolution=1_000_000.0, projection="EPSG:3857", method="mean"
    )
    # +0.0 normalizes IEEE signed zero: cells in (-0.5e6, 0) snap to -0.0 in
    # DuckDB (libm round) but +0.0 in Spark (BigDecimal has no -0), which is
    # value-equal yet hash-different to the driver's byte compare.
    res = _round6(out.df, "value")
    return res.withColumn("x", F.col("x") + F.lit(0.0)).withColumn(
        "y", F.col("y") + F.lit(0.0)
    )


def q_vector_reproject(spark, sf_dir):
    """vector_reproject of nation-key points to EPSG:3857; coordinates are
    read back via geometry bounds and rounded (reference:
    cubes/geometries.py:149-170)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.vector import (
        geometry_bounds_df,
        load_geojson,
        vector_reproject,
    )

    n = _table(spark, sf_dir, "nation").collect()
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "id": str(r["n_nationkey"]),
                "geometry": {
                    "type": "Point",
                    "coordinates": [
                        float(r["n_nationkey"]) * 3.0 - 30.0,
                        float(r["n_regionkey"]) * 10.0 - 20.0,
                    ],
                },
                "properties": {"name": r["n_name"]},
            }
            for r in n
        ],
    }
    vc = vector_reproject(load_geojson(spark, fc), "EPSG:3857")
    b = geometry_bounds_df(vc)
    # +0.0 normalizes signed zero: lat=0 gives my = R*ln(tan(pi/4)) ~ -7e-10,
    # and round(-7e-10, 4) is -0.0 on one engine, +0.0 on the other --
    # np.allclose-equal but byte-different to the driver hash.
    return b.select(
        "feature_id",
        (F.round(F.col("bounds.west"), 4) + F.lit(0.0)).alias("mx"),
        (F.round(F.col("bounds.south"), 4) + F.lit(0.0)).alias("my"),
    )


def q_apply_dimension_dropnull(spark, sf_dir):
    """apply_dimension's SHAPE-CHANGING path (reference: cubes/apply.py:
    96-120): the callback drops nodata, so output length != input length
    and labels become the arange fallback (preserves_labels=False)."""
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.apply import apply_dimension

    cells = _li_cells(spark, sf_dir, dist="x")
    gappy = DataCube(
        cells.select(
            "x",
            F.col("pos").cast("double").alias("pos"),
            F.when(F.col("md") > 0.05, F.lit(None).cast("double"))
            .otherwise(F.col("sq"))
            .alias("value"),
        ),
        dims=("x", "pos"),
    )
    out = apply_dimension(
        gappy, lambda s: s.dropna(), "pos", preserves_labels=False
    )
    return out.df


def q_mask_triangle(spark, sf_dir):
    """mask_polygon with a NON-rectangular (triangle) polygon: exercises
    the actual ray-casting geometry. For a convex CCW polygon the oracle
    is the exact half-plane test (all edge cross-products positive); the
    half-integer vertices guarantee no grid point is ever collinear with
    an edge, so even-odd and half-plane semantics agree everywhere."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.mask import mask_polygon

    tri = {
        "type": "Polygon",
        "coordinates": [
            [[0.5, 0.5], [20.5, 2.5], [8.5, 9.5], [0.5, 0.5]]
        ],
    }
    return mask_polygon(_grid_cube(spark, sf_dir), tri, replacement=0.0).df


def q_resample_bilinear(spark, sf_dir):
    """Bilinear warp in long format (SURVEY hard-part #3 without halo
    exchange): metadata-sized (target -> 4 sources + weights) mapping
    table, broadcast join, weighted mean per target cell. The oracle
    replays the identical axis-geometry probe and weight arithmetic."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.resample import resample_spatial

    out = resample_spatial(
        _grid_cube(spark, sf_dir), resolution=2.5, method="bilinear"
    )
    return _round6(out.df, "value")


def q_salted_reduce(spark, sf_dir):
    """Two-stage salted reduce (session.salted_reduce): identical result
    to the plain hash aggregate, with the hot-group state spread across
    n_salts partial reducers — the manual skew lever behind AQE."""
    _setup(spark)
    from openeo_processes_dask_spark.session import salted_reduce

    cube = _events_cube(spark, sf_dir)
    out = salted_reduce(cube, "mean", "t", n_salts=8)
    return _round6(out.df, "value")


def q_crs_utm(spark, sf_dir):
    """EPSG:4326 -> EPSG:32632 (UTM zone 32N) warp as pure JVM expressions
    (functions/crs.py Krüger series). The oracle is the SAME generic
    formula emitted as DuckDB SQL by the _SqlOps shim — one series, three
    lanes; libm last-ulp differences vanish under round(2) (cm)."""
    _setup(spark)
    from openeo_processes_dask_spark.functions.crs import transform_xy_cols

    grid = _grid_cube(spark, sf_dir)
    lon = F.col("x") / F.lit(10.0) + F.lit(7.5)
    lat = F.col("y") / F.lit(10.0) + F.lit(45.0)
    e, n = transform_xy_cols(lon, lat, "EPSG:4326", "EPSG:32632")
    return grid.df.select(
        "x",
        "y",
        "band",
        F.round(e, 2).alias("easting"),
        F.round(n, 2).alias("northing"),
    )


def q_crs_laea(spark, sf_dir):
    """EPSG:4326 -> EPSG:3035 (ETRS89-extended LAEA Europe) warp as pure
    JVM expressions (functions/crs.py Snyder oblique ellipsoidal LAEA —
    the EU product grid, natively, no pyproj). Oracle: the SAME generic
    formula emitted as DuckDB SQL through the _SqlOps shim; round(2)
    absorbs libm last-ulp differences."""
    _setup(spark)
    from openeo_processes_dask_spark.functions.crs import transform_xy_cols

    grid = _grid_cube(spark, sf_dir)
    lon = F.col("x") / F.lit(10.0) + F.lit(7.5)
    lat = F.col("y") / F.lit(10.0) + F.lit(45.0)
    e, n = transform_xy_cols(lon, lat, "EPSG:4326", "EPSG:3035")
    return grid.df.select(
        "x",
        "y",
        "band",
        F.round(e, 2).alias("easting"),
        F.round(n, 2).alias("northing"),
    )


def q_crs_stereo(spark, sf_dir):
    """EPSG:4326 -> EPSG:3031 (Antarctic) and EPSG:3413 (NSIDC Arctic)
    polar stereographic warps as pure JVM expressions (functions/crs.py
    _ps_forward, EPSG Guidance 7-2 Variant B; validated against the
    Guidance worked example). Oracle: the SAME generic formula emitted as
    DuckDB SQL through the _SqlOps shim; round(2) absorbs libm last-ulp
    differences."""
    _setup(spark)
    from openeo_processes_dask_spark.functions.crs import transform_xy_cols

    grid = _grid_cube(spark, sf_dir)
    lon = F.col("x") * F.lit(12.0) - F.lit(174.0)
    lat_s = F.col("y") * F.lit(1.5) - F.lit(85.0)
    lat_n = F.col("y") * F.lit(2.0) + F.lit(65.0)
    es, ns = transform_xy_cols(lon, lat_s, "EPSG:4326", "EPSG:3031")
    en, nn = transform_xy_cols(lon, lat_n, "EPSG:4326", "EPSG:3413")
    return grid.df.select(
        "x",
        "y",
        "band",
        F.round(es, 2).alias("e_antarctic"),
        F.round(ns, 2).alias("n_antarctic"),
        F.round(en, 2).alias("e_arctic"),
        F.round(nn, 2).alias("n_arctic"),
    )


def q_multimodal_resize(spark, sf_dir):
    """resize_images: REAL nearest-neighbor resize over binary columns,
    verified byte-exactly — the gate md5-hashes every resized RGB payload
    and the oracle bakes independently-computed digests (deterministic
    fake decode) into a VALUES table."""
    _setup(spark)
    from openeo_processes_dask_spark.training.multimodal import (
        resize_images,
        synthetic_image_table,
    )

    tbl = synthetic_image_table(spark, n=32, width=16, height=12)
    out = resize_images(tbl, target_width=8, target_height=8)
    return out.select(
        "doc_id", "width", "height", F.md5("payload").alias("digest")
    )


def q_multimodal_av(spark, sf_dir):
    """Video frame-sampling + audio feature plumbing (mapInPandas 1->N row
    expansion, FFT features over fake-decoded waveforms). Oracle-checked:
    the generators are deterministic, so the oracle recomputes every frame
    mean and spectral centroid independently in NumPy (VERDICT r01 #8)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.multimodal import (
        audio_features,
        sample_video_frames,
        synthetic_audio_table,
        synthetic_video_table,
    )

    frames = sample_video_frames(
        synthetic_video_table(spark, n=8, n_frames=30), every_n=10
    ).select("doc_id", F.col("frame_idx").alias("idx"), F.round("mean_intensity", 6).alias("v"))
    audio = audio_features(synthetic_audio_table(spark, n=8)).select(
        "doc_id", F.lit(-1).alias("idx"), F.round("spectral_centroid", 6).alias("v")
    )
    return frames.unionByName(audio)


def q_rqa_trend(spark, sf_dir):
    """rqa_deforestation over per-user daily series (reference:
    experimental/rqadeforestation.py:9-16). The RQA TREND statistic is the
    OLS slope of recurrence rate vs diagonal distance, so DuckDB's
    regr_slope over an indexed self-join is an exact oracle. Groups shorter
    than 3 samples yield NaN in the engine and are excluded on both sides."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.aggregate import (
        aggregate_temporal_period,
    )
    from openeo_processes_dask_spark.operators.experimental import (
        rqa_deforestation,
    )

    cube = _events_cube(spark, sf_dir)
    daily = aggregate_temporal_period(cube, "day", "mean")
    out = rqa_deforestation(daily, threshold=10.0)
    # short groups produce NaN driver-side; Arrow maps pandas NaN to NULL,
    # and Spark's isnan(NULL) is false — filter both representations.
    # +0.0 normalizes signed zero: a trend slope that rounds to zero can
    # come out -0.0 from DuckDB's regr_slope (whose parallel accumulation
    # order varies run-to-run) and +0.0 here — intermittent hash breaker.
    filtered = out.df.where(F.col("value").isNotNull() & ~F.isnan("value"))
    return filtered.withColumn(
        "value", F.round(F.col("value"), 6) + F.lit(0.0)
    )


def q_text_ops(spark, sf_dir):
    """text_begins/contains/ends/concat scalar processes
    (reference: text.py:11-55)."""
    _setup(spark)
    from openeo_processes_dask_spark.functions.text import (
        text_begins,
        text_concat,
        text_contains,
        text_ends,
    )

    doc = _table(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        text_begins(F.col("text"), "the", case_sensitive=False).alias("b"),
        text_contains(F.col("text"), "and").alias("c"),
        text_ends(F.col("text"), ".").alias("e"),
        text_concat([F.col("lang"), F.col("source")], separator="-").alias("cc"),
    )


def q_interval_join(spark, sf_dir):
    """Bucketized range join (operators/interval.py interval_join): every
    event joined to every [purchase, purchase+2h] interval containing it
    — NO equi-key, which a naive BETWEEN join would execute as a nested
    loop. The operator explodes each interval onto its covered hour
    buckets and hash-joins on the bucket id with BETWEEN as residual;
    each event sits in exactly one bucket so no pair dedup is needed."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.interval import interval_join

    ev = _table(spark, sf_dir, "events")
    iv = ev.where(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 13 == 0)
    ).select(
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    j = interval_join(
        ev.select("ts", "value"), iv, "ts", "start", "end",
        bucket_seconds=3600,
    )
    return j.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )


def q_asof_join_events(spark, sf_dir):
    """Data-level as-of join (operators/interval.py asof_join, NEW r10):
    every click event aligned to the LATEST PRECEDING view of the same
    user — the pandas merge_asof / temporal-join pattern, executed as
    ONE union-sort window (no join node, nothing to degenerate into a
    BNLJ). Oracle: DuckDB's native ASOF JOIN."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.interval import asof_join

    ev = _table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        clicks, views, on="ts", by="user_id",
        direction="backward", how="inner",
    )


def q_asof_join_nearest(spark, sf_dir):
    """asof_join, nearest direction + tolerance + how='left': purchases
    matched to the NEAREST click of the same user within 30 minutes;
    out-of-tolerance or click-less purchases survive with NULL right
    columns. Oracle: per-left LATERAL top-1 by distance (ties to the
    earlier click, the documented backward preference)."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.interval import asof_join

    ev = _table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        purchases, clicks, on="ts", by="user_id",
        direction="nearest", tolerance=1800, how="left",
    )


def q_fill_forward_gaps(spark, sf_dir):
    """LOCF gap fill (operators/interval.py fill_forward, NEW r10):
    synthetic NULL gaps in the event values filled with each user's
    most recent non-NULL reading — ONE partitioned window (hash
    exchange + per-key sort), ties broken by event_id. Oracle: the
    identical IGNORE NULLS running window in DuckDB."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.interval import fill_forward

    ev = _table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 < 2, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return fill_forward(
        ev, "value", on="ts", by="user_id", tie_col="event_id"
    )


def q_fill_forward_bounded(spark, sf_dir):
    """Staleness-bounded LOCF (fill_forward max_gap, NEW r10): carried
    values older than 1 hour are NOT used — the sensor-pipeline
    variant. The oracle fills a (time, value) struct per column and
    applies the same gap bound."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.interval import fill_forward

    ev = _table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 < 2, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return fill_forward(
        ev, "value", on="ts", by="user_id", tie_col="event_id",
        max_gap=3600,
    )


QUERIES = {
    "asof_join_events": q_asof_join_events,
    "asof_join_nearest": q_asof_join_nearest,
    "fill_forward_gaps": q_fill_forward_gaps,
    "fill_forward_bounded": q_fill_forward_bounded,
    "resample_cubic": q_resample_cubic,
    "reduce_quantiles": q_reduce_quantiles,
    "resample_cubicspline": q_resample_cubicspline,
    "resample_gauss": q_resample_gauss,
    "apply_neighborhood_2d": q_apply_neighborhood_2d,
    "apply_neighborhood_2d_mean": q_apply_neighborhood_2d_mean,
    "resample_lanczos": q_resample_lanczos,
    "resample_mode": q_resample_mode,
    "resample_rms": q_resample_rms,
    "filter_spatial": q_filter_spatial,
    "mask_polygon": q_mask_polygon,
    "apply_polygon": q_apply_polygon,
    "trim_cube": q_trim_cube,
    "order_argsort": q_order_argsort,
    "rearrange": q_rearrange,
    "resample_spatial_grid": q_resample_spatial_grid,
    "resample_cube_spatial_coarse": q_resample_cube_spatial_coarse,
    "resample_cube_spatial_near": q_resample_cube_spatial_near,
    "rename_labels_enumerated": q_rename_labels_enumerated,
    "apply_neighborhood_mean": q_apply_neighborhood_mean,
    "cummax": q_cummax,
    "rename_labels_dim": q_rename_labels_dim,
    "dimension_labels": q_dimension_labels,
    "predict_curve_linear": q_predict_curve_linear,
    "array_ops": q_array_ops,
    "ddmc": q_ddmc,
    "text_ops": q_text_ops,
    "rqa_trend": q_rqa_trend,
    "resample_mercator": q_resample_mercator,
    "multimodal_av": q_multimodal_av,
    "multimodal_resize": q_multimodal_resize,
    "crs_utm": q_crs_utm,
    "crs_laea": q_crs_laea,
    "crs_stereo": q_crs_stereo,
    "cummin": q_cummin,
    "cumproduct": q_cumproduct,
    "merge_concat": q_merge_concat,
    "merge_disjoint_bands": q_merge_disjoint_bands,
    "merge_case4_subcube": q_merge_case4_subcube,
    "array_ops2": q_array_ops2,
    "salted_reduce": q_salted_reduce,
    "resample_bilinear": q_resample_bilinear,
    "mask_triangle": q_mask_triangle,
    "apply_dimension_dropnull": q_apply_dimension_dropnull,
    "vector_reproject": q_vector_reproject,
    "interval_join": q_interval_join,
}

ORACLES = {
    "fill_forward_gaps": """
            WITH gapped AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN event_id % 5 < 2 THEN NULL
                          ELSE value END AS value
              FROM events)
            SELECT event_id, user_id, ts,
                   last_value(value IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS value
            FROM gapped
        """,
    "fill_forward_bounded": """
            WITH gapped AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN event_id % 5 < 2 THEN NULL
                          ELSE value END AS value
              FROM events),
            f AS (
              SELECT event_id, user_id, ts,
                     last_value(CASE WHEN value IS NOT NULL
                       THEN struct_pack(t := epoch_us(ts), v := value) END
                       IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS obs
              FROM gapped)
            SELECT event_id, user_id, ts,
                   CASE WHEN epoch_us(ts) - obs.t <= 3600000000
                        THEN obs.v END AS value
            FROM f
        """,
    "asof_join_events": """
            WITH clicks AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'click'),
            views AS (
              SELECT user_id, ts, max(value) AS value FROM events
              WHERE event_type = 'view' GROUP BY 1, 2)
            SELECT c.event_id, c.user_id, c.ts, c.value,
                   v.ts AS right_ts, v.value AS right_value
            FROM clicks c ASOF JOIN views v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
    "asof_join_nearest": """
            WITH purchases AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase'),
            clicks AS (
              SELECT user_id, ts, max(value) AS value FROM events
              WHERE event_type = 'click' GROUP BY 1, 2)
            SELECT p.event_id, p.user_id, p.ts, p.value,
                   x.right_ts, x.right_value
            FROM purchases p LEFT JOIN LATERAL (
              SELECT c.ts AS right_ts, c.value AS right_value
              FROM clicks c
              WHERE c.user_id = p.user_id
                AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 1800000000
              ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)), c.ts
              LIMIT 1
            ) AS x ON TRUE
        """,
    "interval_join": """
            WITH iv AS (
              SELECT event_id AS interval_id, ts AS s,
                     ts + INTERVAL 2 HOUR AS e
              FROM events
              WHERE event_type = 'purchase' AND user_id % 13 = 0)
            SELECT interval_id, count(*) AS n_events,
                   round(sum(value), 6) AS value_sum
            FROM iv JOIN events ev ON ev.ts >= iv.s AND ev.ts <= iv.e
            GROUP BY 1
        """,
    "resample_cubic": lambda k="cubic": _resample_kernel_oracle_sql(k),
    "reduce_quantiles": """
            SELECT x, band, p.i - 1 AS pos, round(qs[p.i], 6) AS value
            FROM (SELECT l_suppkey AS x, l_returnflag AS band,
                         quantile_cont(l_quantity, [0.25, 0.75]) AS qs
                  FROM lineitem GROUP BY 1, 2),
                 (VALUES (1), (2)) p(i)
        """,
    "resample_cubicspline": lambda k="cubicspline": _resample_kernel_oracle_sql(k),
    "resample_gauss": lambda k="gauss": _resample_kernel_oracle_sql(k),
    "apply_neighborhood_2d": f"""
            WITH {_GRID_CTE}
            SELECT t.x, t.y, t.band, round(median(s.value), 6) AS value
            FROM (SELECT * FROM grid
                  WHERE CAST(x AS INT) % 3 = 0 AND CAST(y AS INT) % 3 = 0) t
            JOIN grid s ON s.band = t.band
              AND abs(s.x - t.x) <= 1 AND abs(s.y - t.y) <= 1
            GROUP BY 1, 2, 3
        """,
    "apply_neighborhood_2d_mean": f"""
            WITH {_GRID_CTE}
            SELECT t.x, t.y, t.band, round(avg(s.value), 6) AS value
            FROM grid t JOIN grid s ON s.band = t.band
              AND abs(s.x - t.x) <= 1 AND abs(s.y - t.y) <= 1
            GROUP BY 1, 2, 3
        """,
    "resample_lanczos": lambda k="lanczos": _resample_kernel_oracle_sql(k),
    "resample_mode": """
            WITH snapped AS (
              SELECT round(CAST(l_partkey AS DOUBLE) / 100) * 100 AS x,
                     round(CAST(l_suppkey AS DOUBLE) / 100) * 100 AS y,
                     l_returnflag AS band, l_quantity AS value
              FROM lineitem),
            counts AS (
              SELECT x, y, band, value, count(*) AS n
              FROM snapped GROUP BY ALL),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY x, y, band ORDER BY n DESC, value ASC) AS rn
              FROM counts)
            SELECT x, y, band, round(value, 6) AS value
            FROM ranked WHERE rn = 1
        """,
    "resample_rms": """
            SELECT round(CAST(l_partkey AS DOUBLE) / 100) * 100 AS x,
                   round(CAST(l_suppkey AS DOUBLE) / 100) * 100 AS y,
                   l_returnflag AS band,
                   round(sqrt(avg(value * value)), 6) AS value
            FROM (SELECT l_partkey, l_suppkey, l_returnflag,
                         l_quantity AS value FROM lineitem)
            GROUP BY 1, 2, 3
        """,
    "filter_spatial": f"""
            WITH {_GRID_CTE}
            SELECT x, y, band, value FROM grid WHERE {_RECT_SQL}
        """,
    "mask_polygon": f"""
            WITH {_GRID_CTE}
            SELECT x, y, band,
                   CASE WHEN {_RECT_SQL} THEN value ELSE -1.0 END AS value
            FROM grid
        """,
    "apply_polygon": f"""
            WITH {_GRID_CTE}
            SELECT x, y, band,
                   CASE WHEN {_RECT_SQL} THEN round(sqrt(value), 6) END AS value
            FROM grid
        """,
    "trim_cube": """
            WITH c AS (
              SELECT user_id, ts AS t, event_type AS band,
                     CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value
              FROM events),
            k1 AS (SELECT user_id FROM c GROUP BY 1 HAVING count(value) > 0),
            k2 AS (SELECT t FROM c GROUP BY 1 HAVING count(value) > 0),
            k3 AS (SELECT band FROM c GROUP BY 1 HAVING count(value) > 0)
            SELECT c.user_id, c.t, c.band, c.value
            FROM c JOIN k1 USING (user_id) JOIN k2 USING (t) JOIN k3 USING (band)
        """,
    "order_argsort": f"""
            WITH {_CELLS_CTE}, {_IDX_CTE}
            SELECT x,
                   row_number() OVER (PARTITION BY x ORDER BY sq, i) - 1 AS pos,
                   CAST(i AS DOUBLE) AS value
            FROM idx
        """,
    "rearrange": f"""
            WITH {_CELLS_CTE}, {_IDX_CTE}
            SELECT x,
                   CAST(CASE i WHEN 2 THEN 0 WHEN 0 THEN 1 ELSE 2 END AS BIGINT)
                     AS pos,
                   sq AS value
            FROM idx WHERE i <= 2
        """,
    "resample_spatial_grid": """
            SELECT round(CAST(l_partkey AS DOUBLE) / 100) * 100 AS x,
                   round(CAST(l_suppkey AS DOUBLE) / 100) * 100 AS y,
                   l_returnflag AS band, round(avg(l_quantity), 6) AS value
            FROM lineitem GROUP BY 1, 2, 3
        """,
    "resample_cube_spatial_coarse": f"""
            WITH {_GRID_CTE},
            tx AS (SELECT DISTINCT x - x % 3 AS t FROM grid),
            ty AS (SELECT DISTINCT y - y % 3 AS t FROM grid),
            sx AS (SELECT DISTINCT x AS s FROM grid),
            sy AS (SELECT DISTINCT y AS s FROM grid),
            mx AS (SELECT s, arg_min(t, abs(s - t)) AS t
                   FROM sx CROSS JOIN tx GROUP BY s),
            my AS (SELECT s, arg_min(t, abs(s - t)) AS t
                   FROM sy CROSS JOIN ty GROUP BY s)
            SELECT mx.t AS x, my.t AS y, g.band, round(avg(g.value), 6) AS value
            FROM grid g JOIN mx ON g.x = mx.s JOIN my ON g.y = my.s
            GROUP BY 1, 2, 3
        """,
    "resample_cube_spatial_near": f"""
            WITH {_GRID_CTE},
            tx AS (SELECT DISTINCT floor(x / 4) * 4 + 0.25 AS t FROM grid),
            ty AS (SELECT DISTINCT floor(y / 4) * 4 + 0.25 AS t FROM grid),
            sx AS (SELECT DISTINCT x AS s FROM grid),
            sy AS (SELECT DISTINCT y AS s FROM grid),
            mx AS (SELECT t, arg_min(s, abs(t - s)) AS s
                   FROM tx CROSS JOIN sx GROUP BY t),
            my AS (SELECT t, arg_min(s, abs(t - s)) AS s
                   FROM ty CROSS JOIN sy GROUP BY t)
            SELECT mx.t AS x, my.t AS y, g.band, round(g.value, 6) AS value
            FROM grid g JOIN mx ON g.x = mx.s JOIN my ON g.y = my.s
        """,
    "rename_labels_enumerated": f"""
            WITH {_GRID_CTE}
            SELECT CASE x WHEN 0 THEN -1.0 WHEN 1 THEN -2.0
                          WHEN 2 THEN -3.0 ELSE x END AS x,
                   y, band, round(value, 6) AS value
            FROM grid
        """,
    "apply_neighborhood_mean": f"""
            WITH {_CELLS_CTE}
            SELECT x, pos,
                   round(avg(sq) OVER (PARTITION BY x ORDER BY pos
                         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 6) AS value
            FROM cells
        """,
    "cummax": f"""
            WITH {_CELLS_CTE}
            SELECT x, pos, max(sq) OVER (PARTITION BY x ORDER BY pos) AS value
            FROM cells
        """,
    "rename_labels_dim": """
            SELECT user_id AS uid, ts AS t,
                   CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
                        WHEN 'purchase' THEN 'p' ELSE event_type END AS band,
                   value
            FROM events
        """,
    "dimension_labels": """
            SELECT DISTINCT event_type AS band FROM events
        """,
    "predict_curve_linear": f"""
            WITH {_CELLS_CTE},
            sel AS (SELECT x, CAST(pos AS DOUBLE) AS pos, sq FROM cells
                    WHERE x % 10 = 0),
            ok AS (SELECT x FROM sel GROUP BY x HAVING count(*) >= 3),
            fits AS (
              SELECT s.x, regr_slope(s.sq, s.pos) AS m,
                     regr_intercept(s.sq, s.pos) AS b
              FROM sel s JOIN ok USING (x) GROUP BY s.x)
            SELECT x, t.pos, round(m * t.pos + b, 4) + 0.0 AS value
            FROM fits CROSS JOIN (VALUES (0.0), (10.0)) t(pos)
        """,
    "array_ops": f"""
            WITH {_CELLS_CTE},
            arrs AS (SELECT x, list(sq ORDER BY pos) AS l FROM cells GROUP BY x)
            SELECT x,
                   CASE WHEN len(l) > 2 THEN l[3] END AS elem2,
                   len(l) + 3 AS n_concat,
                   l[1] AS first_v, l[-1] AS last_v,
                   round(list_sum(l), 6) AS total
            FROM arrs
        """,
    "ddmc": f"""
            WITH {_CELLS_CTE},
            piv AS (
              SELECT x,
                     max(CASE WHEN pos = 1 THEN sq END) AS nir08,
                     max(CASE WHEN pos = 2 THEN sq END) AS nir09,
                     max(CASE WHEN pos = 3 THEN sq END) AS cirrus,
                     max(CASE WHEN pos = 4 THEN sq END) AS swir16,
                     max(CASE WHEN pos = 5 THEN sq END) AS swir22
              FROM cells WHERE pos <= 5 GROUP BY x)
            SELECT x, b.band,
                   round(CASE b.band WHEN 'midcl' THEN (nir08 - nir09) * 2.5
                                     WHEN 'dc' THEN (cirrus - swir22) * 2.5
                                     ELSE (swir16 - cirrus) * 2.5 END, 6)
                     + 0.0 AS value
            FROM piv CROSS JOIN (VALUES ('midcl'), ('dc'), ('lowcl')) b(band)
        """,
    "text_ops": """
            SELECT doc_id,
                   starts_with(lower(text), 'the') AS b,
                   contains(text, 'and') AS c,
                   ends_with(text, '.') AS e,
                   concat_ws('-', coalesce(lang, 'null'),
                             coalesce(source, 'null')) AS cc
            FROM documents
        """,
    "rqa_trend": """
            WITH daily AS (
              SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS t,
                     event_type AS band, avg(value) AS v
              FROM events GROUP BY ALL),
            idx AS (
              SELECT user_id, band, v,
                     row_number() OVER (PARTITION BY user_id, band ORDER BY t) AS i,
                     count(*) OVER (PARTITION BY user_id, band) AS n
              FROM daily),
            pairs AS (
              SELECT a.user_id, a.band, b.i - a.i AS tau,
                     CAST(abs(a.v - b.v) < 10.0 AS DOUBLE) AS r
              FROM idx a JOIN idx b
                ON a.user_id = b.user_id AND a.band = b.band AND b.i > a.i
              WHERE a.n >= 3),
            rr AS (SELECT user_id, band, tau, avg(r) AS rr
                   FROM pairs GROUP BY ALL)
            SELECT user_id, band, round(regr_slope(rr, tau), 6) + 0.0 AS value
            FROM rr GROUP BY user_id, band
        """,
    "resample_mercator": """
            SELECT round((radians(x) * 6378137.0) / 1000000) * 1000000
                     + 0.0 AS x,
                   round((6378137.0 * ln(tan(pi()/4 + radians(y)/2)))
                         / 1000000) * 1000000 + 0.0 AS y,
                   band, round(avg(value), 6) AS value
            FROM (SELECT CAST(l_partkey % 360 AS DOUBLE) - 179.5 AS x,
                         CAST(l_suppkey % 170 AS DOUBLE) - 84.5 AS y,
                         l_returnflag AS band, l_quantity AS value
                  FROM lineitem)
            GROUP BY 1, 2, 3
        """,
    "multimodal_av": _multimodal_av_oracle_sql,
    "multimodal_resize": _multimodal_resize_oracle_sql,
    "crs_utm": _crs_utm_oracle_sql,
    "crs_laea": _crs_laea_oracle_sql,
    "crs_stereo": _crs_stereo_oracle_sql,
    "cummin": f"""
            WITH {_CELLS_CTE}
            SELECT x, pos, min(sq) OVER (PARTITION BY x ORDER BY pos) AS value
            FROM cells
        """,
    "cumproduct": f"""
            WITH {_CELLS_CTE}
            SELECT x, pos,
                   round(ln(product(sq) OVER (PARTITION BY x ORDER BY pos)),
                         6) AS value
            FROM cells
        """,
    "merge_concat": f"""
            WITH {_GRID_CTE}
            SELECT x, y, band, 'cube1' AS cubes, round(value, 6) AS value
            FROM grid
            UNION ALL
            SELECT x, y, band, 'cube2' AS cubes, round(value * 2, 6) AS value
            FROM grid
        """,
    "merge_disjoint_bands": f"""
            WITH {_GRID_CTE}
            SELECT x, y, band,
                   round(CASE band WHEN 'R' THEN value * 2 ELSE value END,
                         6) AS value
            FROM grid
        """,
    "merge_case4_subcube": f"""
            WITH {_GRID_CTE}
            SELECT x, y, band,
                   round(value - avg(value) OVER (PARTITION BY x, y), 6)
                     + 0.0 AS value
            FROM grid
        """,
    "array_ops2": f"""
            WITH {_CELLS_CTE},
            arrs AS (SELECT x, list(sq ORDER BY pos) AS l FROM cells GROUP BY x)
            SELECT x,
                   len(list_filter(l, z -> z > 30)) AS n_gt30,
                   round(l[1] * 2 + 1, 6) AS app0,
                   len(l) + CASE WHEN len(l) >= 2 THEN 1 ELSE 2 END AS n_mod,
                   list_position(l, list_max(l)) - 1 AS find_max,
                   len(l) AS n_labels
            FROM arrs
        """,
    "salted_reduce": """
            SELECT user_id, event_type AS band, round(avg(value), 6) AS value
            FROM events GROUP BY ALL
        """,
    "resample_bilinear": f"""
            WITH {_GRID_CTE},
            gx AS (SELECT min(v) AS o, max(v) AS m,
                          min(CASE WHEN d > 0 THEN d END) AS s, count(*) AS n
                   FROM (SELECT v, v - lag(v) OVER (ORDER BY v) AS d
                         FROM (SELECT DISTINCT x AS v FROM grid))),
            gy AS (SELECT min(v) AS o, max(v) AS m,
                          min(CASE WHEN d > 0 THEN d END) AS s, count(*) AS n
                   FROM (SELECT v, v - lag(v) OVER (ORDER BY v) AS d
                         FROM (SELECT DISTINCT y AS v FROM grid))),
            mapx AS (
              SELECT t.tx,
                     gx.o + (t.i0 + o.di) * gx.s AS sx,
                     CASE WHEN o.di = 0 THEN 1 - t.wx ELSE t.wx END AS wxv
              FROM (SELECT tx,
                           least(floor((tx - gx.o) / gx.s), gx.n - 2) AS i0,
                           (tx - gx.o) / gx.s
                             - least(floor((tx - gx.o) / gx.s), gx.n - 2) AS wx
                    FROM (SELECT gx.o + k.generate_series * 2.5 AS tx
                          FROM generate_series(0, 100000) k, gx
                          WHERE k.generate_series
                                <= floor((gx.m - gx.o) / 2.5 + 1e-9)),
                         gx) t,
                   gx, (VALUES (0), (1)) o(di)),
            mapy AS (
              SELECT t.ty,
                     gy.o + (t.j0 + o.dj) * gy.s AS sy,
                     CASE WHEN o.dj = 0 THEN 1 - t.wy ELSE t.wy END AS wyv
              FROM (SELECT ty,
                           least(floor((ty - gy.o) / gy.s), gy.n - 2) AS j0,
                           (ty - gy.o) / gy.s
                             - least(floor((ty - gy.o) / gy.s), gy.n - 2) AS wy
                    FROM (SELECT gy.o + k.generate_series * 2.5 AS ty
                          FROM generate_series(0, 100000) k, gy
                          WHERE k.generate_series
                                <= floor((gy.m - gy.o) / 2.5 + 1e-9)),
                         gy) t,
                   gy, (VALUES (0), (1)) o(dj)),
            mapping AS (
              SELECT tx, ty, sx, sy, wxv * wyv AS w
              FROM mapx CROSS JOIN mapy
              WHERE wxv * wyv > 0)
            SELECT m.tx AS x, m.ty AS y, g.band,
                   round(sum(m.w * g.value) / sum(m.w), 6) AS value
            FROM grid g JOIN mapping m ON g.x = m.sx AND g.y = m.sy
            GROUP BY 1, 2, 3
        """,
    "mask_triangle": f"""
            WITH {_GRID_CTE}
            SELECT x, y, band,
                   CASE WHEN
                          (20.0 * (y - 0.5) - 2.0 * (x - 0.5)) > 0
                      AND (-12.0 * (y - 2.5) + 7.0 * (20.5 - x)) > 0
                      AND (-8.0 * (y - 9.5) + 9.0 * (x - 8.5)) > 0
                   THEN value ELSE 0.0 END AS value
            FROM grid
        """,
    "apply_dimension_dropnull": f"""
            WITH {_CELLS_CTE},
            gappy AS (
              SELECT x, pos,
                     CASE WHEN md > 0.05 THEN NULL ELSE sq END AS v
              FROM cells)
            SELECT x,
                   row_number() OVER (PARTITION BY x ORDER BY pos) - 1 AS pos,
                   v AS value
            FROM gappy WHERE v IS NOT NULL
        """,
    "vector_reproject": """
            SELECT CAST(n_nationkey AS VARCHAR) AS feature_id,
                   round(radians(CAST(n_nationkey AS DOUBLE) * 3.0 - 30.0)
                         * 6378137.0, 4) + 0.0 AS mx,
                   round(6378137.0 * ln(tan(pi()/4 +
                         radians(CAST(n_regionkey AS DOUBLE) * 10.0 - 20.0)/2)),
                         4) + 0.0 AS my
            FROM nation
        """,
}
