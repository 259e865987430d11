"""Core cube-operator gate queries (filters/reduce/aggregate/merge/mask/windows) + flagship.

Sliced verbatim from the round-2 ``__spark_entry__.py`` (round 3 split);
query/oracle semantics unchanged. See gates/__init__.py for registry order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .common import _CELLS_CTE, _events_cube, _li_cells, _round6, _setup, _table

def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-event-type mean of per-user daily means over January —
    the 'monthly mean NDVI' shape (filter → calendar bucket → reduce) from
    SURVEY.md §7 M0, on the driver's events table."""
    _setup(spark)
    from openeo_processes_dask_spark.operators.aggregate import (
        aggregate_temporal_period,
    )
    from openeo_processes_dask_spark.operators.filters import filter_temporal
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    cube = _events_cube(spark, sf_dir)
    cube = filter_temporal(cube, ["2024-01-01", "2024-02-01"])
    cube = aggregate_temporal_period(cube, "day", "mean")
    # Snap the INNER aggregate to integer micro-units on both sides
    # (r01 driver red row; VERDICT.md "What's wrong" #1): unrounded per-user
    # means carry engine-vs-DuckDB last-ulp summation-order noise into the
    # outer mean, and a plain round(…,6) inner makes the outer mean land
    # EXACTLY on round boundaries (grid effect). Integer-valued doubles
    # < 2^53 sum exactly in any order, so the outer mean is bit-identical
    # across engines; the final /1e6 + round then sees identical operands.
    cube = cube.with_df(
        cube.df.withColumn("value", F.round(F.col("value") * 1e6, 0))
    )
    cube = reduce_dimension(cube, "mean", "user_id")
    return cube.df.withColumn("value", F.round(F.col("value") / 1e6, 6))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


def q_filter_temporal(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.operators.filters import filter_temporal

    cube = _events_cube(spark, sf_dir)
    return filter_temporal(cube, ["2024-01-10", "2024-01-20"]).df.drop("__t_ns__")


def q_filter_bands(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.operators.filters import filter_bands

    cube = _events_cube(spark, sf_dir)
    return filter_bands(cube, ["click", "purchase"]).df.drop("__t_ns__")


def q_filter_labels_text(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.functions.text import text_begins
    from openeo_processes_dask_spark.operators.filters import filter_labels

    cube = _events_cube(spark, sf_dir)
    return filter_labels(cube, lambda c: text_begins(c, "c"), "band").df.drop("__t_ns__")


def q_filter_bbox(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.filters import filter_bbox

    # dims stay bigint: casting to double before the filter would block
    # predicate pushdown into the parquet scan (verified via .explain)
    df = _table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("x"),
        F.col("l_suppkey").alias("y"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("pos"),
        F.col("l_quantity").alias("value"),
    )
    cube = DataCube(df, dims=("x", "y", "okey", "pos"), roles={"okey": "other", "pos": "other"})
    return filter_bbox(
        cube, {"west": 100, "east": 500, "south": 2, "north": 7}
    ).df


def q_reduce_mean_over_time(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    df = _table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("x"),
        F.col("l_shipdate").alias("t"),
        F.col("l_returnflag").alias("band"),
        F.col("l_quantity").alias("value"),
    )
    cube = DataCube(df, dims=("x", "t", "band"))
    out = reduce_dimension(cube, "mean", "t")
    return _round6(out.df, "value")


def q_reduce_variance(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    df = _table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("x"),
        F.col("l_shipdate").alias("t"),
        F.col("l_returnflag").alias("band"),
        F.col("l_extendedprice").alias("value"),
    )
    cube = DataCube(df, dims=("x", "t", "band"))
    out = reduce_dimension(cube, "variance", "t")
    # +0.0: var of near-constant groups can cancel to a tiny NEGATIVE on
    # one engine (catastrophic cancellation under parallel accumulation)
    # and round to -0.0 — signed-zero hash hazard
    return out.df.withColumn(
        "value", F.round(F.col("value"), 2) + F.lit(0.0)
    )


def q_reduce_spatial_sum(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.reduce import reduce_spatial

    df = _table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("double").alias("x"),
        F.col("l_suppkey").cast("double").alias("y"),
        F.col("l_returnflag").alias("band"),
        F.col("l_quantity").alias("value"),
    )
    cube = DataCube(df, dims=("x", "y", "band"))
    out = reduce_spatial(cube, "sum")
    return _round6(out.df, "value")


def q_aggregate_temporal_halves(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.aggregate import aggregate_temporal

    # money as integer cents: a double sum at sf0.1 reaches ~4e9 where
    # the 6-decimal round sits at ULP resolution and sum order flips the
    # last digit between engines (seen in the sf0.1 robustness sweep) —
    # integer accumulation is exact at every scale factor
    df = _table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("t"),
        F.col("o_orderpriority").alias("band"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("value"),
    )
    cube = DataCube(df, dims=("t", "band"))
    out = aggregate_temporal(
        cube,
        intervals=[["1995-01-01", "1998-01-01"], ["1998-01-01", "2002-01-01"]],
        labels=["h1", "h2"],
        reducer="sum",
    )
    return out.df


def q_aggregate_dekad(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.operators.aggregate import (
        aggregate_temporal_period,
    )

    cube = _events_cube(spark, sf_dir)
    out = aggregate_temporal_period(cube, "dekad", "sum")
    return _round6(out.df, "value")


def q_aggregate_week_median(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.operators.aggregate import (
        aggregate_temporal_period,
    )
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    cube = _events_cube(spark, sf_dir)
    out = aggregate_temporal_period(cube, "week", "median")
    out = reduce_dimension(out, "max", "user_id")
    return _round6(out.df, "value")


def q_merge_multiply(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.merge import merge_cubes

    cells = _li_cells(spark, sf_dir)
    c1 = DataCube(cells.select("x", "pos", F.col("sep").alias("value")), dims=("x", "pos"))
    c2 = DataCube(cells.select("x", "pos", F.col("sd").alias("value")), dims=("x", "pos"))
    out = merge_cubes(c1, c2, overlap_resolver="multiply")
    return _round6(out.df, "value")


def _x_extent_filter(cube: str) -> dict:
    """filter_labels node keeping ``100 <= x < 900`` of parameter ``cube``."""
    x = {"from_parameter": "x"}
    return {
        "process_id": "filter_labels",
        "arguments": {
            "data": {"from_parameter": cube},
            "dimension": "x",
            "condition": {
                "process_graph": {
                    "lo": {"process_id": "gte", "arguments": {"x": x, "y": 100}},
                    "hi": {"process_id": "lt", "arguments": {"x": x, "y": 900}},
                    "r": {
                        "process_id": "and",
                        "arguments": {"x": {"from_node": "lo"}, "y": {"from_node": "hi"}},
                        "result": True,
                    },
                }
            },
        },
    }


def q_merge_graph_filtered(spark, sf_dir):
    """merge_cubes as a process graph sees it: no caller hint. Two value
    cubes of the lineitem cells, each cut by the same filter_labels extent,
    merged with a binary resolver through plans.execute_process_graph —
    plan equivalence decides case 2 without a label-probe job."""
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.plans import execute_process_graph

    cells = _li_cells(spark, sf_dir)
    named = {
        c: DataCube(cells.select("x", "pos", F.col(c).alias("value")), dims=("x", "pos"))
        for c in ("sep", "sd")
    }
    xy = {"x": {"from_parameter": "x"}, "y": {"from_parameter": "y"}}
    pg = {
        "process_graph": {
            "p": _x_extent_filter("sep"),
            "d": _x_extent_filter("sd"),
            "mc": {
                "process_id": "merge_cubes",
                "arguments": {
                    "cube1": {"from_node": "p"},
                    "cube2": {"from_node": "d"},
                    "overlap_resolver": {
                        "process_graph": {
                            "r": {"process_id": "subtract", "arguments": xy, "result": True}
                        }
                    },
                },
                "result": True,
            },
        }
    }
    out = execute_process_graph(pg, named)
    return _round6(out.df, "value")


def q_mask_high_discount(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.mask import mask

    cells = _li_cells(spark, sf_dir)
    data = DataCube(cells.select("x", "pos", F.col("sq").alias("value")), dims=("x", "pos"))
    m = DataCube(
        cells.select("x", "pos", (F.col("md") > 0.05).cast("int").alias("value")),
        dims=("x", "pos"),
    )
    return mask(data, m).df


def q_apply_scale_clip(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.functions.math import clip, linear_scale_range
    from openeo_processes_dask_spark.operators.apply import apply as apply_op

    cells = _li_cells(spark, sf_dir)
    cube = DataCube(cells.select("x", "pos", F.col("sq").alias("value")), dims=("x", "pos"))
    out = apply_op(
        cube, lambda c: clip(linear_scale_range(c, 1, 50, 0, 1), 0.1, 0.9)
    )
    return _round6(out.df, "value")


def q_cumsum(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.windows import cumsum

    cells = _li_cells(spark, sf_dir, dist="x")
    cube = DataCube(cells.select("x", "pos", F.col("sq").alias("value")), dims=("x", "pos"))
    return cumsum(cube, "pos").df


def q_sort_along_dim(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.windows import sort as sort_op

    cells = _li_cells(spark, sf_dir, dist="x")
    cube = DataCube(cells.select("x", "pos", F.col("sq").alias("value")), dims=("x", "pos"))
    return sort_op(cube, "pos").df


def q_interpolate_gaps(spark, sf_dir):
    """Gap-fill under the oracle gate. The gappy cube is built in one
    projection (mask() itself is gated separately by mask_high_discount;
    composing it here added a join + second aggregate that doubled the
    query's cost for no extra coverage)."""
    _setup(spark)
    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.operators.windows import (
        array_interpolate_linear,
    )

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
    out = array_interpolate_linear(gappy, "pos")
    return _round6(out.df, "value")


def q_date_ops(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.functions.dates import (
        date_difference,
        date_shift,
    )

    o = _table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("x"),
        date_shift(F.col("o_orderdate"), 1, "month").alias("t_shifted"),
        date_difference(F.col("o_orderdate"), "2000-01-01", "day").alias(
            "days_to_y2k"
        ),
    )


def q_add_drop_dimension(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.operators.general import (
        add_dimension,
        rename_dimension,
    )
    from openeo_processes_dask_spark.operators.reduce import reduce_dimension

    cube = _events_cube(spark, sf_dir)
    cube = reduce_dimension(cube, "sum", "t")
    cube = add_dimension(cube, "model", "m1", type="other")
    cube = rename_dimension(cube, "band", "channel")
    return _round6(cube.df, "value")


QUERIES = {
    "flagship_daily_mean": _flagship,
    "filter_temporal": q_filter_temporal,
    "filter_bands": q_filter_bands,
    "filter_labels_text": q_filter_labels_text,
    "filter_bbox": q_filter_bbox,
    "reduce_mean_over_time": q_reduce_mean_over_time,
    "reduce_variance": q_reduce_variance,
    "reduce_spatial_sum": q_reduce_spatial_sum,
    "aggregate_temporal_halves": q_aggregate_temporal_halves,
    "aggregate_dekad": q_aggregate_dekad,
    "aggregate_week_median": q_aggregate_week_median,
    "merge_multiply": q_merge_multiply,
    "merge_graph_filtered": q_merge_graph_filtered,
    "mask_high_discount": q_mask_high_discount,
    "apply_scale_clip": q_apply_scale_clip,
    "cumsum": q_cumsum,
    "sort_along_dim": q_sort_along_dim,
    "interpolate_gaps": q_interpolate_gaps,
    "date_ops": q_date_ops,
    "add_drop_dimension": q_add_drop_dimension,
}

ORACLES = {
    "flagship_daily_mean": """
            SELECT t, band, round(avg(value_u) / 1e6, 6) AS value FROM (
              SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS t,
                     event_type AS band, round(avg(value) * 1e6, 0) AS value_u
              FROM events
              WHERE ts >= '2024-01-01' AND ts < '2024-02-01'
              GROUP BY ALL) GROUP BY ALL
        """,
    "filter_temporal": """
            SELECT user_id, ts AS t, event_type AS band, value
            FROM events
            WHERE ts >= '2024-01-10' AND ts < '2024-01-20' AND ts IS NOT NULL
        """,
    "filter_bands": """
            SELECT user_id, ts AS t, event_type AS band, value
            FROM events WHERE event_type IN ('click', 'purchase')
        """,
    "filter_labels_text": """
            SELECT user_id, ts AS t, event_type AS band, value
            FROM events WHERE event_type LIKE 'c%'
        """,
    "filter_bbox": """
            SELECT l_partkey AS x, l_suppkey AS y,
                   l_orderkey AS okey, l_linenumber AS pos, l_quantity AS value
            FROM lineitem
            WHERE l_partkey BETWEEN 100 AND 500 AND l_suppkey BETWEEN 2 AND 7
        """,
    "reduce_mean_over_time": """
            SELECT l_suppkey AS x, l_returnflag AS band,
                   round(avg(l_quantity), 6) AS value
            FROM lineitem GROUP BY ALL
        """,
    "reduce_variance": """
            SELECT l_suppkey AS x, l_returnflag AS band,
                   round(var_samp(l_extendedprice), 2) + 0.0 AS value
            FROM lineitem GROUP BY ALL
        """,
    "reduce_spatial_sum": """
            SELECT l_returnflag AS band, round(sum(l_quantity), 6) AS value
            FROM lineitem GROUP BY ALL
        """,
    "aggregate_temporal_halves": """
            WITH labels(t) AS (VALUES ('h1'), ('h2')),
            binned AS (
              SELECT CASE WHEN o_orderdate >= '1995-01-01' AND o_orderdate < '1998-01-01' THEN 'h1'
                          WHEN o_orderdate >= '1998-01-01' AND o_orderdate < '2002-01-01' THEN 'h2' END AS t,
                     o_orderpriority AS band,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS value
              FROM orders WHERE o_orderdate IS NOT NULL GROUP BY ALL)
            SELECT l.t, g.band, b.value
            FROM labels l
            CROSS JOIN (SELECT DISTINCT o_orderpriority AS band FROM orders) g
            LEFT JOIN binned b ON b.t = l.t AND b.band = g.band
        """,
    "aggregate_dekad": """
            SELECT user_id,
                   make_timestamp(year(ts), month(ts),
                     CASE WHEN day(ts) <= 10 THEN 1 WHEN day(ts) <= 20 THEN 11 ELSE 21 END,
                     0, 0, 0.0) AS t,
                   event_type AS band, round(sum(value), 6) AS value
            FROM events GROUP BY ALL
        """,
    "aggregate_week_median": """
            SELECT t, band, round(max(value), 6) AS value FROM (
              SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS t,
                     event_type AS band, median(value) AS value
              FROM events GROUP BY ALL) GROUP BY ALL
        """,
    "merge_multiply": f"""
            WITH {_CELLS_CTE}
            SELECT x, pos, round(sep * sd, 6) AS value FROM cells
        """,
    "merge_graph_filtered": f"""
            WITH {_CELLS_CTE}
            SELECT x, pos, round(sep - sd, 6) AS value FROM cells
            WHERE x >= 100 AND x < 900
        """,
    "mask_high_discount": f"""
            WITH {_CELLS_CTE}
            SELECT x, pos, CASE WHEN md > 0.05 THEN NULL ELSE sq END AS value
            FROM cells
        """,
    "apply_scale_clip": f"""
            WITH {_CELLS_CTE}
            SELECT x, pos,
                   round(greatest(least((sq - 1) / 49.0, 0.9), 0.1), 6) AS value
            FROM cells
        """,
    "cumsum": f"""
            WITH {_CELLS_CTE}
            SELECT x, pos,
                   sum(sq) OVER (PARTITION BY x ORDER BY pos) AS value
            FROM cells
        """,
    "sort_along_dim": f"""
            WITH {_CELLS_CTE}
            SELECT x,
                   row_number() OVER (PARTITION BY x ORDER BY sq, pos) - 1 AS pos,
                   sq AS value
            FROM cells
        """,
    "interpolate_gaps": f"""
            WITH {_CELLS_CTE},
            gappy AS (
              SELECT x, CAST(pos AS DOUBLE) AS pos,
                     CASE WHEN md > 0.05 THEN NULL ELSE sq END AS value
              FROM cells),
            ctx AS (
              SELECT x, pos, value,
                last_value(value IGNORE NULLS) OVER w_before AS prev_v,
                last_value(CASE WHEN value IS NOT NULL THEN pos END IGNORE NULLS) OVER w_before AS prev_p,
                first_value(value IGNORE NULLS) OVER w_after AS next_v,
                first_value(CASE WHEN value IS NOT NULL THEN pos END IGNORE NULLS) OVER w_after AS next_p
              FROM gappy
              WINDOW
                w_before AS (PARTITION BY x ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                w_after AS (PARTITION BY x ORDER BY pos ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
            SELECT x, pos,
                   round(CASE WHEN value IS NOT NULL THEN value
                         WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                         THEN prev_v + (pos - prev_p) / (next_p - prev_p) * (next_v - prev_v)
                         END, 6) AS value
            FROM ctx
        """,
    "date_ops": """
            SELECT o_orderkey AS x,
                   o_orderdate + INTERVAL 1 MONTH AS t_shifted,
                   CAST(date_diff('day', o_orderdate, TIMESTAMP '2000-01-01') AS DOUBLE)
                     AS days_to_y2k
            FROM orders
        """,
    "add_drop_dimension": """
            SELECT user_id, event_type AS channel, 'm1' AS model,
                   round(sum(value), 6) AS value
            FROM events GROUP BY ALL
        """,
}
