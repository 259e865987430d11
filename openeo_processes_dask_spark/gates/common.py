"""Shared helpers for the driver-gate query modules.

Sliced verbatim from the round-2 ``__spark_entry__.py`` (round 3 split);
query/oracle semantics unchanged. See gates/__init__.py for registry order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

def _setup(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _fixture_dir(name: str, sf_dir: str, version: int = 1):
    """Gate fixture dir (a stream source, a persisted table) with a
    staleness guard (ADVICE r12 #3) -> ``(dir, needs_write)``.

    The old pattern keyed regeneration on bare directory existence
    (``if not os.path.isdir(stream_dir)``), so a partially written dir
    from an aborted run — parquet's ``mode("append")`` second file
    missing, say — or stale contents left at the same basename were
    silently replayed. A fixture now counts as valid ONLY when its
    ``_FIXTURE_COMPLETE`` marker exists and carries the expected
    version string; the marker is written by :func:`_fixture_done`
    AFTER the last write finishes, so an aborted generation can never
    look complete. Anything else is wiped and regenerated. Bump
    ``version`` in the calling gate whenever its fixture definition
    changes — the old dir is then invalidated mechanically. The
    marker filename starts with ``_`` so Spark's file listing ignores
    it (same convention as ``_SUCCESS``)."""
    import os
    import shutil
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(), f"{name}_{os.path.basename(sf_dir)}"
    )
    try:
        with open(os.path.join(d, "_FIXTURE_COMPLETE")) as f:
            if f.read() == f"v{version}":
                return d, False
    except OSError:
        pass
    shutil.rmtree(d, ignore_errors=True)
    return d, True


def _fixture_done(d: str, version: int = 1) -> None:
    """Mark a fixture dir complete — call after the LAST write."""
    import os

    with open(os.path.join(d, "_FIXTURE_COMPLETE"), "w") as f:
        f.write(f"v{version}")


def _events_cube(spark, sf_dir):
    from openeo_processes_dask_spark.sources.load import events_cube

    return events_cube(spark, sf_dir)


def _table(spark, sf_dir, name):
    from openeo_processes_dask_spark.sources.load import load_table

    return load_table(spark, sf_dir, name)


def _round6(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


def _stopwords_sql() -> str:
    from openeo_processes_dask_spark.training.textanalysis import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


_STOPWORDS_SQL = _stopwords_sql()


def _li_cells(spark, sf_dir, dist=None):
    """lineitem pre-aggregated to unique (x, pos) cube cells.

    The synthetic (l_orderkey, l_linenumber) is NOT unique (~20% dup keys at
    sf0.01); cube cells must be unique, so join/window demo queries
    aggregate first. Mirrored by the `cells` CTE in the oracles.

    ``dist="x"`` (r13, guide §2.4): hash-partition the scan by x BEFORE
    the aggregate. HashPartitioning(x) satisfies the (x, pos) aggregate's
    clustering AND every downstream Window.partitionBy("x") /
    groupBy("x"), so those consumers reuse this one exchange instead of
    paying a second one (measured: cumsum 0.71 -> 0.43 s at sf0.1,
    2 Exchange -> 1). The trade is losing map-side partial aggregation —
    the (x, pos) dup factor is only ~1.25, so the exchange carries ~25%
    more rows. Opt IN only for window/groupBy-x consumers: the
    join-shaped gates (merge/mask) measured SLOWER with it (broadcast
    join ignores the partitioning; the bigger pre-aggregate shuffle is
    pure cost)."""
    li = _table(spark, sf_dir, "lineitem")
    if dist == "x":
        li = li.repartition(F.col("l_orderkey"))
    return (
        li.groupBy(
            F.col("l_orderkey").alias("x"), F.col("l_linenumber").alias("pos")
        )
        .agg(
            F.sum("l_quantity").alias("sq"),
            F.sum("l_extendedprice").alias("sep"),
            F.sum("l_discount").alias("sd"),
            F.max("l_discount").alias("md"),
        )
    )


_CELLS_CTE = """
    cells AS (
      SELECT l_orderkey AS x, l_linenumber AS pos,
             sum(l_quantity) AS sq, sum(l_extendedprice) AS sep,
             sum(l_discount) AS sd, max(l_discount) AS md
      FROM lineitem GROUP BY 1, 2)
"""


_RECT = {
    "type": "Polygon",
    "coordinates": [
        [[2.5, 1.5], [10.5, 1.5], [10.5, 8.5], [2.5, 8.5], [2.5, 1.5]]
    ],
}


_RECT_SQL = "x > 2.5 AND x < 10.5 AND y > 1.5 AND y < 8.5"


_GRID_CTE = """
    grid AS (
      SELECT CAST(l_partkey % 30 AS DOUBLE) AS x,
             CAST(l_suppkey % 10 AS DOUBLE) AS y,
             l_returnflag AS band, sum(l_quantity) AS value
      FROM lineitem GROUP BY 1, 2, 3)
"""


_IDX_CTE = """
    idx AS (
      SELECT x, sq, row_number() OVER (PARTITION BY x ORDER BY pos) - 1 AS i
      FROM cells)
"""


def _grid_cube(spark, sf_dir):
    """Dense (x, y, band) raster-like cube folded from lineitem."""
    from openeo_processes_dask_spark.cube import DataCube

    df = (
        _table(spark, sf_dir, "lineitem")
        .groupBy(
            (F.col("l_partkey") % 30).cast("double").alias("x"),
            (F.col("l_suppkey") % 10).cast("double").alias("y"),
            F.col("l_returnflag").alias("band"),
        )
        .agg(F.sum("l_quantity").alias("value"))
    )
    return DataCube(df, dims=("x", "y", "band"))


def _cells_cube(spark, sf_dir, dist=None):
    from openeo_processes_dask_spark.cube import DataCube

    cells = _li_cells(spark, sf_dir, dist=dist)
    return DataCube(
        cells.select("x", "pos", F.col("sq").alias("value")), dims=("x", "pos")
    )


_TOKS = r"string_split_regex(trim(lower(text)), '\s+')"


def _round6n(df: DataFrame, *cols: str) -> DataFrame:
    """round6 with a +1e-9 nudge first: the convolution kernels produce
    dyadic-rational values that can land EXACTLY on a .5 * 1e-6 rounding
    boundary, where Spark's BigDecimal HALF_UP and DuckDB's libm round
    disagree by one final digit (seen at sf0.1: 16933.8046875 ->
    ...688 vs ...687). The shared nudge moves both engines off the
    boundary identically; non-boundary values are unaffected at 6
    decimals."""
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c) + F.lit(1e-9), 6))
    return df
