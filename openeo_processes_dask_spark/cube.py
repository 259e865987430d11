"""Data model: DataCube = (Spark DataFrame in long format, CubeMeta).

Re-expresses the reference's data model (reference:
openeo_processes_dask/process_implementations/data_model.py:9 defines
``RasterCube = xr.DataArray``) as the idiomatic-Spark *long/tall* relational
encoding: one row per cell, one column per dimension plus a ``value`` column.
Dimension *roles* (temporal / x / y / bands) are guessed from column names
exactly like the reference's ``@xr.register_dataarray_accessor("openeo")``
extension (reference: cubes/_xr_interop.py:7-37), and can be overridden
explicitly after ``add_dimension`` / ``rename_dimension``
(reference: cubes/_xr_interop.py:111-126).

Why long format: every OpenEO process then becomes a relational operation
that Catalyst can optimize (filter pushdown, column pruning, partial
aggregation, join strategy selection) — see SURVEY.md §1.5.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional

from pyspark.sql import DataFrame

# Name-guessing tables — same guesses as reference cubes/_xr_interop.py:7-21.
TEMPORAL_GUESSES = {
    "date",
    "time",
    "t",
    "year",
    "quarter",
    "month",
    "week",
    "day",
    "hour",
    "second",
    "ts",
    "timestamp",
}
X_GUESSES = {"x", "lon", "longitude"}
Y_GUESSES = {"y", "lat", "latitude"}
BANDS_GUESSES = {"b", "bands", "band"}


def guess_dim_role(name: str) -> str:
    """Classify a dimension column by name (case-insensitive), like the
    reference's accessor (reference: cubes/_xr_interop.py:24-37)."""
    low = name.lower()
    if low in TEMPORAL_GUESSES:
        return "temporal"
    if low in X_GUESSES:
        return "x"
    if low in Y_GUESSES:
        return "y"
    if low in BANDS_GUESSES:
        return "bands"
    return "other"


from openeo_processes_dask_spark.exceptions import (  # noqa: F401
    DimensionNotAvailable,
    TooManyDimensions,
)


@dataclass(frozen=True)
class CubeMeta:
    """Driver-side metadata the relational plan can't carry.

    ``dims`` is ordered (xarray dims are ordered; long format loses that, so
    we keep it here), ``roles`` maps dim -> role, ``crs`` and ``attrs``
    mirror the reference's rioxarray CRS and DataArray.attrs.
    """

    dims: tuple[str, ...]
    roles: dict[str, str] = field(default_factory=dict)
    value_col: str = "value"
    crs: Optional[str] = None
    attrs: dict = field(default_factory=dict)

    def role_of(self, dim: str) -> str:
        return self.roles.get(dim, guess_dim_role(dim))

    def dims_with_role(self, role: str) -> tuple[str, ...]:
        return tuple(d for d in self.dims if self.role_of(d) == role)

    @property
    def temporal_dims(self) -> tuple[str, ...]:
        return self.dims_with_role("temporal")

    @property
    def band_dims(self) -> tuple[str, ...]:
        return self.dims_with_role("bands")

    @property
    def spatial_dims(self) -> tuple[str, ...]:
        return self.dims_with_role("x") + self.dims_with_role("y")

    @property
    def x_dim(self) -> Optional[str]:
        d = self.dims_with_role("x")
        return d[0] if d else None

    @property
    def y_dim(self) -> Optional[str]:
        d = self.dims_with_role("y")
        return d[0] if d else None


class DataCube:
    """A lazy data cube: Spark DataFrame (long format) + CubeMeta.

    The DataFrame is never collected by operators; each process returns a new
    DataCube whose plan extends the input's — Catalyst plays the role dask's
    task graph plays in the reference (SURVEY.md §3).
    """

    def __init__(
        self,
        df: DataFrame,
        dims: Optional[tuple[str, ...]] = None,
        value_col: str = "value",
        roles: Optional[dict[str, str]] = None,
        crs: Optional[str] = None,
        attrs: Optional[dict] = None,
        meta: Optional[CubeMeta] = None,
    ):
        if meta is None:
            if dims is None:
                dims = tuple(c for c in df.columns if c != value_col)
            meta = CubeMeta(
                dims=tuple(dims),
                roles=dict(roles or {}),
                value_col=value_col,
                crs=crs,
                attrs=dict(attrs or {}),
            )
        missing = [d for d in meta.dims if d not in df.columns]
        if missing:
            raise DimensionNotAvailable(
                f"dims {missing} not in DataFrame columns {df.columns}"
            )
        self.df = df
        self.meta = meta

    # -- convenience ----------------------------------------------------
    @property
    def dims(self) -> tuple[str, ...]:
        return self.meta.dims

    @property
    def value_col(self) -> str:
        return self.meta.value_col

    def with_df(self, df: DataFrame) -> "DataCube":
        """Same metadata, new plan."""
        return DataCube(df, meta=self.meta)

    def with_meta(self, **changes) -> "DataCube":
        return DataCube(self.df, meta=replace(self.meta, **changes))

    def assert_dim(self, dim: str) -> str:
        if dim not in self.meta.dims:
            raise DimensionNotAvailable(
                f"Provided dimension ({dim}) not found in data.dims: {self.meta.dims}"
            )
        return dim

    def other_dims(self, *dropped: str) -> list[str]:
        """Dimension columns that survive reducing/along-`dropped` ops."""
        return [d for d in self.meta.dims if d not in dropped]

    def __repr__(self) -> str:  # pragma: no cover
        return f"DataCube(dims={self.meta.dims}, value={self.meta.value_col!r})"


def same_dim_rows(a: DataFrame, b: DataFrame, dims) -> bool:
    """True when Catalyst proves ``a`` and ``b`` yield the same rows over
    ``dims`` — so every one of those dims has the same labels on both
    sides — from the plans alone, without a Spark job.

    xarray compares coordinates it holds in memory; in long format the
    labels are data, but two cubes cut from one source by the same label
    predicates share their lineage. The optimized plans of the two
    projections onto ``dims`` (column pruning drops every value column)
    are compared with ``sameResult``, whose canonical form ignores
    expression ids and the order of conjunctive filters. A plan holding a
    nondeterministic expression (``rand()``) is never proven: two
    evaluations may differ. False means "not proven", not "different" —
    callers fall back to a label probe."""
    # selectExpr of quoted names: about half the py4j calls of select(),
    # which matters as the check runs on every merge; quoting keeps a
    # name from being parsed as an expression
    cols = ["`" + d.replace("`", "``") + "`" for d in dims]
    pa, pb = (
        df.selectExpr(*cols)._jdf.queryExecution().optimizedPlan() for df in (a, b)
    )
    return pa.sameResult(pb) and pa.deterministic() and pb.deterministic()
