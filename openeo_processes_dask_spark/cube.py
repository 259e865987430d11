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

from py4j.java_gateway import JavaClass
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


def quoted(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def labelled(dims) -> str:
    """SQL predicate: no dim label of the row is NULL."""
    return " AND ".join(f"{quoted(d)} IS NOT NULL" for d in dims) or "TRUE"


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
    cols = [quoted(d) for d in dims]
    pa, pb = (
        df.selectExpr(*cols)._jdf.queryExecution().optimizedPlan() for df in (a, b)
    )
    return pa.sameResult(pb) and pa.deterministic() and pb.deterministic()


def _unpruned(plan):
    """``plan`` with its attribute-only (column-pruning) Projects removed
    from the top: column pruning cuts one child per consumer, so two
    aggregates of one source read it through different pruning Projects."""
    while plan.nodeName() == "Project" and plan.projectList().equals(plan.output()):
        plan = plan.child()
    return plan


def _unaliased(expr):
    """The expression an output column computes: its alias's exprId is
    part of the canonical form, so ``k AS x#1`` never equals ``k AS x#2``."""
    return expr.child() if expr.nodeName() == "Alias" else expr


def paired_values(a: DataFrame, b: DataFrame, dims, b_value: str) -> Optional[DataFrame]:
    """One relation carrying both cubes' value columns when Catalyst
    proves that ``a`` and ``b`` are two value columns of the same rows, or
    None when it cannot.

    xarray applies an elementwise operator to two arrays on identical
    indexes without any alignment; in long format two cubes derived from
    one source are two projections of one relation, so joining them on
    every dim re-reads the source and pays a join only to pair each row
    with itself. The proof is on the optimized plans: both are the same
    row-wise operator, a ``Project`` or an ``Aggregate`` with
    semantically equal grouping keys, over one identical deterministic
    child (attribute-only pruning Projects below an Aggregate are
    ignored), and every dim is the same expression on both sides. The
    identical child means the same attribute ids, i.e. one DataFrame's
    lineage: two reads of one file are never paired. The result is
    ``a``'s plan with ``b``'s value expression appended, built without a
    Spark job; its columns are ``a``'s, then ``b_value`` as ``__v2__``.
    Rows keep their multiplicity, so duplicate dim labels pair row by
    row, not as a join's cross product, and rows with a NULL dim label
    are kept (a join would not match them; see :func:`labelled`). None
    means "not proven" — callers keep their join."""
    pa, pb = (df._jdf.queryExecution().optimizedPlan() for df in (a, b))
    kind = pa.nodeName()
    if kind not in ("Project", "Aggregate") or pb.nodeName() != kind:
        return None
    ca, cb = _unpruned(pa.child()), _unpruned(pb.child())
    # semanticEquals is false for a nondeterministic dim or grouping key
    if not (ca.equals(cb) and ca.deterministic()):
        return None
    if kind == "Project":
        la, lb = pa.projectList(), pb.projectList()
    else:
        ga, gb = pa.groupingExpressions(), pb.groupingExpressions()
        n = ga.length()
        if n != gb.length() or not all(
            ga.apply(i).semanticEquals(gb.apply(i)) for i in range(n)
        ):
            return None
        la, lb = pa.aggregateExpressions(), pb.aggregateExpressions()
    cols_a, cols_b = a.columns, b.columns
    for d in dims:
        ea = _unaliased(la.apply(cols_a.index(d)))
        if not ea.semanticEquals(_unaliased(lb.apply(cols_b.index(d)))):
            return None
    both = la.appended(lb.apply(cols_b.index(b_value)))
    plan = pa.copy(both, ca) if kind == "Project" else pa.copy(ga, both, ca, pa.hint())
    spark = a.sparkSession
    jdf = JavaClass(
        "org.apache.spark.sql.classic.Dataset", spark.sparkContext._gateway._gateway_client
    ).ofRows(spark._jsparkSession, plan)
    return DataFrame(jdf, spark).toDF(*cols_a, "__v2__")
