"""merge_cubes — the reference's only join-like operator
(reference: cubes/merge.py:54-295 — SURVEY.md §2.3).

The reference's four-case analysis survives as *semantic* case analysis;
the *physical* side (its hand-rolled rechunking, merge.py:98-100,192-196)
is deleted: every case lowers to a relational join on dim columns and
Catalyst/AQE picks broadcast-hash vs sort-merge. The differing-dims case
joins on the shared dims only — AQE broadcasts the lower-dim side when its
runtime size is under the broadcast threshold (exactly the reference's
xarray broadcast, merge.py:245-291, without the memory blow-up) and
degrades to a shuffled join when the "lower-dim" cube is itself huge.

Choosing the case needs the per-dim label relationship, which xarray reads
off in-memory coordinates (merge.py:91-293). Here it is first decided from
lineage: when Catalyst proves both cubes yield the same dim rows
(``cube.same_dim_rows`` — e.g. two value cubes cut from one source by the
same filter_labels), every dim has equal labels and case 1/2 follows with
no Spark job. Only when that cannot be proven does ``_label_probe`` run.

Case 2 on co-derived cubes is not a join at all: when Catalyst proves the
two cubes are two value columns of the same rows
(``cube.paired_values`` — e.g. two selects of one source cut by the same
extent), the resolver runs over one projection carrying both values, so
the source is scanned once and no join job runs, as xarray applies the
resolver elementwise over identical indexes. Rows with a NULL dim label
are dropped, as the inner join drops them.
"""

from __future__ import annotations

from typing import Callable, Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from openeo_processes_dask_spark.core import REGISTRY, process
from openeo_processes_dask_spark.cube import (
    DataCube,
    labelled,
    paired_values,
    quoted,
    same_dim_rows,
)


from openeo_processes_dask_spark.exceptions import (  # noqa: F401
    OverlapResolverMissing,
)


def _resolve_binary(resolver: Union[str, Callable, None]) -> Optional[Callable]:
    if resolver is None:
        return None
    if callable(resolver):
        return resolver
    if resolver in REGISTRY:
        return REGISTRY[resolver]
    raise KeyError(f"Unknown overlap_resolver {resolver!r}")


def _label_probe(cube1: DataCube, cube2: DataCube, dims) -> dict[str, tuple]:
    """Per-dim label-set relationship WITHOUT collecting labels:
    ``{dim: (differs, overlaps)}``.

    The fallback behind plan equivalence: merge_cubes runs it only when
    ``same_dim_rows`` cannot prove the two cubes' dim rows equal (different
    filters, different sources, nondeterministic plans).

    merge_cubes only ever needs these two BOOLEANS — which dims have
    differing label sets, and whether the one differing dim shares any
    label — never the label values themselves. So the probe is fully
    distributed (VERDICT r8 #8, the same fix mask.py got in r8): a
    full-outer join of the two DISTINCT label relations reduced to one
    2-number aggregate row per dim. An event-grade temporal dim (1e9
    timestamps) costs one shuffle of 8-byte labels instead of a driver
    OOM. The join is null-SAFE so a NULL label present on both sides
    counts as matched, preserving the previous frozenset semantics.

    All dims probe in ONE Spark job (VERDICT r9 #5): the per-dim 1-row
    aggregates union into a single dim-tagged relation collected once,
    so probe latency is flat in the number of shared dims instead of
    one driver round-trip each. The join stays on each dim's NATIVE
    type (no lossy cast to a common type) — only the tiny tagged
    aggregate rows are unioned."""
    probes = None
    for d in dims:
        a = (
            cube1.df.select(F.col(d).alias("__la__"))
            .distinct()
            .withColumn("__a__", F.lit(1))
        )
        b = (
            cube2.df.select(F.col(d).alias("__lb__"))
            .distinct()
            .withColumn("__b__", F.lit(1))
        )
        agg = (
            a.join(b, a["__la__"].eqNullSafe(b["__lb__"]), "full_outer")
            .agg(
                F.count(
                    F.when(
                        F.col("__a__").isNull() | F.col("__b__").isNull(), 1
                    )
                ).alias("mismatched"),
                F.count(
                    F.when(
                        F.col("__a__").isNotNull()
                        & F.col("__b__").isNotNull(),
                        1,
                    )
                ).alias("both"),
            )
            .select(F.lit(d).alias("__dim__"), "mismatched", "both")
        )
        probes = agg if probes is None else probes.unionByName(agg)
    if probes is None:
        return {}
    return {
        row["__dim__"]: (int(row["mismatched"]) > 0, int(row["both"]) > 0)
        for row in probes.collect()
    }


@process
def merge_cubes(
    cube1: DataCube,
    cube2: DataCube,
    overlap_resolver: Union[str, Callable, None] = None,
    context=None,
) -> DataCube:
    """Merge two cubes (reference: cubes/merge.py:54-295). With the same
    dims, provably equal dim rows go to case 1/2 with no Spark job;
    otherwise one distributed count-probe job, which never collects
    labels, picks case 1, 2 or 3."""
    resolver = _resolve_binary(overlap_resolver)
    dims1, dims2 = set(cube1.meta.dims), set(cube2.meta.dims)
    v = cube1.value_col

    if dims1 == dims2:
        dims = list(cube1.meta.dims)
        paired = (
            paired_values(cube1.df, cube2.df, dims, cube2.value_col)
            if resolver is not None
            else None
        )
        if paired is not None:
            # Case 2 on co-derived cubes: one relation holds both value
            # columns, so the resolver is elementwise, as in xarray. A NULL
            # dim label is dropped, as the inner join drops it.
            merged = resolver(paired[v], paired["__v2__"])
            out = paired.where(labelled(dims)).withColumn(v, merged)
            return cube1.with_df(out.selectExpr(*map(quoted, dims), quoted(v)))
        if same_dim_rows(cube1.df, cube2.df, cube1.meta.dims):
            differing: list = []
            probes: dict = {}
        else:
            probes = _label_probe(cube1, cube2, cube1.meta.dims)
            differing = [d for d in cube1.meta.dims if probes[d][0]]
        if len(differing) > 1:
            # reference: merge.py:240-243
            raise ValueError(
                f"More than one overlapping dimension ({differing}), "
                "merge not possible"
            )
        if not differing:
            if resolver is None:
                # Case 1 (reference: merge.py:91-104): concat along a new
                # "cubes" dimension.
                from openeo_processes_dask_spark.operators.general import (
                    add_dimension,
                )

                c1 = add_dimension(cube1, "cubes", "cube1", type="other")
                c2 = add_dimension(cube2, "cubes", "cube2", type="other")
                return c1.with_df(c1.df.unionByName(c2.df))
            # Case 2 (reference: merge.py:106-120): elementwise resolver via
            # full equi-join on all dims.
            join_dims = list(cube1.meta.dims)
            df = cube1.df.join(
                cube2.df.withColumnRenamed(v, "__v2__"), on=join_dims, how="inner"
            )
            merged = resolver(F.col(v), F.col("__v2__"))
            return cube1.with_df(
                df.withColumn(v, merged).select(*join_dims, v)
            )
        # Case 3 (reference: merge.py:121-243): same dims, labels differ in
        # exactly one dim -> full outer join; overlap resolved elementwise,
        # non-overlap unioned (xarray combine_by_coords).
        overlap = probes[differing[0]][1]
        if overlap and resolver is None:
            raise OverlapResolverMissing(
                f"Overlapping labels on {differing[0]} need an overlap_resolver"
            )
        join_dims = list(cube1.meta.dims)
        df = cube1.df.withColumnRenamed(v, "__v1__").join(
            cube2.df.withColumnRenamed(v, "__v2__"), on=join_dims, how="full_outer"
        )
        both = F.col("__v1__").isNotNull() & F.col("__v2__").isNotNull()
        merged = (
            F.when(both, resolver(F.col("__v1__"), F.col("__v2__")))
            if resolver is not None
            else F.lit(None)
        )
        value = (
            merged.otherwise(F.coalesce(F.col("__v1__"), F.col("__v2__")))
            if resolver is not None
            else F.coalesce(F.col("__v1__"), F.col("__v2__"))
        )
        return cube1.with_df(
            df.withColumn(v, value).select(*join_dims, v)
        )

    # Case 4 (reference: merge.py:245-291): differing dims (≤2 extra), the
    # lower-dim cube broadcasts across the extra dims of the higher-dim one.
    if dims2 <= dims1:
        hi, lo = cube1, cube2
    elif dims1 <= dims2:
        hi, lo = cube2, cube1
    else:
        raise ValueError(
            f"Can't merge cubes with dims {dims1} vs {dims2}: neither is a "
            "subset of the other"
        )
    extra = set(hi.meta.dims) - set(lo.meta.dims)
    if len(extra) > 2:
        # reference: merge.py:292-293
        raise ValueError(f"Too many differing dimensions: {extra}")
    if resolver is None:
        raise OverlapResolverMissing(
            "Merging cubes with differing dimensions requires an overlap_resolver"
        )
    shared = [d for d in hi.meta.dims if d in set(lo.meta.dims)]
    # No forced broadcast hint: "lower-dim" does NOT mean small — a 3-D
    # (x,y,t) cube merged into a 4-D one can be terabytes, and F.broadcast
    # would OOM the driver. AQE / autoBroadcastJoinThreshold picks
    # broadcast-hash at runtime when lo really is small (the common case),
    # and falls back to a shuffled join when it is not.
    df = hi.df.join(
        lo.df.withColumnRenamed(lo.value_col, "__v2__"),
        on=shared,
        how="left",
    )
    x, y = (F.col(v), F.col("__v2__"))
    if hi is cube2:
        x, y = y, x  # keep operand order = (cube1, cube2)
    merged = resolver(x, y)
    return hi.with_df(
        df.withColumn(hi.value_col, merged).select(*hi.meta.dims, hi.value_col)
    )
