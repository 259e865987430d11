"""Distributed k-means over embedding columns — engine-reproducible.

The classic objection to k-means in a cross-engine gate (see
similarity.ivf_centroids) is that float mean accumulation order is
engine-private: two engines summing the same cluster in different orders
drift in the last ulp and the next assignment round amplifies the
difference. This implementation removes the float order-dependence
entirely:

  1. vectors are snapped to integer micro-units (round(v·10⁶), exact
     int64 well below 2⁵³), so per-cluster per-dimension SUMS are exact
     in any order and the centroid means (int_sum / n) are bit-identical
     doubles in every engine;
  2. assignment distances are left-to-right folds over those identical
     operands — bit-identical — with argmin ties broken on the lower
     cluster id;
  3. initial centroids are the k smallest md5(seed-id) vectors (the
     ivf_centroids sampling trick).

Result: a DuckDB twin that unrolls the same iterations as CTEs matches
the engine exactly — no tolerance, no rounding convention.

Scale shape: each iteration is one shuffle-free assignment projection
(k·dim literal arithmetic) + one hash aggregate of posexploded
(cluster, dim, value) rows down to k·dim sums — the aggregate output is
metadata-sized, and map-side partial aggregation means the exchange
carries k·dim partials per partition, not the corpus. Centroids live on
the driver between rounds (k·dim floats), exactly like the label-space
tables in operators/resample.py.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 1_000_000.0


def _quote(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _snap_micro(vec_col: str) -> str:
    """SQL: array<float> column ``vec_col`` -> exact integer micro-units
    as array<double>."""
    return (
        f"transform(CAST({_quote(vec_col)} AS ARRAY<DOUBLE>), "
        f"x -> round(x * {_SCALE!r}D))"
    )


def _assign_expr(snapped_sql: str, centroids: Sequence[Sequence[float]]):
    """argmin_c Σ (v_i − c_i)² over literal centroids; ties -> lower id.

    ``snapped_sql`` is the SQL text of the snapped ``array<double>``
    vector. The whole k x (zip_with + aggregate) tree is one SQL string
    parsed on the server, so building it costs the same few py4j round
    trips at any k and dim. Each centroid is one string literal cast to
    ``array<double>``: the optimizer folds it to the same constant an
    ``array(<v>D, ...)`` would give, but the analyzer sees one node
    instead of ``dim`` (per-literal arrays doubled analysis time).
    ``repr`` round-trips every double exactly, -0.0, nan and inf
    included."""
    cands = []
    for ci, cent in enumerate(centroids):
        c = ",".join(repr(float(v)) for v in cent)
        cands.append(
            f"named_struct('d', aggregate(zip_with({snapped_sql}, "
            f"CAST(split('{c}', ',') AS ARRAY<DOUBLE>), "
            "(a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x), "
            f"'c', {ci})"
        )
    return F.expr(f"array_min(array({', '.join(cands)})).c")


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Lloyd iterations on micro-unit-snapped vectors. Returns the final
    centroid list (micro-unit doubles, ``k × dim``). Empty clusters keep
    their previous centroid (matches the SQL twin's left-join coalesce).
    """
    rows = (
        df.select(
            # snap through the SAME F.round expression as the data pass —
            # Python round() is half-even, F.round half-away-from-zero,
            # and the oracle replicates the latter
            F.expr(_snap_micro(vec_col)).alias("v"),
            F.md5(
                F.concat_ws("-", F.lit(str(seed)), F.col(id_col).cast("string"))
            ).alias("__k__"),
        )
        .orderBy("__k__")
        .limit(int(k))
        .collect()
    )
    if len(rows) < int(k):
        raise ValueError(
            f"kmeans_fit: k={k} but the input has only {len(rows)} row(s); "
            "fitting fewer centroids than requested would silently shrink "
            "the cluster-id range downstream — pass k <= row count"
        )
    centroids = [[float(x) for x in row["v"]] for row in rows]
    dim = len(centroids[0])

    snapped = df.select(F.expr(_snap_micro(vec_col)).alias("sv"))
    for _ in range(int(iterations)):
        assigned = snapped.select(
            _assign_expr("sv", centroids).alias("c"),
            "sv",
        )
        sums = (
            assigned.select("c", F.posexplode("sv").alias("pos", "x"))
            .groupBy("c", "pos")
            .agg(F.sum("x").alias("s"), F.count("x").alias("n"))
            .collect()
        )
        new = [list(cent) for cent in centroids]
        for r in sums:
            # exact integer sums -> the division is the only float op,
            # identical in every engine
            new[r["c"]][r["pos"]] = r["s"] / r["n"]
        centroids = new
    return centroids


def kmeans_assign(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """(id[, vec], cluster) for every vector against fitted centroids —
    one shuffle-free projection. ``keep_vec`` carries the vector column
    through so consumers that need (vector, cluster) together (e.g.
    semdedup's within-cluster join) avoid a corpus-wide re-join. The
    snapped vector is projected once, as in :func:`kmeans_fit`, rather
    than inlined into each of the k distance terms."""
    cols = [id_col, vec_col] if keep_vec else [id_col]
    return df.selectExpr(
        *[_quote(c) for c in cols], f"{_snap_micro(vec_col)} AS __sv__"
    ).select(*cols, _assign_expr("__sv__", centroids).alias("cluster"))
