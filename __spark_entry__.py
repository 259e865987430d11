"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline on sf0.001. ``queries()`` maps
one entry per implemented operator family (SURVEY.md §2 + training extras)
to a (spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` holds the
DuckDB-equivalent SQL for the driver's correctness gate.

The query/oracle bodies live in ``openeo_processes_dask_spark/gates/``
(one module per lane: core, training, parity, streaming, io_misc,
extended); this file is a thin re-export.  Registry ordering — which
decides what the driver's 50-slot correctness window sees — is computed
in ``gates/__init__.py``: flagship, then the ``CHANGED`` gates, then the
rest stalest-first by the ``CORRECTNESS_r*.json`` ledger (see the window
order documented there).

Oracle conventions (see gates/common.py and DIVERGENCES.md):
- float aggregates rounded to 6 decimals on BOTH sides (engine sum-order
  differs in the last ulp);
- DuckDB date_trunc returns DATE -> CAST(... AS TIMESTAMP) in oracles;
- session timezone pinned to UTC inside every query callable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from openeo_processes_dask_spark.gates import all_oracles, all_queries
from openeo_processes_dask_spark.gates.core import entry  # noqa: F401


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return all_queries()


def oracle_sql() -> dict[str, str]:
    return all_oracles()
