"""Driver-contract regression net: entry() plus every queries() callable
must run at sf0.001 and return a schema-stable DataFrame, and every
oracle_sql() entry must be valid DuckDB SQL. Catches breakage of the t2
gate before the driver does."""

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) >= 2


def test_all_queries_run_and_oracles_parse(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs), "oracle without a query"
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    failures = []
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
            assert df.columns, "no columns"
            df.limit(5).collect()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: spark: {exc}")
            continue
        if name in oracles:
            try:
                con.sql(oracles[name]).df()
            except Exception as exc:  # noqa: BLE001
                failures.append(f"{name}: duckdb: {exc}")
    assert not failures, "\n".join(failures)


def test_bench_gates_are_registered():
    """Every gate bench.py times must exist in the registry (Spark-free:
    no session is started)."""
    import bench

    qs = entrymod.queries()
    timed = list(bench.HEADLINE) + list(bench.STREAMS) + list(bench.EXTRAS)
    assert len(set(timed)) == len(timed), "gate timed twice"
    missing = [name for name in timed if name not in qs]
    assert not missing, missing
