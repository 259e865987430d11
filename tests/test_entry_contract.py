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


def test_window_order_is_flagship_changed_then_stalest_first():
    """The driver checks only the first 50 gates, so the order must put
    the flagship first, then the CHANGED gates, then every other gate
    stalest-first by the CORRECTNESS ledger (Spark-free)."""
    from openeo_processes_dask_spark.gates import CHANGED, ledger

    names = list(entrymod.queries())
    head = ["flagship_daily_mean", *CHANGED]
    assert names[: len(head)] == head
    last = ledger()
    rounds = [last.get(n, 0) for n in names[len(head):]]
    assert rounds == sorted(rounds), "a fresher gate precedes a staler one"


def test_changed_gates_are_registered_once():
    from openeo_processes_dask_spark.gates import CHANGED

    qs = entrymod.queries()
    assert len(set(CHANGED)) == len(CHANGED), "gate listed twice"
    assert "flagship_daily_mean" not in CHANGED
    missing = [name for name in CHANGED if name not in qs]
    assert not missing, missing


def test_changed_fits_driver_window():
    """The driver checks only the first 50 gates: the flagship plus
    CHANGED must fit, or a changed gate goes unverified (Spark-free)."""
    from openeo_processes_dask_spark.gates import CHANGED

    assert 1 + len(CHANGED) <= 50, len(CHANGED)


def _write_round(directory, rnd, records):
    import json

    (directory / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(records))


def test_ledger_counts_only_green_records(tmp_path):
    from openeo_processes_dask_spark.gates import ledger

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    _write_round(tmp_path, 9, {g: green for g in "abcde"})
    _write_round(tmp_path, 10, {
        "a": {**green, "err": "Py4JJavaError"},
        "b": {**green, "rows_match": False},
        "c": {**green, "hash_match": False},
        "d": {"rows_match": True, "schema_match": None, "hash_match": None,
              "err": None},
        "e": green,
        "f": {**green, "schema_match": False},
    })
    # round numbers compare as integers: r10 is newer than r9
    assert ledger(str(tmp_path)) == {"a": 9, "b": 9, "c": 9, "d": 10,
                                     "e": 10}


def test_no_ledger_gives_registry_order(tmp_path, monkeypatch):
    from openeo_processes_dask_spark import gates

    monkeypatch.setattr(gates, "_REPO", str(tmp_path))
    assert gates.ledger() == {}
    registry = list(dict.fromkeys(
        name for lane in gates._LANES for name in lane.QUERIES
    ))
    head = ["flagship_daily_mean", *gates.CHANGED]
    assert list(gates.all_queries()) == head + [
        name for name in registry if name not in head
    ]


@pytest.mark.parametrize("content", ["{not json", "[1, 2]", '{"a": 1}'])
def test_malformed_ledger_file_raises_naming_it(tmp_path, content):
    from openeo_processes_dask_spark.gates import ledger

    (tmp_path / "CORRECTNESS_r3.json").write_text(content)
    with pytest.raises(ValueError, match="CORRECTNESS_r3.json"):
        ledger(str(tmp_path))


def test_no_library_module_imports_exprmemo():
    """The expression builders parse SQL strings at a constant py4j cost;
    no module of the package may reach for the process-wide expression
    memo again (Spark-free: the sources are parsed, not imported)."""
    import ast
    import pathlib

    import openeo_processes_dask_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "exprmemo.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            else:
                continue
            if any("exprmemo" in n.split(".") for n in names):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders
