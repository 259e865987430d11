"""Process-graph executor + structured streaming + training ops tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.plans import execute_process_graph


def test_process_graph_scalar(spark):
    # ((3 + 5) * 2) via a PG — pure Column compilation, no cube
    pg = {
        "process_graph": {
            "add1": {"process_id": "add", "arguments": {"x": 3, "y": 5}},
            "mul1": {
                "process_id": "multiply",
                "arguments": {"x": {"from_node": "add1"}, "y": 2},
                "result": True,
            },
        }
    }
    col = execute_process_graph(pg)
    assert spark.range(1).select(col.alias("r")).first()["r"] == 16


def test_process_graph_cube_pipeline(spark, small_cube, small_pdf):
    pg = {
        "process_graph": {
            "ft": {
                "process_id": "filter_temporal",
                "arguments": {
                    "data": {"from_parameter": "cube"},
                    "extent": ["2018-05-01", "2018-05-20"],
                },
            },
            "red": {
                "process_id": "reduce_dimension",
                "arguments": {
                    "data": {"from_node": "ft"},
                    "reducer": "mean",
                    "dimension": "t",
                },
                "result": True,
            },
        }
    }
    out = execute_process_graph(pg, named_parameters={"cube": small_cube})
    exp = (
        small_pdf[small_pdf.t < "2018-05-20"]
        .groupby(["x", "y", "band"])["value"]
        .mean()
        .reset_index()
    )
    got = out.df.toPandas().sort_values(["x", "y", "band"]).reset_index(drop=True)
    exp = exp.sort_values(["x", "y", "band"]).reset_index(drop=True)
    np.testing.assert_allclose(got.value.values, exp.value.values, rtol=1e-6)


def test_process_graph_callback_apply(spark, small_cube, small_pdf):
    # apply with a callback sub-graph: x * 10
    pg = {
        "process_graph": {
            "ap": {
                "process_id": "apply",
                "arguments": {
                    "data": {"from_parameter": "cube"},
                    "process": {
                        "process_graph": {
                            "m": {
                                "process_id": "multiply",
                                "arguments": {
                                    "x": {"from_parameter": "x"},
                                    "y": 10,
                                },
                                "result": True,
                            }
                        }
                    },
                },
                "result": True,
            }
        }
    }
    out = execute_process_graph(pg, named_parameters={"cube": small_cube})
    got = out.df.agg(F.sum("value")).first()[0]
    assert got == pytest.approx(small_pdf.value.sum() * 10, rel=1e-9)


def test_streaming_windowed_agg(spark, tmp_path):
    """Streaming twin matches the batch calendar aggregation
    (Trigger.AvailableNow drains the directory deterministically)."""
    from openeo_processes_dask_spark.sources.load import load_table
    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_aggregate_temporal_period,
        stream_events,
    )

    # re-write the events fixture as a streaming source dir (this also
    # normalizes the testdata's nanosecond timestamps to micros)
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    stream_dir = str(tmp_path / "events_stream")
    batch.coalesce(2).write.parquet(stream_dir)

    stream = stream_events(spark, stream_dir)
    out = stream_aggregate_temporal_period(stream, "1 day", "1 hour", "sum")
    q = run_stream_to_memory(out, "agg_test")
    q.awaitTermination(120)
    got = spark.sql(
        "select t, band, value from agg_test order by t, band"
    ).toPandas()

    exp = (
        batch.select(
            F.date_trunc("day", "ts").alias("t"),
            F.col("event_type").alias("band"),
            "value",
        )
        .groupBy("t", "band")
        .agg(F.sum("value").alias("value"))
        .orderBy("t", "band")
        .toPandas()
    )
    assert len(got) == len(exp)
    np.testing.assert_allclose(got.value.values, exp.value.values, rtol=1e-9)


def test_training_multimodal(spark):
    from openeo_processes_dask_spark.training.multimodal import (
        image_features,
        synthetic_image_table,
    )

    tbl = synthetic_image_table(spark, n=8, width=16, height=12)
    out = image_features(tbl).toPandas()
    assert len(out) == 8
    assert set(out.columns) == {
        "doc_id", "width", "height", "channels", "mean_intensity", "feature"
    }
    assert all(len(f) == 8 for f in out.feature)
    # determinism: same input -> same features
    out2 = image_features(tbl).toPandas()
    assert np.allclose(out.mean_intensity.values, out2.mean_intensity.values)


def test_multimodal_decode_gate():
    from openeo_processes_dask_spark.training.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"xx", 4, 4, fake=False)


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState sessionization over the events stream."""
    from openeo_processes_dask_spark.sources.load import load_table
    from openeo_processes_dask_spark.streaming.events import stream_events
    from openeo_processes_dask_spark.streaming.sessions import sessionize

    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    stream_dir = str(tmp_path / "events_sessions")
    # several files -> several micro-batches -> watermark advances and
    # closes sessions deterministically for all but the tail
    batch.orderBy("ts").coalesce(1).write.parquet(stream_dir)

    stream = stream_events(spark, stream_dir).select("user_id", "t", "value")
    sessions = sessionize(stream, gap_seconds=6 * 3600, watermark="1 minute")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from sessions_test").toPandas()
    # bounded input: the final open session per user can't close (watermark
    # stops), but earlier gaps must have produced closed sessions
    assert len(got) > 0
    assert (got.n_events >= 1).all()
    assert (got.session_end >= got.session_start).all()
    # sessions of the same user must not overlap
    for _, grp in got.groupby("user_id"):
        g = grp.sort_values("session_start")
        assert (
            g.session_start.values[1:] > g.session_end.values[:-1]
        ).all()


def test_streaming_dedup_exact(spark, tmp_path):
    """dropDuplicatesWithinWatermark: one micro-batch emits each distinct
    key exactly once; duplicates inside the batch are suppressed."""
    import pandas as pd

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_dedup_exact,
        stream_events,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, ""),
        (2, "2024-01-01 00:05:00", 10, "click", 2.0, ""),  # dup key
        (3, "2024-01-01 00:10:00", 11, "click", 3.0, ""),
        (4, "2024-01-01 00:20:00", 10, "view", 4.0, ""),
        (5, "2024-01-01 00:30:00", 11, "click", 5.0, ""),  # dup key
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    src = spark.createDataFrame(pdf)
    stream_dir = str(tmp_path / "dedup_stream")
    src.coalesce(1).write.parquet(stream_dir)

    stream = stream_events(spark, stream_dir, max_files_per_trigger=None)
    out = stream_dedup_exact(stream, ["user_id", "band"], "1 hour")
    q = run_stream_to_memory(out.select("user_id", "band"), "dedup_test",
                             output_mode="append")
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["band"])
        for r in spark.sql("select * from dedup_test").collect()
    }
    assert got == {(10, "click"), (11, "click"), (10, "view")}
    assert spark.sql("select count(*) c from dedup_test").first()["c"] == 3


def test_stream_dedup_against_static(spark, tmp_path):
    """Stream-static anti join: rows whose key is in the static seen table
    never reach the sink; stateless so no watermark is required."""
    import pandas as pd

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_dedup_against,
        stream_events,
    )

    src = str(tmp_path / "stream_src")
    pdf = pd.DataFrame(
        {
            "event_id": range(6),
            "ts": pd.to_datetime(["2021-01-01 10:00"] * 3 + ["2021-01-02 10:00"] * 3),
            "user_id": [1, 2, 3, 1, 2, 3],
            "event_type": ["a", "b", "a", "a", "b", "b"],
            "value": [1.0] * 6,
            "props": ["{}"] * 6,
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    stream = stream_events(spark, src, max_files_per_trigger=None)
    seen = spark.createDataFrame([("a",)], "band string")
    out = stream_dedup_against(stream, seen, ["band"])
    q = run_stream_to_memory(
        out.select("user_id", "band"), "t_sdstat", output_mode="append"
    )
    q.awaitTermination(120)
    rows = {(r["user_id"], r["band"]) for r in spark.table("t_sdstat").collect()}
    assert rows == {(2, "b"), (3, "b")}


def test_stream_dedup_requires_explicit_keys(spark):
    """key_cols is required (ADVICE r04): the old fixture-specific default
    ['user_id','band'] would silently dedup any schema that happened to
    carry those names."""
    from openeo_processes_dask_spark.streaming.events import (
        stream_dedup_against,
        stream_dedup_exact,
    )

    df = spark.range(3)
    with pytest.raises(ValueError, match="explicit key_cols"):
        stream_dedup_exact(df, [])
    with pytest.raises(ValueError, match="explicit key_cols"):
        stream_dedup_against(df, df, [])


def test_process_graph_with_source_node(spark, small_cube, tmp_path):
    """Entry point A end-to-end INCLUDING the source: a process graph
    whose root is a load_stac node (no preloaded cube parameter) flows
    into apply and reduce_dimension — the full reference lifecycle
    (SURVEY.md section 3, entry point A)."""
    import json

    flat = str(tmp_path / "pg_flat.parquet")
    one_band = small_cube.df.where(F.col("band") == "B04").drop("band")
    one_band.write.parquet(flat)
    item = {
        "type": "Feature",
        "stac_version": "1.0.0",
        "id": "pg-item",
        "assets": {"B04": {"href": flat, "type": "parquet"}},
    }
    path = tmp_path / "pg_item.json"
    path.write_text(json.dumps(item))
    pg = {
        "process_graph": {
            "load": {
                "process_id": "load_stac",
                "arguments": {"url": str(path), "bands": ["B04"]},
            },
            "double": {
                "process_id": "apply",
                "arguments": {
                    "data": {"from_node": "load"},
                    "process": {
                        "process_graph": {
                            "m": {
                                "process_id": "multiply",
                                "arguments": {
                                    "x": {"from_parameter": "x"},
                                    "y": 2,
                                },
                                "result": True,
                            }
                        }
                    },
                },
            },
            "reduce": {
                "process_id": "reduce_dimension",
                "arguments": {
                    "data": {"from_node": "double"},
                    "reducer": "mean",
                    "dimension": "t",
                },
                "result": True,
            },
        }
    }
    from openeo_processes_dask_spark.plans import execute_process_graph

    out = execute_process_graph(pg)
    df = out.df if hasattr(out, "df") else out
    rows = df.collect()
    assert rows, "graph with a source node must produce rows"
    # spot-check the arithmetic: mean(2v) == 2*mean(v) per (x, y, band)
    exp = (
        small_cube.df.where(F.col("band") == "B04")
        .groupBy("x", "y")
        .agg(F.avg(F.col("value") * 2).alias("value"))
    )
    got_sum = sum(r["value"] for r in rows if r["value"] is not None)
    exp_sum = sum(r["value"] for r in exp.collect() if r["value"] is not None)
    assert got_sum == pytest.approx(exp_sum, rel=1e-9)


def test_watermark_controls_finalization_not_admission(spark, tmp_path):
    """Pin Spark's REAL late-data contract (it surprises people, and the
    first version of this test assumed the folklore version): for
    windowed aggregations the watermark is a lower bound for STATE
    EVICTION and append-mode FINALIZATION — it does not reject late
    input. A row far behind the watermark still lands in its window; in
    append mode that window (being past the watermark) is finalized and
    emitted in the same batch, while windows newer than the watermark
    stay open and unemitted. (Guaranteed dropping needs
    dropDuplicatesWithinWatermark / stream-stream join semantics, not
    plain aggregation.)"""
    import os
    import time as _t

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_aggregate_temporal_period,
    )

    d = os.path.join(str(tmp_path), "wm")
    mk = lambda rows: spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props",
    )
    mk([(1, "2024-01-10 12:00:00", 1, "a", 10.0, "{}"),
        (2, "2024-01-20 12:00:00", 1, "a", 20.0, "{}")]
       ).coalesce(1).write.parquet(d)
    _t.sleep(1.1)
    mk([(3, "2024-01-05 12:00:00", 1, "a", 100.0, "{}")]
       ).coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select("user_id", F.col("ts").alias("t"),
                F.col("event_type").alias("band"), "value")
    )
    out = stream_aggregate_temporal_period(
        stream, "1 day", watermark="2 days", reducer="sum"
    )
    q = run_stream_to_memory(out, "t_wm", output_mode="append")
    q.awaitTermination(120)
    got = {str(r["t"])[:10]: r["value"] for r in spark.table("t_wm").collect()}
    # batch 1 set the watermark to Jan 18; the Jan-05 straggler in batch 2
    # is ADMITTED and its (already-expired) window finalizes immediately
    assert got.get("2024-01-05") == 100.0
    assert got.get("2024-01-10") == 10.0
    # the Jan-20 window ends past the watermark: still open, not emitted
    assert "2024-01-20" not in got


def test_sessionize_drops_below_watermark_stragglers(spark, tmp_path):
    """A straggler far below the watermark must NOT fold into the open
    session (Spark does not pre-filter stateful-UDF input; sessionize
    gates on GroupState.getCurrentWatermarkMs itself)."""
    import os
    import time as _t

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
    )
    from openeo_processes_dask_spark.streaming.sessions import sessionize

    d = os.path.join(str(tmp_path), "sess")
    mk = lambda rows: spark.createDataFrame(
        rows, "t_s string, user_id long, value double"
    ).selectExpr("CAST(t_s AS TIMESTAMP) AS t", "user_id", "value")
    mk([("2024-01-01 00:00:00", 1, 1.0),
        ("2024-01-20 00:00:00", 1, 2.0)]).coalesce(1).write.parquet(d)
    _t.sleep(1.1)
    mk([("2024-01-02 00:00:00", 1, 50.0)]).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    _t.sleep(1.1)
    # closer batch: ends the open Jan-20 session
    mk([("2024-01-25 00:00:00", 1, 3.0)]).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    stream = (
        spark.readStream.schema("t timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = sessionize(stream, gap_seconds=3600, watermark="1 hour")
    q = run_stream_to_memory(out, "t_sess_wm", output_mode="append")
    q.awaitTermination(120)
    sessions = {
        str(r["session_start"])[:10]: (r["n_events"], r["value_sum"])
        for r in spark.table("t_sess_wm").collect()
    }
    assert sessions["2024-01-01"] == (1, 1.0)
    # the Jan-20 session closed by Jan-25 must NOT contain the straggler
    assert sessions["2024-01-20"] == (1, 2.0)
    assert "2024-01-02" not in sessions


@pytest.mark.parametrize(
    "marker, text", [("_DONE", ""), ("_FIXTURE_COMPLETE", "v0")]
)
def test_signature_archive_rewrites_a_stale_cache(spark, tmp_path, monkeypatch, marker, text):
    """ingest_screen_prebanded's persisted signature table sits behind the
    versioned fixture guard: a table left by older code, under the bare
    ``_DONE`` marker it used to write or an older version string, is
    rewritten, and the rewritten one is then reused."""
    import tempfile

    from openeo_processes_dask_spark.gates.training import _signature_archive

    def sigs(doc_id):
        return spark.createDataFrame([(doc_id, [7, 8])], "doc_id long, signature array<bigint>")

    def ids(path):
        return [r["doc_id"] for r in spark.read.parquet(path).collect()]

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    tempfile.tempdir = None  # re-resolve gettempdir() from TMPDIR
    try:
        stale = tmp_path / "prebanded_sf0.001"
        sigs(1).write.parquet(str(stale / "sigs"))
        (stale / marker).write_text(text)
        path = _signature_archive(sigs(2), "/data/sf0.001")
        assert path == str(stale / "sigs") and ids(path) == [2]
        assert _signature_archive(sigs(3), "/data/sf0.001") == path
        assert ids(path) == [2]
    finally:
        tempfile.tempdir = None


def test_fixture_dir_staleness_guard(tmp_path, monkeypatch):
    """ADVICE r12 #3: a stale or partially written stream-fixture dir
    (no completion marker / wrong version) must be wiped and
    regenerated, not silently replayed; a complete one is reused."""
    import os

    from openeo_processes_dask_spark.gates.streaming import (
        _fixture_dir,
        _fixture_done,
    )

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # re-resolve gettempdir() from TMPDIR
    try:
        # 1. nothing there -> needs write
        d, fresh = _fixture_dir("guardtest", "/root/testdata/sf0.001")
        assert fresh
        # 2. simulate an ABORTED generation: dir + a part file, no marker
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "part-00000.parquet"), "w").write("x")
        d2, fresh = _fixture_dir("guardtest", "/root/testdata/sf0.001")
        assert d2 == d and fresh
        # the stale dir was wiped
        assert not os.path.isdir(d)
        # 3. complete generation -> reused
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "part-00000.parquet"), "w").write("x")
        _fixture_done(d)
        _, fresh = _fixture_dir("guardtest", "/root/testdata/sf0.001")
        assert not fresh
        assert os.path.isfile(os.path.join(d, "part-00000.parquet"))
        # 4. fixture-definition change (version bump) -> regenerated
        _, fresh = _fixture_dir(
            "guardtest", "/root/testdata/sf0.001", version=2
        )
        assert fresh and not os.path.isdir(d)
    finally:
        tempfile.tempdir = None
