"""Structured Streaming gate queries (replayed against batch oracles).

Sliced verbatim from the round-2 ``__spark_entry__.py`` (round 3 split);
query/oracle semantics unchanged. See gates/__init__.py for registry order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .common import _fixture_dir, _fixture_done, _setup, _table


def q_streaming_daily_sum(spark, sf_dir):
    """Structured Streaming twin of the daily aggregation: drain the events
    table through readStream (Trigger.AvailableNow) and return the final
    windowed state — oracle-checked against the equivalent batch SQL."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_aggregate_temporal_period,
        stream_events,
    )

    stream_dir, fresh = _fixture_dir("events_stream", sf_dir)
    if fresh:
        # one-time: re-write the fixture as a streaming source dir (also
        # normalizes the nanosecond timestamps the stream reader can't take)
        _table(spark, sf_dir, "events").coalesce(4).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=2)
    out = stream_aggregate_temporal_period(stream, "1 day", "1 hour", "sum")
    name = f"q_stream_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(out, name)
    q.awaitTermination(300)
    return spark.table(name).select(
        "t", "band", F.round("value", 6).alias("value")
    )


def q_streaming_sliding_sum(spark, sf_dir):
    """Sliding-window streaming aggregate (3-day window, 1-day slide):
    every event lands in 3 windows; the final drained state must equal the
    batch expansion (each event duplicated to window starts d-2, d-1, d)."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_aggregate_sliding,
        stream_events,
    )

    stream_dir, fresh = _fixture_dir("events_stream", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").coalesce(4).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=2)
    out = stream_aggregate_sliding(stream, "3 days", "1 day", "1 hour", "sum")
    name = f"q_slide_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(out, name)
    q.awaitTermination(300)
    return spark.table(name).select(
        "t", "band", F.round("value", 6).alias("value")
    )


def q_streaming_pii_redact(spark, sf_dir):
    """Stateless curation ops run unchanged mid-stream: synthesize a
    PII-bearing column from the streamed events' user_id, redact it with
    the SAME chained-regexp expressions the batch lane uses
    (training/pii.py — stateless Column transforms need no watermark or
    state store), aggregate per redacted form. Oracle replays in batch
    SQL: stream-vs-batch equality is exactly what stateless ops promise."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_events,
    )
    from openeo_processes_dask_spark.training.pii import pii_redact

    stream_dir, fresh = _fixture_dir("events_stream", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").coalesce(4).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=2)
    synth = stream.withColumn(
        "text",
        F.concat(
            F.lit("user"), F.col("user_id").cast("string"),
            F.lit("@mail.test reports ip 10."),
            (F.col("user_id") % 256).cast("string"),
            F.lit(".0.9 grp "),
            (F.col("user_id") % 10).cast("string"),
        ),
    )
    red = pii_redact(synth, text_col="text", out_col="redacted")
    name = f"q_spii_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(red.select("redacted"), name, output_mode="append")
    q.awaitTermination(300)
    return (
        spark.table(name).groupBy("redacted").agg(F.count("*").alias("n"))
    )


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): drain the
    events table as ONE micro-batch (single file, AvailableNow) so every
    distinct (user, band, day) key is emitted exactly once — the emitted
    KEY SET is deterministic even though which duplicate row wins the
    state race is not, so the query returns keys only and the oracle is
    SELECT DISTINCT."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_dedup_exact,
        stream_events,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        # single sorted file: one micro-batch == sorted replay (oracle
        # convention for stateful streaming)
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=None)
    keyed = stream.withColumn("day", F.date_trunc("day", F.col("t")))
    out = stream_dedup_exact(keyed, ["user_id", "band", "day"], "1 hour")
    name = f"q_sdedup_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(out.select("user_id", "band", "day"), name,
                             output_mode="append")
    q.awaitTermination(300)
    return spark.table(name).select("user_id", "band", "day")


def q_streaming_dedup_static(spark, sf_dir):
    """Stream-static LEFT ANTI dedup (streaming/events.py
    stream_dedup_against): streamed events whose (band, day) key appears
    in the static seen-set (keys touched by even user_ids) are dropped
    mid-stream — a real cross-row anti join, not a self-partition. The
    join is stateless, so the surviving ROW SET is deterministic;
    returned as distinct keys against a plain SQL anti-join oracle."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_dedup_against,
        stream_events,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=None)
    keyed = stream.withColumn("day", F.date_trunc("day", F.col("t")))
    # seen = keys already ingested on every-third calendar day: the event
    # stream is dense (every (band, day) key occurs), so the seen filter
    # must cut at KEY granularity to leave a non-trivial survivor set
    seen = (
        _table(spark, sf_dir, "events")
        .where(F.dayofmonth("ts") % 3 == 0)
        .select(
            F.col("event_type").alias("band"),
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        )
    )
    out = stream_dedup_against(keyed, seen, ["band", "day"])
    name = f"q_sdstat_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(
        out.select("user_id", "band", "day"), name, output_mode="append"
    )
    q.awaitTermination(300)
    return spark.table(name).select("user_id", "band", "day").distinct()


def q_streaming_asof(spark, sf_dir):
    """Streaming as-of enrichment (streaming/events.py
    stream_asof_against, NEW r10): streamed click events matched to the
    LATEST PRECEDING view snapshot of the same user. The static side is
    precomputed into validity intervals (one batch window job), so the
    stream join is STATELESS — equi on user_id + interval containment
    residual, broadcastable, zero watermark state; exactly one interval
    matches per key so the emitted row set is deterministic. Oracle:
    DuckDB's native ASOF JOIN on the batch tables."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_asof_against,
        stream_events,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    clicks = stream_events(spark, stream_dir, max_files_per_trigger=None).where(
        F.col("band") == "click"
    ).select("user_id", "t", "value")
    views = (
        _table(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("t"), "value")
    )
    out = stream_asof_against(clicks, views, on="t", by="user_id")
    name = f"q_sasof_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(out, name, output_mode="append")
    q.awaitTermination(300)
    return spark.table(name)


def q_streaming_sessions(spark, sf_dir):
    """Stateful streaming sessionization (applyInPandasWithState,
    streaming/sessions.py) under a full value oracle. The source is ONE
    time-sorted file, so the state machine's arrival order equals the
    globally-sorted batch replay the SQL oracle computes. Only sessions
    closed by a later event are compared: per-user LAST sessions are
    emitted (or not) depending on ms-resolution watermark timing, so both
    sides exclude sessions whose end reaches past max(user time) - gap."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_events,
    )
    from openeo_processes_dask_spark.streaming.sessions import sessionize

    gap = 86_400  # 1 day
    stream_dir, fresh = _fixture_dir("events_sessions", sf_dir)
    if fresh:
        (
            _table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
            .repartition(1)
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(stream_dir)
        )
        _fixture_done(stream_dir)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=None)
    sessions = sessionize(stream, gap_seconds=gap, watermark="1 hour")
    name = f"q_sessions_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(sessions, name, output_mode="append")
    q.awaitTermination(300)
    mx = (
        _table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("__mt__"))
    )
    return (
        spark.table(name)
        .join(F.broadcast(mx), "user_id")
        .where(
            # Parquet timestamps load as TIMESTAMP_NTZ; unix_micros needs
            # TIMESTAMP. Session tz is pinned UTC, so the cast is
            # value-preserving (same pattern: operators/resample.py:44-51).
            F.unix_micros(F.col("session_end").cast("timestamp"))
            < F.unix_micros(F.col("__mt__").cast("timestamp")) - gap * 1_000_000
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            F.round("value_sum", 6).alias("value_sum"),
        )
    )


def q_streaming_cap(spark, sf_dir):
    """Streaming per-key quota (streaming/sessions.py stream_cap_per_key):
    admit at most 5 events per user over the stream, state = one counter
    per key. Single sorted file = one micro-batch, and admission within a
    batch is (t, event_id)-ordered, so the admitted set and ranks are
    deterministic and the oracle is a plain row_number window."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        EVENTS_SCHEMA,
        run_stream_to_memory,
    )
    from openeo_processes_dask_spark.streaming.sessions import (
        stream_cap_per_key,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(stream_dir)
        .select("user_id", "event_id", F.col("ts").alias("t"), "value")
    )
    out = stream_cap_per_key(stream, k=5)
    name = f"q_scap_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(
        out.select("user_id", "event_id", "rank"), name, output_mode="append"
    )
    q.awaitTermination(300)
    return spark.table(name).select("user_id", "event_id", "rank")


def q_streaming_reservoir(spark, sf_dir):
    """Streaming exactly-k weighted reservoir (streaming/sessions.py
    stream_weighted_reservoir): A-ES priorities are pure row functions,
    so draining the stream in one AvailableNow trigger admits EXACTLY the
    batch weighted sample — the oracle is the same A-ES SQL the batch
    weighted_sample gate proves, partitioned by user."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        EVENTS_SCHEMA,
        run_stream_to_memory,
    )
    from openeo_processes_dask_spark.streaming.sessions import (
        stream_weighted_reservoir,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(stream_dir)
        .select("user_id", "event_id", F.col("ts").alias("t"), "value")
    )
    out = stream_weighted_reservoir(stream, k=3, seed=42)
    name = f"q_sres_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(out, name, output_mode="append")
    q.awaitTermination(300)
    return spark.table(name).select("user_id", "event_id")


def q_streaming_sink(spark, sf_dir):
    """Durable streaming ETL (streaming/events.py run_stream_to_parquet):
    stream the events fixture through a stateless transform into a
    checkpointed parquet sink, then read the sink back. Exactly-once:
    re-running the gate over the already-drained source appends nothing
    (checkpoint + _spark_metadata), so the aggregate stays equal to the
    batch oracle on every run."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_parquet,
        stream_events,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), f"sink_gate_{os.path.basename(sf_dir)}"
    )
    out_dir, ckpt = base + "_out", base + "_ckpt"
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
        # a REGENERATED source invalidates the durable sink: the
        # checkpoint's file registry names the OLD part file, so the
        # new (differently-uuid'd) file would be treated as unseen and
        # APPENDED onto the old sink contents — the exact doubling the
        # r13 sweep caught after the staleness guard (ADVICE r12 #3)
        # first wiped a markerless source dir. Exactly-once is per
        # (source, checkpoint) PAIR; regenerate them together.
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=None)
    shaped = stream.where(F.col("value") > 100).select(
        "user_id", "band", F.date_trunc("day", F.col("t")).alias("day"),
        "value",
    )
    q = run_stream_to_parquet(shaped, out_dir, ckpt)
    q.awaitTermination(300)
    back = spark.read.parquet(out_dir)
    return back.groupBy("band", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )


def q_streaming_session_window(spark, sf_dir):
    """Built-in session windows (F.session_window + state store) — the
    let-Catalyst-do-it twin of the custom applyInPandasWithState
    sessionizer (streaming_sessions gate): same gap semantics, JVM state
    store instead of Python state. Spark's session end = last event +
    gap (half-open window), and append mode emits a session once the
    GLOBAL watermark (max event time - delay) passes its end; the oracle
    replays both rules in SQL."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_events,
    )

    stream_dir, fresh = _fixture_dir("events_sessions", sf_dir)
    if fresh:
        (
            _table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
            .repartition(1)
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(stream_dir)
        )
        _fixture_done(stream_dir)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=None)
    sessions = (
        stream.withWatermark("t", "1 hour")
        .groupBy(
            F.session_window(F.col("t"), "1 day").alias("__w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 6).alias(
                "value_sum"
            ),
        )
        .select(
            "user_id",
            F.col("__w.start").alias("session_start"),
            F.col("__w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )
    name = f"q_swin_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(sessions, name, output_mode="append")
    q.awaitTermination(300)
    return spark.table(name)


def q_streaming_upsert(spark, sf_dir):
    """Streaming merge-into (streaming/events.py
    run_stream_upsert_manifest): two micro-batches (events split by
    calendar half, distinct mod-times pin batch order) each become one
    manifest upsert commit keyed by (user_id, band, day). Key ranges are
    disjoint across the halves, so the final table equals the global
    per-key max regardless of batch order, and the manifest must be at
    version 2."""
    _setup(spark)
    import os
    import shutil
    import tempfile
    import time as _t

    from openeo_processes_dask_spark.sources.manifest import read_manifest
    from openeo_processes_dask_spark.streaming.events import (
        run_stream_upsert_manifest,
    )

    base = os.path.join(
        tempfile.gettempdir(), f"supsert_gate_{os.path.basename(sf_dir)}"
    )
    src, tbl, ckpt = base + "_src", base + "_tbl", base + "_ckpt"
    shutil.rmtree(tbl, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    if not os.path.isdir(src):
        ev = _table(spark, sf_dir, "events")
        ev.where(F.dayofmonth("ts") < 16).coalesce(1).write.parquet(src)
        _t.sleep(1.1)
        ev.where(F.dayofmonth("ts") >= 16).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    from openeo_processes_dask_spark.streaming.events import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "user_id",
            F.col("event_type").alias("band"),
            F.date_trunc("day", F.col("ts")).alias("day"),
            "value",
        )
    )
    q = run_stream_upsert_manifest(
        stream, tbl, ["user_id", "band", "day"], ckpt
    )
    q.awaitTermination(300)
    from openeo_processes_dask_spark.sources.manifest import read_table

    version = read_manifest(spark, tbl)["version"]
    return (
        read_table(spark, tbl)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
        .withColumn("version", F.lit(version).cast("int"))
    )


def q_streaming_attribution(spark, sf_dir):
    """Watermarked stream-stream join (streaming/events.py
    stream_stream_join): view→click attribution — two streams read from
    the same events source, inner-joined on user_id with the click
    bounded to [view, view + 30 min]. The time bound on BOTH event-time
    columns is what lets Spark evict join state (the unbounded-join
    killer at stream scale). Drained AvailableNow; the emitted pair set
    is deterministic for an inner join, aggregated per user against the
    identical batch-SQL join."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import (
        run_stream_to_memory,
        stream_events,
        stream_stream_join,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    views = stream_events(spark, stream_dir, max_files_per_trigger=None).where(
        F.col("band") == "view"
    )
    clicks = stream_events(spark, stream_dir, max_files_per_trigger=None).where(
        F.col("band") == "click"
    )
    out = stream_stream_join(
        views, clicks, on="user_id", within="30 minutes", how="inner"
    )
    name = f"q_ssjoin_{abs(hash(sf_dir)) % 10_000}"
    q = run_stream_to_memory(
        out.select("l_user_id", "l_t", "r_t", "r_value"), name,
        output_mode="append",
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy(F.col("l_user_id").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("r_value"), 6).alias("click_value"),
        )
    )


def q_streaming_anomaly(spark, sf_dir):
    """Online rolling-anomaly detection (streaming/sessions.py
    stream_anomaly, applyInPandasWithState): per-band last-20-values
    state, z-scored on arrival, alert at |z| > 2.5 — the streaming twin
    of the batch rolling_anomaly gate, sharing its exact window SQL
    oracle (single sorted batch => identical replay)."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.sessions import stream_anomaly

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .parquet(stream_dir)
        .select(
            "event_id", F.col("ts").alias("t"),
            F.col("event_type").alias("band"), "value",
        )
    )
    out = stream_anomaly(stream, window=20, threshold=2.5)
    name = f"q_sanom_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "event_id", "band", "value", F.round("zscore", 6).alias("zscore")
    )


def q_streaming_ema(spark, sf_dir):
    """Online per-user EMA (streaming/sessions.py stream_ema,
    applyInPandasWithState): one int64 of state per key, the integer
    micro-unit recurrence applied on arrival. Single sorted-batch drain
    == the batch ema operator row for row, so it shares ema_smooth's
    recursive-CTE oracle."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.sessions import stream_ema

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .parquet(stream_dir)
        .select(
            F.col("user_id").alias("k"), F.col("ts").alias("t"),
            "event_id", "value",
        )
    )
    out = stream_ema(stream, alpha_num=2, alpha_den=10)
    name = f"q_sema_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.col("k").alias("user_id"), "event_id", "ema_micro"
    )


def q_streaming_fill_forward(spark, sf_dir):
    """Online LOCF gap fill (streaming/sessions.py stream_fill_forward,
    NEW r11-continuation — applyInPandasWithState, one (last_t, last_v)
    pair of state per key): NULL out every event_id%5==2 reading,
    stream the events table, and patch each gap with the user's most
    recent surviving value at arrival time. Single sorted-batch drain
    == the batch LOCF window (pinned in tests/test_stream_fill_forward),
    so the oracle replays last_value IGNORE NULLS over (ts, event_id)
    per user."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.sessions import (
        stream_fill_forward,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .parquet(stream_dir)
        .select(
            F.col("user_id").alias("k"),
            F.col("ts").alias("t"),
            "event_id",
            F.when(
                F.col("event_id") % 5 == 2, F.lit(None).cast("double")
            ).otherwise(F.col("value")).alias("value"),
        )
    )
    out = stream_fill_forward(stream)
    name = f"q_sff_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.col("k").alias("user_id"),
        "event_id",
        F.round("value", 6).alias("value"),
        "filled",
    )


def q_streaming_funnel(spark, sf_dir):
    """Online funnel progress (streaming/sessions.py stream_funnel,
    applyInPandasWithState, two scalars of state per user): drained
    step events aggregated to max(step) per user == the batch funnel's
    steps_completed, so it shares the chained-CTE oracle shape."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.sessions import stream_funnel

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .parquet(stream_dir)
        .select(
            F.col("user_id").alias("k"), F.col("ts").alias("t"),
            "event_id", F.col("event_type").alias("event"),
        )
    )
    out = stream_funnel(stream, ["view", "click", "purchase"])
    name = f"q_sfun_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy(F.col("k").alias("user_id"))
        .agg(F.max("step").cast("int").alias("steps_completed"))
    )


def q_streaming_count_min(spark, sf_dir):
    """Streaming Count-Min sketch (training/sketches.py
    stream_count_min): the d=4 x w=64 frequency table maintained as a
    running streaming aggregate over the event-type stream — lifetime
    d*w-cell state by construction (what a sketch is). Cell sums
    commute, so the drained table equals the batch build — oracle
    replays the md5-bucket arithmetic in SQL."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import stream_events
    from openeo_processes_dask_spark.training.sketches import (
        stream_count_min,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=None)
    out = stream_count_min(stream, "band", depth=4, width=64)
    name = f"q_scms_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def q_streaming_hll(spark, sf_dir):
    """Streaming HyperLogLog (training/sketches.py stream_hll_registers):
    the p=10 register table maintained as a running max aggregate over
    the event stream's user_id — live distinct-user monitoring with
    <= 2^p-cell lifetime state (what a sketch is; same no-watermark
    contract as streaming_count_min). Register max commutes, so the
    drained table equals the batch build — oracle replays the md5
    bucket/rho bit arithmetic over the same events."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.streaming.events import stream_events
    from openeo_processes_dask_spark.training.sketches import (
        stream_hll_registers,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = stream_events(spark, stream_dir, max_files_per_trigger=None)
    out = stream_hll_registers(stream, "user_id", p=10)
    name = f"q_shll_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)



def q_streaming_quantile_sketch(spark, sf_dir):
    """Streaming quantile sketch (training/sketches.py
    stream_quantile_sketch, NEW r11): the hash-threshold survivor
    predicate is a pure per-row filter, so the streaming sketch is
    STATELESS — append mode, no watermark, zero aggregation state;
    each micro-batch appends its survivors and the drained table
    equals the batch filter over the same rows (same md5 hashes, same
    level rule). Oracle replays hash/level/filter in SQL."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.training.sketches import (
        stream_quantile_sketch,
    )

    stream_dir, fresh = _fixture_dir("events_stream1", sf_dir)
    if fresh:
        _table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).parquet(stream_dir)
    out = stream_quantile_sketch(stream, "value", "event_id", level=3)
    name = f"q_sqsk_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.round("__v__", 6).alias("v"),
        F.col("__h__").alias("h"),
        F.col("__lvl__").alias("lvl"),
    )


def q_streaming_ranking_metrics(spark, sf_dir):
    """Streaming ranking evaluation (training/retrieval.py
    stream_ranking_metrics, NEW r12 — VERDICT r11 #7): the
    ranking_metrics fixture's run table streamed in TWO micro-batches
    (ranks 1-5, then 6-10; maxFilesPerTrigger=1), qrels static.
    Relevance attaches by stream-static join before the stateful step;
    per-query state is the ≤10 accumulated (rank, id, rel) triples;
    each update emits the query's metrics-so-far with an n_seen
    progress column through the SHARED finalize projection. The gate
    keeps each query's FINAL emission (n_seen = 10), which must equal
    the batch ranking_metrics row — the oracle is the batch replay
    plus the constant n_seen."""
    _setup(spark)
    import os
    import tempfile

    from pyspark.sql import Window

    from openeo_processes_dask_spark.training.retrieval import (
        stream_ranking_metrics,
    )

    d = _table(spark, sf_dir, "documents")
    qid = (F.col("doc_id") % 20).alias("query_id")
    w = Window.partitionBy(F.col("doc_id") % 20).orderBy(
        (F.col("doc_id") * 37) % 101, F.col("doc_id")
    )
    results = d.select(
        qid,
        F.col("doc_id").alias("id"),
        F.row_number().over(w).alias("rank"),
    ).where(F.col("rank") <= 10).select(
        # deterministic event time: one second per rank position
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.expr("make_interval(0, 0, 0, 0, 0, 0, rank)")
        ).alias("t"),
        "query_id", "id", "rank",
    )
    stream_dir, fresh = _fixture_dir("ranking_stream", sf_dir)
    if fresh:
        results.where("rank <= 5").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        results.where("rank > 5").coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("t timestamp, query_id bigint, id bigint, rank bigint")
        .parquet(stream_dir)
    )
    qrels = d.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") % 20).alias("query_id"),
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 4).alias("rel"),
    )
    out = stream_ranking_metrics(stream, qrels, k=10)
    name = f"q_srank_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # final emission per query: every query has exactly 10 run rows
    return spark.table(name).where(F.col("n_seen") == 10)


def q_streaming_semdedup_incremental(spark, sf_dir):
    """Stateless streaming SemDeDup ingest screen (training/
    similarity.py stream_semdedup_incremental, NEW r12): the
    semantic_dedup_incremental fixture's NEW batch (vec_id 300-449 +
    planted copies of every 50th archive vector at id+10000) streamed
    in two micro-batches against the archive's persisted centroids and
    membership table. Centroid assignment is a projection and the
    archive compare is a pair of stream-static semi/anti hash joins
    (cosine residual on the cluster equi key) — zero state, zero
    watermark. The drained verdicts equal the batch lane row for row,
    so the oracle IS the batch incremental replay."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.training.clustering import kmeans_fit
    from openeo_processes_dask_spark.training.similarity import (
        _tag_members,
        stream_semdedup_incremental,
    )

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    archive = emb.where(F.col("vec_id") < 300)
    new = emb.where(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 450)
    ).unionByName(
        emb.where(
            (F.col("vec_id") < 300) & (F.col("vec_id") % 50 == 0)
        ).select(
            (F.col("vec_id") + F.lit(10000)).alias("vec_id"), "embedding"
        )
    )
    cents = kmeans_fit(archive, k=8, iterations=2)
    members = _tag_members(archive, cents, "vec_id", "embedding")
    stream_dir, fresh = _fixture_dir("semdedup_stream", sf_dir)
    if fresh:
        new.where("vec_id < 400").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        new.where("vec_id >= 400").coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("vec_id bigint, embedding array<float>")
        .parquet(stream_dir)
    )
    out = stream_semdedup_incremental(stream, members, cents, 0.2)
    name = f"q_ssdi_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def q_streaming_minhash_screen(spark, sf_dir):
    """Stateless streaming MinHash ingest screen (training/dedup.py
    stream_minhash_screen, NEW r12): the minhash_incremental fixture's
    new batch (doc_id%5==0, id+1e6, ' qq7') streamed in two
    micro-batches against the archive's persisted signature table —
    per-row HOF signatures (no stateful aggregate), band-keyed
    stream-static join, pairs possibly repeated per agreeing band. The
    gate's batch post-pass dedupes the landed table, so the oracle IS
    the batch minhash_incremental replay."""
    _setup(spark)
    import os
    import tempfile

    from openeo_processes_dask_spark.training.dedup import (
        minhash_signatures,
        stream_minhash_screen,
    )

    docs = _table(spark, sf_dir, "documents")
    seen_sigs = minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=64)
    new = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq7")).alias("text"),
    )
    stream_dir, fresh = _fixture_dir("mh_screen_stream", sf_dir)
    if fresh:
        new.where("doc_id % 2 = 0").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        new.where("doc_id % 2 = 1").coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("doc_id bigint, text string")
        .parquet(stream_dir)
    )
    out = stream_minhash_screen(
        stream, seen_sigs, n=3, num_hashes=64, bands=16, threshold=0.2
    )
    name = f"q_smhs_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).distinct()


def q_streaming_contamination_screen(spark, sf_dir):
    """Stateless streaming benchmark-decontamination screen
    (training/dedup.py stream_contamination_screen, NEW
    r13-continuation): the decontaminate gate's train slice
    (doc_id%53 != 0) streamed in two micro-batches against the
    PERSISTED benchmark digest table (benchmark_digests of the
    doc_id%53 == 0 slice) — per-row HOF distinct-shingle digests, no
    stateful aggregate, inner stream-static broadcast join. One
    (id, shk) row lands per offending distinct shingle, so the gate's
    batch post-pass GROUP BY id COUNT(*) equals batch decontaminate
    bit-for-bit — the oracle IS the decontaminate replay."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        benchmark_digests,
        stream_contamination_screen,
    )

    docs = _table(spark, sf_dir, "documents")
    bench_keys = benchmark_digests(
        docs.where(F.col("doc_id") % 53 == 0), "text", n=5
    )
    train = docs.where(F.col("doc_id") % 53 != 0).select("doc_id", "text")
    stream_dir, fresh = _fixture_dir("contam_screen_stream", sf_dir)
    if fresh:
        train.where("doc_id % 2 = 0").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        train.where("doc_id % 2 = 1").coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("doc_id bigint, text string")
        .parquet(stream_dir)
    )
    out = stream_contamination_screen(stream, bench_keys, n=5)
    name = f"q_scs_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def q_streaming_winnow_screen(spark, sf_dir):
    """Stateless streaming winnowed ingest screen (training/dedup.py
    stream_winnow_screen, NEW r13-continuation): the winnow_incremental
    fixture's new batch (doc_id%5==0, id+1e6, ' qq7' suffix) streamed
    in two micro-batches against the archive's persisted
    (id, fingerprint) table at k=4, w=4 — per-row HOF selection (narrow,
    so it composes onto the stream unchanged), fingerprint-keyed
    stream-static join, matches repeated per selected position. The
    gate's batch post-pass distincts the landed (new_id, seen_id,
    fingerprint) rows and aggregates per pair, so the oracle IS the
    batch winnow_incremental replay."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        stream_winnow_screen,
        winnow_fingerprints,
    )

    docs = _table(spark, sf_dir, "documents")
    seen = winnow_fingerprints(
        docs.where(F.col("doc_id") % 5 != 0), k=4, w=4
    ).select("id", "fingerprint")
    new = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq7")).alias("text"),
    )
    stream_dir, fresh = _fixture_dir("winnow_screen_stream", sf_dir)
    if fresh:
        new.where("doc_id % 2 = 0").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        new.where("doc_id % 2 = 1").coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("doc_id bigint, text string")
        .parquet(stream_dir)
    )
    out = stream_winnow_screen(stream, seen, k=4, w=4)
    name = f"q_sws_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .distinct()
        .groupBy("new_id", "seen_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def q_streaming_ingest_screen_multimodal(spark, sf_dir):
    """Stateless streaming multi-modality ingest screen (training/
    dedup.py stream_ingest_screen_multimodal, NEW r13 — VERDICT r12
    #4): the q_ingest_screen_multimodal fixture's new batch (all
    modality columns) streamed in two micro-batches against the
    archive's persisted fingerprint/signature/membership/hash tables.
    Every lane key is a per-row projection and every archive table is
    pre-grouped UNIQUE on its join key, so the whole operator is
    row-preserving stream-static LEFT joins — one verdict row per
    streamed row, zero state, zero watermark. The drained table equals
    the batch lane row for row, so the oracle IS the batch composed
    replay (no consumer-side dedupe, unlike streaming_minhash_screen's
    repeated-pair convention)."""
    _setup(spark)
    from openeo_processes_dask_spark.gates.training import (
        _multimodal_ingest_fixture,
    )
    from openeo_processes_dask_spark.training.dedup import (
        stream_ingest_screen_multimodal,
    )

    new, seen_fps, seen_sigs, members, cents, seen_hashes = (
        _multimodal_ingest_fixture(spark, sf_dir)
    )
    stream_dir, fresh = _fixture_dir("mm_ingest_stream", sf_dir)
    if fresh:
        new.where("doc_id % 2 = 0").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stream_dir)
        new.where("doc_id % 2 = 1").coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)
        _fixture_done(stream_dir)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema(
            "doc_id bigint, text string, embedding array<float>, "
            "psig bigint"
        )
        .parquet(stream_dir)
    )
    out = stream_ingest_screen_multimodal(
        stream, seen_fps, seen_sigs, members, cents, seen_hashes,
        n=3, num_hashes=64, bands=16, text_threshold=0.2,
        sem_threshold=0.35, max_hamming=3, hash_bands=8,
    )
    name = f"q_smmi_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


QUERIES = {
    "streaming_attribution": q_streaming_attribution,
    "streaming_anomaly": q_streaming_anomaly,
    "streaming_ema": q_streaming_ema,
    "streaming_fill_forward": q_streaming_fill_forward,
    "streaming_funnel": q_streaming_funnel,
    "streaming_count_min": q_streaming_count_min,
    "streaming_hll": q_streaming_hll,
    "streaming_quantile_sketch": q_streaming_quantile_sketch,
    "streaming_daily_sum": q_streaming_daily_sum,
    "streaming_dedup": q_streaming_dedup,
    "streaming_sliding_sum": q_streaming_sliding_sum,
    "streaming_sessions": q_streaming_sessions,
    "streaming_dedup_static": q_streaming_dedup_static,
    "streaming_asof": q_streaming_asof,
    "streaming_pii_redact": q_streaming_pii_redact,
    "streaming_cap": q_streaming_cap,
    "streaming_reservoir": q_streaming_reservoir,
    "streaming_sink": q_streaming_sink,
    "streaming_session_window": q_streaming_session_window,
    "streaming_upsert": q_streaming_upsert,
    "streaming_ranking_metrics": q_streaming_ranking_metrics,
    "streaming_semdedup_incremental": q_streaming_semdedup_incremental,
    "streaming_minhash_screen": q_streaming_minhash_screen,
    "streaming_contamination_screen": q_streaming_contamination_screen,
    "streaming_winnow_screen": q_streaming_winnow_screen,
    "streaming_ingest_screen_multimodal":
        q_streaming_ingest_screen_multimodal,
}

ORACLES = {
    # the stateless streaming screen's verdicts equal the batch
    # incremental lane row for row, so the oracle IS the batch replay
    "streaming_semdedup_incremental": lambda: __import__(
        "openeo_processes_dask_spark.gates.oracle_builders",
        fromlist=["x"],
    )._semdedup_incremental_oracle_sql(),
    # drained-distinct pair set == batch minhash_incremental (pinned)
    "streaming_minhash_screen": lambda: __import__(
        "openeo_processes_dask_spark.gates.oracle_builders",
        fromlist=["x"],
    )._minhash_incremental_oracle_sql(),
    # drained (id, shk) rows aggregated per id == batch decontaminate:
    # the oracle IS the decontaminate replay (same n=5 shingles, same
    # %53 train/bench split)
    "streaming_contamination_screen": lambda: __import__(
        "openeo_processes_dask_spark.gates.training", fromlist=["x"]
    ).ORACLES["decontaminate"],
    # drained-distinct (new_id, seen_id, fingerprint) rows aggregated
    # per pair == batch winnow_incremental: the oracle IS that replay
    "streaming_winnow_screen": lambda: __import__(
        "openeo_processes_dask_spark.gates.training", fromlist=["x"]
    ).ORACLES["winnow_incremental"],
    # row-preserving stateless screen: drained verdicts equal the
    # batch composed replay row for row (r13)
    "streaming_ingest_screen_multimodal": lambda: __import__(
        "openeo_processes_dask_spark.gates.oracle_builders",
        fromlist=["x"],
    )._ingest_screen_multimodal_oracle_sql(),
    # batch ranking_metrics replay (the gates/training.py oracle) plus
    # the constant n_seen progress column: every fixture query has
    # exactly 10 run rows, so the kept FINAL emissions read n_seen=10
    "streaming_ranking_metrics": lambda: (
        "SELECT t.*, CAST(10 AS BIGINT) AS n_seen FROM ("
        + __import__(
            "openeo_processes_dask_spark.gates.training",
            fromlist=["ORACLES"],
        ).ORACLES["ranking_metrics"]
        + ") t"
    ),
    "streaming_quantile_sketch": """
            WITH base AS (
              SELECT CAST(value AS DOUBLE) AS v,
                     CAST('0x' || substr(md5('qsk-' || event_id), 1, 15)
                          AS BIGINT) AS h
              FROM events WHERE value IS NOT NULL),
            lv AS (
              SELECT v, h,
                     CASE WHEN h <= 0 THEN 60
                          ELSE 60 - length(printf('%b', h)) END AS lvl
              FROM base)
            SELECT round(v, 6) AS v, h, CAST(lvl AS INT) AS lvl
            FROM lv WHERE lvl >= 3
        """,
    "streaming_hll": """
            WITH h AS (
              SELECT CAST('0x' || substr(md5('hll-' || CAST(user_id AS VARCHAR)),
                          1, 15) AS BIGINT) AS hv
              FROM events),
            br AS (
              SELECT CAST(hv % 1024 AS INT) AS bucket,
                     CAST(CASE WHEN hv // 1024 > 0
                          THEN 50 - floor(log2(CAST(hv // 1024 AS DOUBLE)))
                          ELSE 51 END AS INT) AS rho
              FROM h)
            SELECT bucket, max(rho) AS rho FROM br GROUP BY bucket
        """,
    "streaming_count_min": """
            SELECT r.r AS row,
                   CAST(CAST('0x' || substr(md5(r.r || '-' || event_type),
                             1, 15) AS BIGINT) % 64 AS INT) AS bucket,
                   count(*) AS cnt
            FROM events, (SELECT unnest([0, 1, 2, 3]) AS r) r
            GROUP BY 1, 2
        """,
    "streaming_funnel": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 ON s1.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t1
              GROUP BY 1),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 ON s2.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
              GROUP BY 1)
            SELECT s1.user_id,
                   1 + CAST(s2.t2 IS NOT NULL AS INT)
                     + CAST(s3.t3 IS NOT NULL AS INT) AS steps_completed
            FROM s1
            LEFT JOIN s2 ON s2.user_id = s1.user_id
            LEFT JOIN s3 ON s3.user_id = s1.user_id
        """,
    # streaming_ema: same recursive-CTE replay as the batch ema_smooth
    # gate — the single sorted-batch drain must reproduce it exactly.
    # streaming_fill_forward: the single sorted-batch drain must equal
    # the batch LOCF window — last_value IGNORE NULLS per user over
    # (ts, event_id), with `filled` marking exactly the patched gaps.
    "streaming_fill_forward": """
            WITH base AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN event_id % 5 = 2 THEN NULL
                          ELSE value END AS v
              FROM events),
            f AS (
              SELECT user_id, event_id, v,
                     last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS fv
              FROM base)
            SELECT user_id, event_id,
                   round(CAST(fv AS DOUBLE), 6) AS value,
                   (v IS NULL AND fv IS NOT NULL) AS filled
            FROM f
        """,
    "streaming_ema": """
            WITH RECURSIVE s AS (
              SELECT user_id, event_id,
                     CAST(round(value * 1000000) AS BIGINT) AS vm,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events),
            e AS (
              SELECT user_id, event_id, rn, vm AS ema FROM s WHERE rn = 1
              UNION ALL
              SELECT s.user_id, s.event_id, s.rn,
                     CAST((2 * s.vm + 8 * e.ema) // 10 AS BIGINT)
              FROM s JOIN e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
            SELECT user_id, event_id, ema AS ema_micro FROM e
        """,
    "streaming_anomaly": """
            SELECT event_id, band, value, round(z, 6) AS zscore
            FROM (
              SELECT event_id, event_type AS band, value,
                     CASE WHEN count(value) OVER w >= 2
                            AND stddev_samp(value) OVER w > 0
                          THEN (value - avg(value) OVER w)
                               / stddev_samp(value) OVER w
                     END AS z
              FROM events
              WINDOW w AS (PARTITION BY event_type
                           ORDER BY ts, event_id
                           ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
            WHERE abs(z) > 2.5
        """,
    "streaming_attribution": """
            WITH v AS (SELECT user_id, ts FROM events
                       WHERE event_type = 'view'),
                 c AS (SELECT user_id, ts, value FROM events
                       WHERE event_type = 'click')
            SELECT v.user_id AS user_id, count(*) AS n_pairs,
                   round(sum(c.value), 6) AS click_value
            FROM v JOIN c ON v.user_id = c.user_id
                 AND c.ts >= v.ts
                 AND c.ts <= v.ts + INTERVAL 30 MINUTE
            GROUP BY v.user_id
        """,
    "streaming_upsert": """
            WITH one AS (
              SELECT user_id, event_type AS band,
                     CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     max(value) AS v
              FROM events GROUP BY 1, 2, 3)
            SELECT band, count(*) AS n_keys,
                   round(sum(v), 6) AS value_sum, 2 AS version
            FROM one GROUP BY 1
        """,
    "streaming_session_window": """
            WITH ev AS (
              SELECT user_id, make_timestamp(epoch_us(ts)) AS t,
                     coalesce(value, 0) AS v
              FROM events),
            wm AS (SELECT max(t) - INTERVAL 1 HOUR AS w FROM ev),
            lagd AS (
              SELECT user_id, t, v,
                     CASE WHEN lag(t) OVER w IS NULL
                               OR epoch_us(t) - epoch_us(lag(t) OVER w)
                                  >= 86400000000
                          THEN 1 ELSE 0 END AS brk
              FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)),
            sess AS (
              SELECT user_id, t, v,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY t) AS sid
              FROM lagd),
            agg AS (
              SELECT user_id, min(t) AS session_start,
                     max(t) + INTERVAL 1 DAY AS session_end,
                     count(*) AS n_events, round(sum(v), 6) AS value_sum
              FROM sess GROUP BY user_id, sid)
            SELECT user_id, session_start, session_end, n_events, value_sum
            FROM agg, wm WHERE epoch_us(session_end) <= epoch_us(wm.w)
        """,
    "streaming_sink": """
            SELECT event_type AS band,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   count(*) AS n, round(sum(value), 6) AS value_sum
            FROM events WHERE value > 100
            GROUP BY 1, 2
        """,
    "streaming_cap": """
            SELECT user_id, event_id, rank FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rank
              FROM events)
            WHERE rank <= 5
        """,
    "streaming_reservoir": """
            WITH keyed AS (
              SELECT user_id, event_id,
                     ln(greatest(
                          CAST('0x' || substr(md5('42-' || CAST(event_id AS VARCHAR)),
                                              1, 15) AS BIGINT)
                            / 1152921504606846976.0,
                          1e-18))
                       / greatest(CAST(value AS DOUBLE), 1e-12) AS aes
              FROM events)
            SELECT user_id, event_id
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY aes DESC, event_id) AS rn
                  FROM keyed)
            WHERE rn <= 3
        """,
    "streaming_daily_sum": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS t,
                   event_type AS band, round(sum(value), 6) AS value
            FROM events GROUP BY ALL
        """,
    "streaming_dedup": """
            SELECT DISTINCT user_id, event_type AS band,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
            FROM events
        """,
    "streaming_dedup_static": """
            WITH seen AS (
              SELECT DISTINCT event_type AS band,
                     CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
              FROM events WHERE day(ts) % 3 = 0)
            SELECT DISTINCT e.user_id, e.event_type AS band,
                   CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day
            FROM events e
            ANTI JOIN seen s
              ON s.band = e.event_type
             AND s.day = CAST(date_trunc('day', e.ts) AS TIMESTAMP)
        """,
    "streaming_asof": """
            WITH clicks AS (
              SELECT user_id, ts AS t, value FROM events
              WHERE event_type = 'click'),
            views AS (
              SELECT user_id, ts AS t, max(value) AS value FROM events
              WHERE event_type = 'view' GROUP BY 1, 2)
            SELECT c.user_id, c.t, c.value,
                   v.t AS right_t, v.value AS right_value
            FROM clicks c ASOF JOIN views v
              ON c.user_id = v.user_id AND c.t >= v.t
        """,
    "streaming_pii_redact": """
            SELECT regexp_replace(regexp_replace(
                     'user' || user_id || '@mail.test reports ip 10.'
                       || (user_id % 256) || '.0.9 grp '
                       || (user_id % 10),
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '[EMAIL]', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                   '[IP]', 'g') AS redacted,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
    "streaming_sliding_sum": """
            WITH ev AS (
              SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                     event_type AS band, value
              FROM events)
            SELECT d - to_days(o) AS t, band, round(sum(value), 6) AS value
            FROM ev, (VALUES (0), (1), (2)) AS offs(o)
            GROUP BY ALL
        """,
    "streaming_sessions": """
            WITH ev AS (
              SELECT user_id, make_timestamp(epoch_us(ts)) AS t,
                     coalesce(value, 0) AS v
              FROM events),
            mx AS (SELECT user_id, max(t) AS mt FROM ev GROUP BY 1),
            lagd AS (
              SELECT user_id, t, v,
                     CASE WHEN lag(t) OVER w IS NULL
                               OR epoch_us(t) - epoch_us(lag(t) OVER w)
                                  > 86400000000
                          THEN 1 ELSE 0 END AS brk
              FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)),
            sess AS (
              SELECT user_id, t, v,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY t) AS sid
              FROM lagd),
            agg AS (
              SELECT user_id, min(t) AS session_start, max(t) AS session_end,
                     count(*) AS n_events, round(sum(v), 6) AS value_sum
              FROM sess GROUP BY user_id, sid)
            SELECT a.user_id, a.session_start, a.session_end, a.n_events,
                   a.value_sum
            FROM agg a JOIN mx USING (user_id)
            WHERE epoch_us(a.session_end) < epoch_us(mx.mt) - 86400000000
        """,
}
