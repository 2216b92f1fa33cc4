"""Tests for the stateful sessionization operator and the multimodal
frame-sample plumbing.

The batch sessionizer's values are pinned by the DuckDB oracle
(test_oracle_equivalence: user_sessions); here we pin the HARD part —
that the applyInPandasWithState streaming implementation emits exactly
the batch result, including open sessions carried across micro-batch
boundaries in GroupState.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.multimodal.media import (
    frame_sample,
    media_from_documents,
)
from sentinel_landsat_database_creation_spark.sources.testdata import table
from sentinel_landsat_database_creation_spark.streaming.sessions import (
    sessionize_batch,
    sessionize_stateful,
)

SF = "/root/testdata/sf0.001"


def test_stateful_sessions_match_batch_across_microbatches(spark, tmp_path):
    """Two time-split micro-batches (maxFilesPerTrigger=1) force open
    sessions to survive in GroupState across the batch boundary; a
    far-future sentinel per user in the last batch closes every real
    session, so emitted == batch exactly."""
    events = (
        table(spark, SF, "events")
        .filter(F.col("user_id") < 5)
        .select("user_id", "ts", "event_id", "value")
    )
    split_ts = events.selectExpr(
        "percentile_approx(ts, 0.5) AS m"
    ).first()["m"]
    flush_ts = dt.datetime(2030, 1, 1)
    sentinels = events.select("user_id").distinct().select(
        "user_id",
        F.lit(flush_ts).alias("ts"),
        F.lit(10_000_000).alias("event_id").cast("long"),
        F.lit(0.0).alias("value"),
    )
    stream_dir = str(tmp_path / "stream")
    events.filter(F.col("ts") <= F.lit(split_ts)).coalesce(1).write.parquet(
        f"{stream_dir}/b=0"
    )
    events.filter(F.col("ts") > F.lit(split_ts)).unionByName(
        sentinels
    ).coalesce(1).write.parquet(f"{stream_dir}/b=1")

    schema = spark.read.parquet(f"{stream_dir}/b=0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stream_dir)
    )
    out = sessionize_stateful(stream, gap_minutes=30)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in spark.table("sessions_test").collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in sessionize_batch(events, gap_minutes=30).collect()
    }
    assert want, "fixture slice must produce sessions"
    assert got == want


def test_batch_sessions_respect_gap(spark):
    events = table(spark, SF, "events")
    s = sessionize_batch(events, gap_minutes=30)
    bad = s.filter(
        (F.unix_micros("session_end") - F.unix_micros("session_start"))
        < (F.col("n_events") - 1) * 0  # sanity: end >= start
    )
    row = s.agg(
        F.sum("n_events").alias("total"),
        F.min(F.col("session_end") >= F.col("session_start")).alias("mono"),
    ).first()
    assert row["total"] == events.count()
    assert row["mono"] is True


def test_frame_sample_offsets(spark):
    media = media_from_documents(table(spark, SF, "documents").limit(25))
    frames = frame_sample(media, n_frames=4, frame_bytes=16)
    per_doc = (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("frame_idx").alias("max_idx"),
            F.min("frame_offset").alias("min_off"),
        )
        .collect()
    )
    assert per_doc
    for r in per_doc:
        assert 1 <= r["n"] <= 4
        assert r["max_idx"] == r["n"] - 1
        assert r["min_off"] == 0


def test_native_session_window_matches_batch_sealed_sessions(spark, tmp_path):
    """sessionize_native (built-in session_window, JVM-only) must emit
    exactly the batch twin's sessions that the final watermark sealed:
    session_end + gap <= max event time. The max-ts holder's trailing
    session stays in state — same visible-output contract as the
    stateful operator, gated by event time instead of arrival order."""
    from sentinel_landsat_database_creation_spark.streaming.sessions import (
        sessionize_native,
    )

    events = (
        table(spark, SF, "events")
        .filter(F.col("user_id") < 8)
        .select("user_id", "ts", "event_id", "value")
    )
    stream_dir = str(tmp_path / "stream_native")
    events.coalesce(1).write.parquet(stream_dir)
    schema = spark.read.parquet(stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)

    out = sessionize_native(stream, gap_minutes=30)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("native_sessions_test")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in spark.table("native_sessions_test").collect()
    }

    max_ts = events.agg(F.max("ts")).first()[0]
    sealed = sessionize_batch(events, gap_minutes=30).filter(
        F.col("session_end") + F.expr("INTERVAL 30 MINUTES") <= F.lit(max_ts)
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in sealed.collect()
    }
    assert want, "fixture slice must produce sealed sessions"
    assert got == want


def test_stream_stream_join_matches_batch_across_microbatches(spark, tmp_path):
    """A click in micro-batch 0 must still match a signup arriving in
    micro-batch 1: the interval-join state survives the batch boundary
    (watermark far wider than the data span, so nothing is evicted)."""
    import datetime as dt2

    from sentinel_landsat_database_creation_spark.streaming.joins import (
        click_signup_join_stream,
    )

    base = dt2.datetime(2001, 1, 1)
    clicks = [
        (i, base + dt2.timedelta(hours=i), 100 + i % 3, "click")
        for i in range(6)
    ]
    signups = [
        (100 + j, base + dt2.timedelta(hours=j, minutes=30), 100 + j % 3,
         "signup")
        for j in range(6)
    ]
    schema_str = "event_id long, ts timestamp, user_id long, event_type string"
    d = str(tmp_path / "ssj")
    spark.createDataFrame(clicks, schema_str).coalesce(1).write.parquet(
        f"{d}/b=0"
    )
    spark.createDataFrame(signups, schema_str).coalesce(1).write.parquet(
        f"{d}/b=1"
    )
    schema = spark.read.parquet(f"{d}/b=0").schema

    def side(event_type):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        return s.filter(F.col("event_type") == event_type)

    out = click_signup_join_stream(side("click"), side("signup"), horizon_hours=6)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_test")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["click_id"], r["signup_id"], r["lag_us"])
        for r in spark.table("ssj_test").collect()
    }
    # expected: same user (i % 3 == j % 3), 0 <= lag <= 6h
    want = set()
    for i in range(6):
        for j in range(6):
            lag_us = ((j - i) * 3600 + 1800) * 1_000_000
            if i % 3 == j % 3 and 0 <= lag_us <= 6 * 3600 * 1_000_000:
                want.add((i, 100 + j, lag_us))
    assert want, "fixture must produce matches"
    assert got == want


def test_drains_pin_no_data_batch_explicitly(spark):
    """The r13-opt _no_data_batch discipline: every availableNow drain
    FORCES its own noDataMicroBatches value instead of inheriting the
    session's. Load-bearing direction: stream_sessions_native needs the
    trailing no-data batch to emit its append-mode session windows —
    with the session conf deliberately left 'false' (as a sibling drain
    would have set mid-run before its finally), the entry must still
    emit rows, and must restore the caller's conf afterwards. The
    cheap drains' 'false' pin is covered by the oracle replica (their
    rows are hash-checked every pytest run); this pins the one drain
    whose correctness DEPENDS on overriding the inherited conf."""
    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        REGISTRY,
    )

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = REGISTRY["stream_sessions_native"][0](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(rows) > 0, (
            "native session drain emitted nothing — the explicit "
            "_no_data_batch(spark, True) pin was lost"
        )
        assert spark.conf.get(key) == "false", (
            "drain did not restore the caller's conf"
        )
    finally:
        spark.conf.set(key, old)
