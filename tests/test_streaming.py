"""Streaming tests (SURVEY.md §2D): file-source streams drained with
``availableNow`` must equal their batch formulation."""

from __future__ import annotations

import glob

import pytest

from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.catalog import table
from smart_city_data_pipeline_spark.streaming.lake_sink import stream_to_lake
from smart_city_data_pipeline_spark.streaming.stateful import (
    batch_equivalent_streaks,
    congestion_streaks,
)
from smart_city_data_pipeline_spark.streaming.windowed import (
    batch_equivalent_zone_counts,
    windowed_zone_counts,
)

# Jobs one rollup merge into an existing lake may run: two Spark
# actions before the write and the write itself, which AQE splits into
# a job per stage.
MERGE_JOBS_MAX = 7


def _events_stream(spark, sf_dir, tmp_path):
    """Materialize events as a parquet dir and open it as a file stream."""
    ev = table(spark, sf_dir, "events")
    src = str(tmp_path / "stream_src")
    ev.write.mode("overwrite").parquet(src)
    return ev, spark.readStream.schema(ev.schema).parquet(src)


def _drain(stream_df, tmp_path, name):
    out = str(tmp_path / f"{name}_out")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in time"
    return out


def _norm_windows(df):
    return sorted(
        (str(r["bucket"]), r["zone"], r["n_events"], round(r["avg_value"], 6))
        for r in df.collect()
    )


def test_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    """Complete-mode drain == batch formulation, window for window."""
    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    q = (
        windowed_zone_counts(stream)
        .writeStream.format("memory")
        .queryName("win_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in time"
    got = spark.table("win_complete")
    want = batch_equivalent_zone_counts(ev)
    assert _norm_windows(got) == _norm_windows(want)


def test_windowed_append_respects_watermark(spark, sf_dir, tmp_path):
    """Append mode over a multi-batch drain emits only watermark-closed
    windows, with values identical to the batch formulation."""
    ev = table(spark, sf_dir, "events")
    src = str(tmp_path / "wm_src")
    # Time-ordered files so the watermark advances batch over batch.
    ev.orderBy("ts").coalesce(8).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _drain(windowed_zone_counts(stream), tmp_path, "wm")
    got = spark.read.parquet(out)
    want = {t[:2]: t for t in _norm_windows(batch_equivalent_zone_counts(ev))}
    emitted = _norm_windows(got)
    assert len(emitted) > 0  # watermark advanced → earlier windows closed
    assert len(emitted) < len(want)  # trailing windows stay open
    for t in emitted:  # every emitted window is final and exact
        assert want[t[:2]] == t


def test_stateful_streaks_match_batch(spark, sf_dir, tmp_path):
    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    got = congestion_streaks(stream)
    q = (
        got.writeStream.format("memory")
        .queryName("streaks")
        .option("checkpointLocation", str(tmp_path / "streak_ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain in time"
    # update mode: keep the final row per sensor.
    final = (
        spark.table("streaks")
        .groupBy("user_id")
        .agg(F.max(F.struct("last_ts", "streak", "streak_start")).alias("s"))
        .select("user_id", "s.streak", "s.streak_start", "s.last_ts")
    )
    want = batch_equivalent_streaks(ev)
    norm = lambda df: sorted(
        (r["user_id"], r["streak"], str(r["streak_start"]), str(r["last_ts"]))
        for r in df.collect()
    )
    assert norm(final) == norm(want)


def test_ewma_stream_matches_pandas(spark, sf_dir, tmp_path):
    from smart_city_data_pipeline_spark.streaming.stateful import ewma_stream

    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    q = (
        ewma_stream(stream, alpha=0.2)
        .writeStream.format("memory")
        .queryName("ewma")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain in time"
    final = (
        spark.table("ewma")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_seen", "ewma", "last_ts")).alias("s"))
        .select("user_id", "s.ewma", "s.n_seen")
    )
    got = {r["user_id"]: r for r in final.collect()}
    # pandas oracle
    pdf = ev.select("user_id", "ts", "event_id", "value").toPandas()
    for user_id, grp in pdf.sort_values(["ts"]).groupby("user_id"):
        ewma = None
        for v in grp["value"]:
            ewma = float(v) if ewma is None else 0.2 * float(v) + 0.8 * ewma
        g = got[user_id]
        assert g["n_seen"] == len(grp)
        assert abs(g["ewma"] - ewma) < 1e-9, user_id

    # Batch twin (ordered-fold queries() entry): identical recursion,
    # identical constants → bit-exact against the same stream output
    # (modulo the entry's output-contract pround).
    from smart_city_data_pipeline_spark.operators.timeseries import ewma_batch

    batch = {r["sensor_id"]: r for r in ewma_batch(spark, sf_dir).collect()}
    assert set(batch) == set(got)
    for user_id, g in got.items():
        b = batch[user_id]
        assert b["n_seen"] == g["n_seen"]
        assert abs(b["ewma"] - g["ewma"]) < 5.1e-5, user_id  # pround(4) grid


def test_streaming_dedup_drops_redeliveries(spark, sf_dir, tmp_path):
    """An at-least-once source (every event delivered twice) comes out
    exactly-once after dropDuplicatesWithinWatermark."""
    from smart_city_data_pipeline_spark.streaming.dedup import dedup_stream

    ev = table(spark, sf_dir, "events")
    src = str(tmp_path / "dup_src")
    ev.unionAll(ev).write.mode("overwrite").parquet(src)  # redelivery
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = _drain(dedup_stream(stream), tmp_path, "dedup")
    got = spark.read.parquet(out)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    from smart_city_data_pipeline_spark.streaming.joins import (
        batch_equivalent_correlate,
        correlate_streams,
    )

    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    lv = stream.filter(F.col("event_type") == "view")
    rv = stream.filter(F.col("event_type") == "error")
    out = _drain(correlate_streams(lv, rv), tmp_path, "ssjoin")
    got = spark.read.parquet(out)
    want = batch_equivalent_correlate(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "error"),
    )
    norm = lambda df: sorted(map(tuple, df.select(sorted(df.columns)).collect()))
    assert norm(got) == norm(want)
    assert got.count() > 0  # non-vacuous


def test_foreachbatch_warehouse_sink(spark, sf_dir, tmp_path):
    from smart_city_data_pipeline_spark.streaming.warehouse_sink import stream_to_warehouse

    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    out = str(tmp_path / "wh")
    seen_batches = []

    def writer(df, batch_id):
        seen_batches.append(batch_id)
        df.write.mode("append").parquet(out)

    q = stream_to_warehouse(
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        writer,
        str(tmp_path / "wh_ckpt"),
    )
    assert q.awaitTermination(120), "stream did not drain in time"
    assert seen_batches  # the batch writer actually ran with batch ids
    got = {r["event_type"]: r["n"] for r in spark.read.parquet(out).collect()}
    want = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_stream_to_partitioned_lake(spark, sf_dir, tmp_path):
    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    out = str(tmp_path / "lake")
    q = stream_to_lake(stream, out, str(tmp_path / "lake_ckpt"))
    assert q.awaitTermination(120), "stream did not drain in time"
    assert glob.glob(f"{out}/year=*/month=*/day=*/hour=*/*.parquet")
    assert spark.read.parquet(out).count() == ev.count()


def test_continuous_minute_rollup_incremental(spark, sf_dir, tmp_path):
    """Multi-batch incremental maintenance must equal the one-shot batch
    rollup exactly (decimal-exact partial-merge), and replaying an
    already-applied batch id must be a no-op."""
    from smart_city_data_pipeline_spark.streaming.cont_agg import (
        _minute_partials,
        continuous_minute_rollup,
        read_minute_rollup,
        refresh_minute_rollup,
    )

    ev = table(spark, sf_dir, "events")
    src = str(tmp_path / "ca_src")
    ev.repartition(6).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)  # force multiple micro-batches
        .parquet(src)
    )
    lake = str(tmp_path / "rollup")
    q = continuous_minute_rollup(stream, lake, str(tmp_path / "ca_ckpt"))
    assert q.awaitTermination(120), "stream did not drain in time"

    got = {
        (r["zone"], r["minute"]): (r["total_value"], r["n_events"], r["peak_value"])
        for r in spark.read.parquet(lake).collect()
    }
    want = {
        (r["zone"], r["minute"]): (r["total_value"], r["n_events"], r["peak_value"])
        for r in _minute_partials(ev).collect()
    }
    assert got == want

    # derived avg view
    row = read_minute_rollup(spark, lake).filter(F.col("n_events") > 0).first()
    assert abs(row["avg_value"] - float(row["total_value"]) / row["n_events"]) < 1e-9

    # crash-replay idempotency: re-applying batch 0 changes nothing
    before = sorted(map(tuple, spark.read.parquet(lake).collect()))
    refresh_minute_rollup(spark, lake, ev, 0)
    assert sorted(map(tuple, spark.read.parquet(lake).collect())) == before

    # The hash-gated queries() entry (minute_rollup_batch) must equal
    # the streaming-maintained lake's derived view row-for-row — this
    # closes stream ≡ batch twin ≡ oracle (the oracle leg is the
    # driver's DuckDB hash check on the same entry).
    from smart_city_data_pipeline_spark.functions.rounding import pround
    from smart_city_data_pipeline_spark.streaming.cont_agg import minute_rollup_batch

    via_lake = read_minute_rollup(spark, lake).select(
        "zone",
        "minute",
        F.col("total_value").cast("double").alias("total_value"),
        "n_events",
        pround(F.col("peak_value")).alias("peak_value"),
        pround(F.col("avg_value")).alias("avg_value"),
    )
    assert sorted(map(tuple, via_lake.collect())) == sorted(
        map(tuple, minute_rollup_batch(spark, sf_dir).collect())
    )


def test_minute_rollup_replay_after_partial_crash(spark, sf_dir, tmp_path, monkeypatch):
    """A batch whose partials span two day partitions crashes after its
    first partition swap. The replay merges the other partition only
    (per-partition high-water mark), so the lake equals the one-shot
    partials; a second replay is a no-op; the user-facing view never
    shows the internal ``day`` column."""
    from smart_city_data_pipeline_spark.sources import maintenance
    from smart_city_data_pipeline_spark.streaming.cont_agg import (
        _minute_partials,
        read_minute_rollup,
        refresh_minute_rollup,
    )

    ev = table(spark, sf_dir, "events").filter(F.dayofmonth("ts") <= 2)
    lake = str(tmp_path / "rollup")
    refresh_minute_rollup(spark, lake, ev.filter(F.col("event_id") % 2 == 0), 0)
    batch = ev.filter(F.col("event_id") % 2 == 1)

    real_swap, swapped = maintenance._commit_swap, []

    def crash_after_first_swap(spark_, path_, tmp_):
        if swapped:
            raise RuntimeError("simulated crash between partition swaps")
        real_swap(spark_, path_, tmp_)
        swapped.append(path_)

    monkeypatch.setattr(maintenance, "_commit_swap", crash_after_first_swap)
    with pytest.raises(RuntimeError, match="simulated crash"):
        refresh_minute_rollup(spark, lake, batch, 1)
    monkeypatch.undo()
    assert len(swapped) == 1

    cols = ["zone", "minute", "total_value", "n_events", "peak_value"]
    want = sorted(map(tuple, _minute_partials(ev).collect()))
    for _ in range(2):  # the replay, then a replay of the replay
        refresh_minute_rollup(spark, lake, batch, 1)
        assert sorted(map(tuple, spark.read.parquet(lake).select(*cols).collect())) == want
    assert "day" not in read_minute_rollup(spark, lake).columns


def test_rollup_merge_jobs(spark, sf_dir, tmp_path, count_jobs):
    """One merge into an existing lake runs at most MERGE_JOBS_MAX
    jobs: the touched-partition probe, the high-water check and the
    write."""
    from smart_city_data_pipeline_spark.streaming.cont_agg import refresh_minute_rollup

    ev = table(spark, sf_dir, "events")
    lake = str(tmp_path / "rollup")
    refresh_minute_rollup(spark, lake, ev.filter(F.col("event_id") % 2 == 0), 0)
    batch = ev.filter(F.col("event_id") % 2 == 1)  # the same day partitions
    jobs = count_jobs(lambda: refresh_minute_rollup(spark, lake, batch, 1))
    assert 0 < jobs <= MERGE_JOBS_MAX


def test_rollup_null_day_partition_replay(spark, sf_dir, tmp_path):
    """Events with NULL ``ts`` land in ``day=__HIVE_DEFAULT_PARTITION__``.
    A second batch merges into that partition (its NULL partition value
    must count as touched, or the swap would drop batch 0's NULL rows),
    and replaying it adds nothing."""
    import os

    from smart_city_data_pipeline_spark.streaming.cont_agg import (
        _minute_partials,
        refresh_minute_rollup,
    )

    ev = table(spark, sf_dir, "events").withColumn(
        "ts", F.when(F.col("event_id") % 5 != 0, F.col("ts"))
    )
    lake = str(tmp_path / "rollup")
    refresh_minute_rollup(spark, lake, ev.filter(F.col("event_id") % 2 == 0), 0)
    assert "day=__HIVE_DEFAULT_PARTITION__" in os.listdir(lake)
    cols = ["zone", "minute", "total_value", "n_events", "peak_value"]
    want = sorted(map(tuple, _minute_partials(ev).collect()), key=str)
    batch = ev.filter(F.col("event_id") % 2 == 1)
    for _ in range(2):  # the merge, then its replay
        refresh_minute_rollup(spark, lake, batch, 1)
        got = spark.read.parquet(lake).select(*cols).collect()
        assert sorted(map(tuple, got), key=str) == want


def test_live_stream_idle_poll_delay(spark, tmp_path):
    """A live (not availableNow) query on a ``get_spark`` session waits
    at least 100 ms between polls of an idle source."""
    from smart_city_data_pipeline_spark.streaming.warehouse_sink import stream_to_warehouse

    src = str(tmp_path / "src")
    spark.range(1).write.parquet(src)
    q = stream_to_warehouse(
        spark.readStream.schema("id long").parquet(src),
        lambda df, bid: None,
        str(tmp_path / "ckpt"),
        available_now=False,
    )
    try:
        conf = q._jsq.streamingQuery().sparkSessionForStream().sessionState().conf()
        assert conf.streamingPollingDelay() >= 100
    finally:
        q.stop()


def test_session_windows_match_batch(spark, sf_dir, tmp_path):
    """Complete-mode drain of session_window == the batch formulation,
    session for session (engine-merged gap windows)."""
    from smart_city_data_pipeline_spark.streaming.sessions import (
        batch_equivalent_sessions,
        session_stats,
    )

    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    q = (
        session_stats(stream)
        .writeStream.format("memory")
        .queryName("sess_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in time"

    def norm(df):
        return sorted(
            (r["user_id"], str(r["session_start"]), str(r["session_end"]),
             r["n_events"], round(r["total_value"], 6))
            for r in df.collect()
        )

    got = norm(spark.table("sess_complete"))
    want = norm(batch_equivalent_sessions(ev))
    assert len(got) > 0
    assert got == want


def test_stateful_anomaly_matches_batch(spark, sf_dir, tmp_path):
    """Running-stats z-score anomalies from keyed streaming state must
    equal the expanding-window batch twin event-for-event."""
    from smart_city_data_pipeline_spark.streaming.anomaly import (
        anomaly_stream,
        batch_equivalent_anomalies,
    )

    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    q = (
        anomaly_stream(stream)
        .writeStream.format("memory")
        .queryName("anomalies")
        .option("checkpointLocation", str(tmp_path / "anom_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain in time"
    got = {
        (r["user_id"], r["event_id"]): round(r["zscore"], 6)
        for r in spark.table("anomalies").collect()
    }
    want = {
        (r["user_id"], r["event_id"]): round(r["zscore"], 6)
        for r in batch_equivalent_anomalies(ev).collect()
    }
    assert len(want) > 0, "twin found no anomalies — test corpus unfit"
    assert got == want


def test_continuous_top_sensors_incremental(spark, sf_dir, tmp_path):
    """Incrementally-maintained (zone, sensor) totals derive the exact
    batch top-k: top-k is not a monoid, the totals are — so the stream
    keeps totals and ranks on read. Replay must be a no-op."""
    from smart_city_data_pipeline_spark.operators.timeseries import (
        top_sensors_per_zone,
    )
    from smart_city_data_pipeline_spark.streaming.topk import (
        continuous_top_sensors,
        read_top_sensors,
        refresh_sensor_totals,
    )

    ev = table(spark, sf_dir, "events")
    src = str(tmp_path / "tk_src")
    ev.repartition(6).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)  # force multiple micro-batches
        .parquet(src)
    )
    lake = str(tmp_path / "sensor_totals")
    q = continuous_top_sensors(stream, lake, str(tmp_path / "tk_ckpt"))
    assert q.awaitTermination(120), "stream did not drain in time"

    norm = lambda df: sorted(
        (r["zone"], r["rank"], r["sensor_id"], r["total_value"])
        for r in df.collect()
    )
    got = norm(read_top_sensors(spark, lake, k=3))
    want = norm(top_sensors_per_zone(spark, sf_dir))
    assert got == want and len(got) > 0

    # crash-replay idempotency: re-applying batch 0 changes nothing
    before = sorted(map(tuple, spark.read.parquet(lake).collect()))
    refresh_sensor_totals(spark, lake, ev, 0)
    assert sorted(map(tuple, spark.read.parquet(lake).collect())) == before


def test_top_sensors_empty_zone_ranks_once(spark, tmp_path):
    """An empty-string zone is stored in the default partition and
    reads back as NULL; two batches of it must merge into one row per
    sensor, not one row per batch."""
    from smart_city_data_pipeline_spark.streaming.topk import (
        read_top_sensors,
        refresh_sensor_totals,
    )

    lake = str(tmp_path / "sensor_totals")
    schema = "user_id long, event_type string, value double"
    for bid, value in enumerate((1.0, 4.0)):
        batch = spark.createDataFrame([(7, "", value)], schema)
        refresh_sensor_totals(spark, lake, batch, bid)
    got = [tuple(r) for r in read_top_sensors(spark, lake).collect()]
    assert got == [(None, 1, 7, 5.0)]


def test_stream_static_enrichment_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static dim join: stateless (no watermark, no join state),
    static side broadcast per micro-batch; left join keeps dim misses."""
    from smart_city_data_pipeline_spark.streaming.enrich import (
        batch_equivalent_enrich,
        enrich_stream,
    )

    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    # Sensor registration dim: half the sensors registered, so the
    # left-join's miss path is exercised (nulls for unregistered).
    dim = (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)
        .select(
            "user_id",
            F.concat(F.lit("zone_"), F.pmod("user_id", F.lit(5))).alias("zone"),
        )
    )
    out = str(tmp_path / "enrich_out")
    q = (
        enrich_stream(stream, dim)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in time"
    # Stateless by construction: no state-store operators in progress.
    progresses = [p for p in q.recentProgress if p is not None]
    assert progresses and all(not p["stateOperators"] for p in progresses)
    got = spark.read.parquet(out)
    want = batch_equivalent_enrich(ev, dim)
    norm = lambda df: sorted(  # noqa: E731
        map(tuple, df.select(sorted(df.columns)).collect())
    )
    assert norm(got) == norm(want)
    hits = got.filter(F.col("zone").isNotNull()).count()
    assert 0 < hits < got.count()  # both the hit and miss paths ran


def test_dynamic_gap_sessions_match_batch(spark, sf_dir, tmp_path):
    """Expression-valued (per-row) session gaps: the streaming drain
    must equal the batch twin session-for-session, and the per-type
    gaps must actually differ (an error session tolerates a 40-min
    idle that closes a purchase session)."""
    from smart_city_data_pipeline_spark.streaming.sessions import (
        batch_equivalent_sessions_dynamic,
        session_stats_dynamic,
    )

    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    q = (
        session_stats_dynamic(stream)
        .writeStream.format("memory")
        .queryName("sess_dynamic")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in time"

    def norm(df):
        return sorted(
            (r["user_id"], r["event_type"], str(r["session_start"]),
             str(r["session_end"]), r["n_events"])
            for r in df.collect()
        )

    got = norm(spark.table("sess_dynamic"))
    want = norm(batch_equivalent_sessions_dynamic(ev))
    assert len(got) > 0
    assert got == want


def test_dynamic_gap_differs_by_type(spark):
    """Two identical event sequences, 20 min apart: one session under
    the 45-min 'error' gap, two sessions under the 10-min 'purchase'
    gap — the per-row expression is load-bearing, not decorative."""
    from datetime import datetime

    from smart_city_data_pipeline_spark.streaming.sessions import (
        batch_equivalent_sessions_dynamic,
    )

    rows = []
    for etype in ("error", "purchase"):
        rows += [
            (1, datetime(2025, 6, 1, 0, 0), etype, 1.0),
            (1, datetime(2025, 6, 1, 0, 20), etype, 1.0),
        ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    )
    got = batch_equivalent_sessions_dynamic(df).collect()
    by_type = {}
    for r in got:
        by_type.setdefault(r["event_type"], []).append(r)
    assert len(by_type["error"]) == 1  # 20-min idle < 45-min gap
    assert len(by_type["purchase"]) == 2  # 20-min idle > 10-min gap
