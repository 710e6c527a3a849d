"""Lake maintenance tests: latest-wins upsert round-trips, compaction
reduces file counts without changing data, remote-fs safety (no
driver-local existence probes), and crash durability (old lake intact
if the swap never happens)."""

from __future__ import annotations

import glob
import os.path

import pytest

from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.catalog import table
from smart_city_data_pipeline_spark.sources import maintenance
from smart_city_data_pipeline_spark.sources.maintenance import compact_lake, upsert_latest


def test_upsert_latest_keeps_newest(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    path = str(tmp_path / "metrics")
    old = ev.filter(F.dayofmonth("ts") <= 15)
    new = ev.filter(F.dayofmonth("ts") > 15)

    upsert_latest(spark, path, old, ["user_id"])
    first = {r["user_id"]: r["ts"] for r in spark.read.parquet(path).collect()}
    upsert_latest(spark, path, new, ["user_id"])
    got = {r["user_id"]: r["ts"] for r in spark.read.parquet(path).collect()}

    want = {
        r["user_id"]: r["mts"]
        for r in ev.groupBy("user_id").agg(F.max("ts").alias("mts")).collect()
    }
    assert got == want
    assert len(first) <= len(got)
    # One row per key (upsert, not append).
    assert spark.read.parquet(path).count() == len(want)


def test_compact_lake_reduces_files(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    path = str(tmp_path / "lake")
    # Simulate a small-file mess: 8 files per day partition.
    (
        ev.withColumn("day", F.dayofmonth("ts"))
        .repartition(8)
        .write.partitionBy("day")
        .parquet(path)
    )
    before = len(glob.glob(f"{path}/day=*/*.parquet"))
    rows_before = sorted(map(tuple, spark.read.parquet(path).drop("day").collect()))

    compact_lake(spark, path, ["day"])

    after_files = glob.glob(f"{path}/day=*/*.parquet")
    per_dir: dict[str, int] = {}
    for f in after_files:
        d = f.rsplit("/", 1)[0]
        per_dir[d] = per_dir.get(d, 0) + 1
    assert max(per_dir.values()) == 1  # one file per partition dir
    assert len(after_files) < before
    rows_after = sorted(map(tuple, spark.read.parquet(path).drop("day").collect()))
    assert rows_after == rows_before


def test_upsert_never_uses_driver_local_probe(spark, sf_dir, tmp_path, monkeypatch):
    """On HDFS/S3 ``os.path.exists`` answers False for every path; if the
    upsert consulted it, the merge would silently become `updates`-only
    and overwrite the lake. Force that failure mode and prove the
    existing rows still survive."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    path = str(tmp_path / "metrics")
    old = ev.filter(F.dayofmonth("ts") <= 15)
    new = ev.filter(F.dayofmonth("ts") > 15)
    upsert_latest(spark, path, old, ["user_id"])
    keys_before = {r["user_id"] for r in spark.read.parquet(path).collect()}

    monkeypatch.setattr(os.path, "exists", lambda p: False)
    upsert_latest(spark, path, new, ["user_id"])
    got = {r["user_id"] for r in spark.read.parquet(path).collect()}
    # every pre-existing key survives the merge (latest-wins, not replace)
    assert keys_before <= got


def test_upsert_crash_before_swap_leaves_lake_intact(spark, sf_dir, tmp_path, monkeypatch):
    """The merge is fully written to a temp sibling before the swap; a
    crash before the swap must leave the old lake byte-identical."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    path = str(tmp_path / "metrics")
    upsert_latest(spark, path, ev.filter(F.dayofmonth("ts") <= 15), ["user_id"])
    rows_before = sorted(map(tuple, spark.read.parquet(path).collect()))

    def boom(spark_, path_, tmp_):
        raise RuntimeError("simulated crash before swap")

    monkeypatch.setattr(maintenance, "_commit_swap", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert_latest(spark, path, ev.filter(F.dayofmonth("ts") > 15), ["user_id"])
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == rows_before

    # and the next (healthy) run recovers: stale temp dir is cleaned up
    monkeypatch.undo()
    upsert_latest(spark, path, ev.filter(F.dayofmonth("ts") > 15), ["user_id"])
    want = {
        r["user_id"]: r["mts"]
        for r in ev.groupBy("user_id").agg(F.max("ts").alias("mts")).collect()
    }
    got = {r["user_id"]: r["ts"] for r in spark.read.parquet(path).collect()}
    assert got == want


def test_compact_crash_before_swap_leaves_lake_intact(spark, sf_dir, tmp_path, monkeypatch):
    ev = table(spark, sf_dir, "events")
    path = str(tmp_path / "lake")
    ev.withColumn("day", F.dayofmonth("ts")).repartition(4).write.partitionBy(
        "day"
    ).parquet(path)
    rows_before = sorted(map(tuple, spark.read.parquet(path).drop("day").collect()))

    def boom(spark_, path_, tmp_):
        raise RuntimeError("simulated crash before swap")

    monkeypatch.setattr(maintenance, "_commit_swap", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_lake(spark, path, ["day"])
    assert (
        sorted(map(tuple, spark.read.parquet(path).drop("day").collect()))
        == rows_before
    )


def test_forget_subject_erases_and_audits(spark, sf_dir, tmp_path):
    """GDPR erasure: the subject's rows are gone, everyone else's rows
    survive byte-identically, and the audit accounts for exactly the
    erased rows per partition."""
    from smart_city_data_pipeline_spark.catalog import table
    from smart_city_data_pipeline_spark.sources.maintenance import (
        forget_subject,
    )
    from pyspark.sql import functions as F

    lake = str(tmp_path / "lake")
    ev = table(spark, sf_dir, "events").withColumn(
        "zone", F.col("event_type")
    )
    ev.write.partitionBy("zone").parquet(lake)
    subject = ev.select("user_id").first()[0]
    before_subject = ev.filter(F.col("user_id") == subject).count()
    before_total = ev.count()
    assert before_subject > 0

    audit = forget_subject(
        spark, lake, "user_id", [subject], ["zone"]
    ).collect()
    back = spark.read.option("basePath", lake).parquet(lake)
    assert back.filter(F.col("user_id") == subject).count() == 0
    assert back.count() == before_total - before_subject
    assert sum(r["rows_erased"] for r in audit) == before_subject
    for r in audit:
        assert r["rows_after"] == r["rows_before"] - r["rows_erased"]


def test_forget_subject_crash_leaves_lake_intact(spark, sf_dir, tmp_path, monkeypatch):
    """Fault injection: a crash between the temp write and the swap
    must leave the original lake fully readable (standard temp-sibling
    discipline)."""
    from smart_city_data_pipeline_spark.catalog import table
    from smart_city_data_pipeline_spark.sources import maintenance

    lake = str(tmp_path / "lake2")
    ev = table(spark, sf_dir, "events")
    ev.limit(200).write.parquet(lake)
    n0 = spark.read.parquet(lake).count()

    def boom(*a, **k):
        raise RuntimeError("crash before swap")

    monkeypatch.setattr(maintenance, "_commit_swap", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        maintenance.forget_subject(spark, lake, "user_id", [1], None)
    assert spark.read.parquet(lake).count() == n0


@pytest.mark.parametrize("crashed", ["compact_lake", "refresh", "refresh_then_compact"])
def test_rollup_refresh_rolls_forward_crashed_swap(
    spark, sf_dir, tmp_path, monkeypatch, crashed
):
    """A crash between the aside-rename and the rename-into-place leaves
    the only copy of the history in a hidden parked directory: of the
    whole rollup lake (a crashed compaction) or of one day partition (a
    crashed refresh). The next refresh or compaction must roll it
    forward before it reads; taking the directory for a new one, or
    rewriting the lake without it, would drop its history."""
    from smart_city_data_pipeline_spark.streaming.cont_agg import (
        _minute_partials,
        refresh_minute_rollup,
    )

    ev = table(spark, sf_dir, "events").filter(F.dayofmonth("ts") <= 2)
    hist, new = ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)
    lake = str(tmp_path / "rollup")
    refresh_minute_rollup(spark, lake, hist, 0)

    def crash_in_window(spark_, path_, tmp_):
        fs, dest = maintenance._hadoop_fs(spark_, path_)
        fs.rename(dest, maintenance._hadoop_fs(spark_, maintenance._old_path(path_))[1])
        raise RuntimeError("simulated crash inside the swap window")

    monkeypatch.setattr(maintenance, "_commit_swap", crash_in_window)
    with pytest.raises(RuntimeError, match="simulated crash"):
        if crashed == "compact_lake":
            compact_lake(spark, lake, ["day"])
        else:
            refresh_minute_rollup(spark, lake, new, 1)
    monkeypatch.undo()
    if crashed != "compact_lake":  # the parked day is hidden from readers
        assert len(spark.read.parquet(lake).select("day").distinct().collect()) == 1
    if crashed == "refresh_then_compact":
        compact_lake(spark, lake, ["day"])

    refresh_minute_rollup(spark, lake, new, 1)
    cols = ["zone", "minute", "total_value", "n_events", "peak_value"]
    assert sorted(map(tuple, spark.read.parquet(lake).select(*cols).collect())) == sorted(
        map(tuple, _minute_partials(ev).collect())
    )
