"""Source/sink tests: JSONL envelope lake round-trip, partitioned parquet
layout, CSV round-trip (SURVEY.md §2E)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.catalog import table
from smart_city_data_pipeline_spark.sources.jsonl_lake import read_event_lake, write_event_lake
from smart_city_data_pipeline_spark.sources.writers import (
    read_csv,
    write_csv,
    write_hour_partitioned_parquet,
    write_partitioned_parquet,
)


def test_jsonl_lake_roundtrip(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    path = str(tmp_path / "lake")
    write_event_lake(ev, path)

    # Hive-style hour partitions on disk, JSONL inside.
    assert glob.glob(f"{path}/year=*/month=*/day=*/hour=*/part-*")

    back = read_event_lake(spark, path)
    orig = ev.select("event_id", "ts", "user_id", "event_type", "value").orderBy("event_id")
    rt = back.select("event_id", "ts", "user_id", "event_type", "value").orderBy("event_id")
    assert [tuple(r) for r in rt.collect()] == [tuple(r) for r in orig.collect()]


def test_jsonl_lake_partition_pruning(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    path = str(tmp_path / "lake")
    write_event_lake(ev, path)
    back = read_event_lake(spark, path)

    one_hour = back.where((F.col("day") == 1) & (F.col("hour") == 3))
    plan = one_hour._jdf.queryExecution().executedPlan().toString()
    # Partition filters must reach the scan (pruning, not post-filter).
    assert "PartitionFilters" in plan
    expected = ev.where((F.dayofmonth("ts") == 1) & (F.hour("ts") == 3)).count()
    assert one_hour.count() == expected


def test_partitioned_parquet_write(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    path = str(tmp_path / "pq")
    write_hour_partitioned_parquet(ev, path)
    assert glob.glob(f"{path}/year=*/month=*/day=*/hour=*/*.parquet")
    assert spark.read.parquet(path).count() == ev.count()
    # repartition-by-partition-cols → exactly one file per hour dir.
    per_dir = {}
    for f in glob.glob(f"{path}/year=*/month=*/day=*/hour=*/*.parquet"):
        d = f.rsplit("/", 1)[0]
        per_dir[d] = per_dir.get(d, 0) + 1
    assert max(per_dir.values()) == 1


def test_zone_partitioned_write(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    path = str(tmp_path / "zones")
    write_partitioned_parquet(ev.withColumnRenamed("event_type", "zone"), path, ["zone"])
    zones = {d.rsplit("=", 1)[1] for d in glob.glob(f"{path}/zone=*")}
    assert zones == {r[0] for r in ev.select("event_type").distinct().collect()}


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    path = str(tmp_path / "csv")
    write_csv(ev, path)
    back = read_csv(spark, path, ev.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, ev.collect()))


def test_jsonl_lake_malformed_lines_quarantined(spark, sf_dir, tmp_path):
    """A crash-truncated (malformed) line must neither abort the read
    nor surface as an all-null row: good rows survive intact, the raw
    bad line lands in the quarantine dir."""
    import os

    from smart_city_data_pipeline_spark.catalog import table

    ev = table(spark, sf_dir, "events").limit(50)
    path = str(tmp_path / "lake")
    write_event_lake(ev, path)
    n_good = read_event_lake(spark, path).count()
    assert n_good == 50

    # Inject a partial envelope (collector died mid-write) into one
    # existing hour partition.
    part_dir = None
    for dp, _, fs in os.walk(path):
        if any(f.endswith(".txt") for f in fs) and "hour=" in dp:
            part_dir = dp
            break
    assert part_dir is not None
    with open(os.path.join(part_dir, "part-crashed.txt"), "w") as f:
        f.write('{"mqtt_topic": "smartcity/click", "timestamp": "2024-0')
    # The OTHER corrupt shape: from_json returns a NULL struct (with
    # _corrupt_record unset) for the JSON literal 'null' — these must
    # also be dropped and quarantined, not pass as all-null ghost rows.
    with open(os.path.join(part_dir, "part-nullghost.txt"), "w") as f:
        f.write("null")

    qdir = str(tmp_path / "quarantine")
    back = read_event_lake(spark, path, quarantine_dir=qdir)
    assert back.count() == n_good  # good rows all survive
    assert back.filter(back.event_id.isNull()).count() == 0  # no null ghosts
    quarantined = sorted(r[0] for r in spark.read.text(qdir).collect())
    assert quarantined == [
        "null",
        '{"mqtt_topic": "smartcity/click", "timestamp": "2024-0',
    ]


def test_sorted_parquet_export(spark, sf_dir, tmp_path):
    """Range-partitioned sorted export: rows sorted inside every file,
    file key-ranges non-overlapping and ordered by file name — the
    terasort layout downstream mergers / loaders rely on."""
    from smart_city_data_pipeline_spark.sources.writers import write_sorted_parquet

    ev = table(spark, sf_dir, "events")
    path = str(tmp_path / "sorted")
    write_sorted_parquet(ev, path, ["ts", "event_id"], n_files=8)

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) > 1  # range partitioner actually split
    prev_max = None
    total = 0
    for f in files:
        keys = [
            (r["ts"], r["event_id"])
            for r in spark.read.parquet(f).select("ts", "event_id").collect()
        ]
        total += len(keys)
        assert keys == sorted(keys), f"unsorted rows inside {f}"
        if keys:
            if prev_max is not None:
                assert prev_max < keys[0], "file key ranges overlap"
            prev_max = keys[-1]
    assert total == ev.count()


def test_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Batches written under evolving schemas (a later firmware adds a
    column) must read back as one table: old rows carry NULL for the
    new column, nothing is dropped, and pushdown still prunes on the
    shared columns."""
    from smart_city_data_pipeline_spark.sources.writers import read_evolved_parquet

    ev = table(spark, sf_dir, "events")
    out = str(tmp_path / "evolved")
    gen1 = ev.select("event_id", "ts", "user_id", "value").filter(
        F.col("event_id") % 2 == 0
    )
    gen2 = ev.select(
        "event_id", "ts", "user_id", "value",
        F.lit("fw2").alias("firmware"),
        (F.col("value") * 2).alias("value_calibrated"),
    ).filter(F.col("event_id") % 2 == 1)
    gen1.write.parquet(out + "/batch=1")
    gen2.write.parquet(out + "/batch=2")

    merged = read_evolved_parquet(spark, out)
    assert {"event_id", "ts", "user_id", "value", "firmware", "value_calibrated"} <= set(
        merged.columns
    )
    n_total = ev.count()
    assert merged.count() == n_total
    old = merged.filter(F.col("event_id") % 2 == 0)
    assert old.filter(F.col("firmware").isNull()).count() == old.count()
    new = merged.filter(F.col("event_id") % 2 == 1)
    assert new.filter(F.col("firmware") == "fw2").count() == new.count()
    # calibrated column is real data on new rows
    bad = new.filter(
        F.abs(F.col("value_calibrated") - 2 * F.col("value")) > 1e-9
    ).count()
    assert bad == 0


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC write → read round-trip preserves rows; a filtered read
    shows ORC pushdown in the plan (the Hive-native columnar path)."""
    from smart_city_data_pipeline_spark.catalog import table
    from smart_city_data_pipeline_spark.sources.writers import (
        read_orc,
        write_orc,
    )

    nation = table(spark, sf_dir, "nation")
    dest = str(tmp_path / "nation_orc")
    write_orc(nation, dest)
    back = read_orc(spark, dest)
    assert back.count() == nation.count()
    assert sorted(back.columns) == sorted(nation.columns)
    filtered = back.filter(back["n_regionkey"] == 0).select("n_name")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "pushed" in plan.lower()
    assert filtered.count() > 0
