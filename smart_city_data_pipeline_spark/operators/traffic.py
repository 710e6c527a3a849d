"""Smart-city traffic / air-quality / parking analytics.

Re-expresses the reference's batch analytics over the ``events`` sensor
stream stand-in (`user_id`=sensor, `event_type`=zone dim, `value`=
reading, `ts`=event time). Reference semantics:

- congestion classification: ``pipline2/spark-jobs/
  traffic_batch_processing.py:64`` (occupancy>0.8 high, >0.5 medium)
- zone aggregates: ``traffic_batch_processing.py:74``
- road-type aggregates: ``traffic_batch_processing.py:87``
- hourly stats: ``pipline2/init-db.sql:72`` (hourly_traffic_stats)
- AQI: ``data-simulators/air-quality/air_quality_simulator.py:95``
- parking: ``data-simulators/parking-sensors/parking_simulator.py:165``

Scale notes: every query is scan→(narrow map)→single hash-aggregate;
the per-event classifiers are pure projections (no shuffle at all), and
the rollups shuffle once on their group keys with map-side partial
aggregation — the plan Catalyst already picks for groupBy/agg. At
100 TB these are embarrassingly parallel; the only tuning knob is
shuffle partition count, handled by AQE coalescing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.catalog import table
from smart_city_data_pipeline_spark.functions.rounding import (
    avg_exact,
    avg_exact_sql,
    pround,
    pround_sql,
    sum_exact,
    sum_exact_sql,
)
from smart_city_data_pipeline_spark.functions.aqi import (
    aqi_category,
    aqi_category_sql,
    aqi_value,
    aqi_value_sql,
)
from smart_city_data_pipeline_spark.functions.congestion import (
    congestion_level,
    dynamic_rate,
    parking_status,
)


def congestion_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event congestion label from a normalized occupancy reading."""
    ev = table(spark, sf_dir, "events")
    occ = F.col("value") / 200.0
    return ev.select(
        F.col("event_id"),
        F.col("user_id").alias("sensor_id"),
        pround(occ).alias("occupancy_rate"),
        congestion_level(occ).alias("congestion_level"),
    )


def zone_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone / per-day rollup (avg reading, volume, active sensors)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type").alias("zone"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            pround(avg_exact(F.col("value"))).alias("avg_value"),
            pround(sum_exact(F.col("value"))).alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("active_sensors"),
        )
    )


def road_type_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rollup: avg reading, event count, avg occupancy."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("road_type")).agg(
        pround(avg_exact(F.col("value"))).alias("avg_value"),
        F.count(F.lit(1)).alias("event_count"),
        pround(avg_exact(F.col("value")) / 200.0).alias("avg_occupancy"),
    )


def hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-zone stats: totals, average, peak (init-db.sql:72)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type").alias("zone"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(
            pround(sum_exact(F.col("value"))).alias("total_value"),
            pround(avg_exact(F.col("value"))).alias("avg_value"),
            pround(F.max("value")).alias("peak_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def aqi_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPA AQI value + category treating the reading as PM2.5 µg/m³."""
    ev = table(spark, sf_dir, "events")
    pm25 = F.col("value")
    return ev.select(
        F.col("event_id"),
        pround(pm25).alias("pm25"),
        aqi_value(pm25).alias("aqi"),
        aqi_category(pm25).alias("aqi_category"),
    )


def parking_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy bucket + dynamic pricing per reading."""
    ev = table(spark, sf_dir, "events")
    occ = F.least(F.col("value") / 200.0, F.lit(1.0))
    return ev.select(
        F.col("event_id"),
        F.col("user_id").alias("lot_id"),
        pround(occ).alias("occupancy_rate"),
        parking_status(occ).alias("status"),
        dynamic_rate(F.lit(2.5), occ).alias("rate_per_hour"),
    )


def air_quality_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone/day air-quality rollup (``init-db.sql:23``
    air_quality_analytics indexed by zone+time): reading stats, average
    AQI, share of unhealthy readings. Single map-side-combinable
    aggregate; AQI is an integer so its sum is exact in BIGINT."""
    ev = table(spark, sf_dir, "events")
    aqi = aqi_value(F.col("value"))
    return (
        ev.groupBy(
            F.col("event_type").alias("zone"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            pround(avg_exact(F.col("value"))).alias("avg_pm25"),
            pround(F.sum(aqi) / F.count(F.lit(1))).alias("avg_aqi"),
            pround(F.sum((aqi > 100).cast("long")) / F.count(F.lit(1))).alias("unhealthy_share"),
        )
    )


# Exact-regime bound: GK returns the exact discrete quantile while a
# group's row count ≤ accuracy, so 50 k keeps the oracle exact through
# sf0.1 (~20 k rows/zone); beyond that the sketch is approximate by
# design (rank-tolerance asserted in tests/test_sketches.py) and its
# state stays bounded regardless of input size.
SKETCH_PCT_ACCURACY = 50_000


def zone_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based zone stats: approximate value percentiles via the
    Greenwald-Khanna quantile sketch (``percentile_approx``).

    At 100 TB exact percentiles force a global sort per zone; the
    sketch is fixed-size mergeable state, so the whole rollup stays one
    map-side-combinable aggregate. FULL oracle: when a zone's row count
    is ≤ the sketch accuracy (true at the driver's gate sf, where zones
    hold ~2 k rows against accuracy 10 k), GK stores every value and
    returns the exact discrete quantile — the same element DuckDB's
    ``quantile_disc`` picks — so the gate hash-matches deterministically;
    the approximate regime (counts > accuracy) is covered by the
    rank-tolerance assertions in tests/test_sketches.py.

    Scalar output columns only: downstream canonicalizers (pandas
    sort_values) cannot order ARRAY cells, so the two percentiles are
    emitted as separate double columns rather than one array.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("zone")).agg(
        F.percentile_approx("value", 0.5, SKETCH_PCT_ACCURACY).alias("value_p50"),
        F.percentile_approx("value", 0.95, SKETCH_PCT_ACCURACY).alias("value_p95"),
        F.count(F.lit(1)).alias("n_events"),
    )


def zone_sketch_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete sketch rollup: adds HyperLogLog++ distinct sensors.

    NOT in the oracle gate — HLL estimates are implementation-specific
    and can never hash-match another engine; accuracy vs exact distinct
    is asserted in tests/test_sketches.py (3σ at rsd=0.02). At 100 TB
    this is the variant you run: both sketches are mergeable fixed-size
    state in ONE aggregate pass.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("zone")).agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_sensors"),
        F.percentile_approx("value", 0.5, SKETCH_PCT_ACCURACY).alias("value_p50"),
        F.percentile_approx("value", 0.95, SKETCH_PCT_ACCURACY).alias("value_p95"),
        F.count(F.lit(1)).alias("n_events"),
    )


HIST_BUCKET_WIDTH = 20.0


def zone_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width reading histogram per zone (the dashboard
    distribution panel): one map-side-combinable groupBy on
    (zone, floor(value/width)) — histogramming at 100 TB is exactly a
    keyed count, never a sort or a per-zone collect."""
    ev = table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / HIST_BUCKET_WIDTH).cast("long")
    return (
        ev.groupBy(F.col("event_type").alias("zone"), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_readings"))
        .select(
            "zone",
            "bucket",
            pround(F.col("bucket") * HIST_BUCKET_WIDTH).alias("bucket_lo"),
            pround((F.col("bucket") + 1) * HIST_BUCKET_WIDTH).alias("bucket_hi"),
            "n_readings",
        )
    )


def dataset_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch job's closing processing summary
    (``traffic_batch_processing.py:131-134``): totals, distinct
    entities, time range — one aggregate pass instead of the
    reference's four separate actions."""
    ev = table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("total_events"),
        F.countDistinct("user_id").alias("unique_sensors"),
        F.countDistinct("event_type").alias("unique_types"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )


# Count-min sketch geometry: 4 hash rows × 256 cells — deliberately
# small so collisions (overestimates) are REAL at test scale and the
# error accounting is hash-checked, not a never-taken branch.
# Production sizes W ≈ e/ε for additive error ε·N.
CMS_D = 4
CMS_W = 256


def cms_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation with exact error
    accounting — the OTHER workhorse sketch next to GK quantiles
    (``zone_sketch_stats``) and HLL: per-sensor event counts estimated
    from a fixed 4×256-cell table, compared against the exact counts.
    CMS never underestimates (``cms_n ≥ exact_n`` is part of the
    hashed result), and the md5 hash family makes every cell value
    engine-exact.

    100 TB story: the sketch is ONE map-side-combinable aggregate into
    1024 mergeable cells — frequency queries then cost a join against
    a kilobyte, not a rescan. Here the estimate join is keyed on
    (row, cell); AQE broadcasts the tiny sketch at runtime."""
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    ev = table(spark, sf_dir, "events").select("user_id")

    def cells_of(df: DataFrame) -> DataFrame:
        return df.select(
            *df.columns,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            (
                                md5_long(
                                    F.concat(
                                        F.lit(f"cms{d}:"),
                                        F.col("user_id").cast("string"),
                                    )
                                )
                                % CMS_W
                            ).alias("cell"),
                        )
                        for d in range(CMS_D)
                    ]
                )
            ).alias("e"),
        ).select(*df.columns, F.col("e.d").alias("d"), F.col("e.cell").alias("cell"))

    sketch = cells_of(ev).groupBy("d", "cell").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    keys = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = (
        cells_of(keys)
        .join(sketch, ["d", "cell"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
    )
    return est.select(
        F.col("user_id").alias("sensor_id"),
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overestimate"),
    )


# Spatial assignment: the reference's zone dimension made geometric.
# Stations and sensor positions live on a deterministic integer grid
# (exact squared distances, no trig — a haversine would drag libm
# differences across engines), so the nearest-station argmin is
# engine-exact.
N_STATIONS = 12
STATIONS = tuple(
    (s, (s * 797) % 10000, (s * 1583) % 10000) for s in range(1, N_STATIONS + 1)
)


def nearest_station_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every sensor to its nearest monitoring station (squared
    euclidean on the integer grid, ties to the lower station id) and
    roll the event stream up per station — the spatial zone assignment
    a city deployment runs when sensors outnumber stations and zones
    are geometric, not labeled.

    Spark-first shape: the station table is 12 LITERALS, so the argmin
    is a pure PROJECTION — ``array_min`` over an inline array of
    (dist², station) structs, zero joins before the single rollup
    shuffle. At 100 TB the station list stays a broadcast literal (or
    a broadcast dim for thousands of stations); the fact scan still
    sees one projection + one keyed aggregate."""
    ev = table(spark, sf_dir, "events")
    px = (F.col("user_id") * 8191) % 10000
    py = (F.col("user_id") * 524287) % 10000
    cands = F.array(
        *[
            F.struct(
                ((px - sx) * (px - sx) + (py - sy) * (py - sy)).alias("d2"),
                F.lit(sid).alias("sid"),
            )
            for sid, sx, sy in STATIONS
        ]
    )
    best = F.array_min(cands)
    assigned = ev.select(
        "user_id",
        "value",
        best["sid"].alias("station_id"),
        best["d2"].alias("d2"),
    )
    return assigned.groupBy("station_id").agg(
        F.countDistinct("user_id").alias("n_sensors"),
        F.count(F.lit(1)).alias("n_readings"),
        pround(avg_exact(F.col("value"))).alias("avg_value"),
        F.max("d2").cast("long").alias("max_dist2"),
    )


_STATIONS_SQL = " UNION ALL ".join(
    f"SELECT {sid} AS sid, {sx} AS sx, {sy} AS sy" for sid, sx, sy in STATIONS
)


HLL_M = 64  # registers (2^6)
HLL_IDX_BITS = 6
HLL_W_BITS = 60 - HLL_IDX_BITS  # md5_long yields 60-bit hashes
HLL_ALPHA = 0.709  # Flajolet et al. 2007 constant for m = 64


def hll_rho_rows(ev: DataFrame) -> DataFrame:
    """(event_type, idx, rho) rows — the shared HLL register-update
    stream used by the batch report, the merge audit, and the
    streaming maintainer (one construction ⇒ the paths cannot
    drift). md5 index; rank via binary-string length (no float
    log2)."""
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    h = md5_long(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    base = ev.select(
        "event_type", "user_id", (h % HLL_M).alias("idx"), h.alias("h")
    ).withColumn("w", F.expr(f"h DIV {HLL_M}"))
    rho = F.when(F.col("w") == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS) - F.length(F.conv(F.col("w"), 10, 2)) + 1
    )
    return base.select("event_type", "user_id", "idx", rho.alias("rho"))


def hll_distinct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count estimation with exact error
    accounting — the third workhorse sketch next to CMS
    (``cms_error_report``) and GK quantiles (``zone_sketch_stats``):
    per event type, distinct sensors estimated from 64 mergeable
    registers, next to the exact count and the relative error. The
    RAW HLL estimator (Flajolet et al. 2007 §3, no small/large-range
    corrections — ln() is engine-divergent; the empty-register count
    ``v_zero`` is reported so a caller can apply linear counting).

    Engine-exact throughout: register index and rank come from the
    md5 hash (rank = 54 − msb(w) + 1 via binary-string length — no
    float log2); registers merge with MAX (order-independent — the
    property that makes HLL mergeable across 1000 executors, and the
    whole 100 TB story: one map-side-combinable aggregate into
    m·|vocab| cells); the harmonic sum is computed as exact BIGINT
    ``Σ 2^(Mmax−Mj)`` (≤ 64·2⁵⁵ < 2⁶³), so the one float step is the
    final literal-constant multiply/divide, identical in both
    engines."""
    ev = table(spark, sf_dir, "events")
    regs = (
        hll_rho_rows(ev)
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("m_j"))
    )
    per_type = regs.groupBy("event_type").agg(
        F.max("m_j").alias("m_max"),
        F.count(F.lit(1)).alias("n_filled"),
        F.collect_list("m_j").alias("ms"),
    )
    # Σ 2^(Mmax−Mj) over filled registers + empty registers at Mj=0
    # 2^(m_max−m) via pow: powers of two are exact doubles; the long
    # cast keeps the running sum integer-exact (F.shiftleft would be
    # the natural form but only takes a literal shift count)
    pow2 = lambda e: F.pow(F.lit(2.0), e.cast("double")).cast("long")  # noqa: E731
    ssum = F.aggregate(
        F.col("ms"),
        F.lit(0).cast("long"),
        lambda acc, m: acc + pow2(F.col("m_max") - m),
    ) + (F.lit(HLL_M) - F.col("n_filled")).cast("long") * pow2(F.col("m_max"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.lit(HLL_ALPHA * HLL_M * HLL_M) * F.pow(
        F.lit(2.0), F.col("m_max").cast("double")
    ) / F.col("s").cast("double")
    return (
        per_type.withColumn("s", ssum)
        .join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            (F.lit(HLL_M) - F.col("n_filled")).cast("long").alias("v_zero"),
            pround(est).alias("hll_estimate"),
            pround(
                (est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err"),
        )
    )


def od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin→destination transition matrix between zones — the
    traffic-flow question every smart-city dashboard asks ("how do
    vehicles move between districts, and how long does the hop
    take?"): for each sensor's consecutive event pair in DIFFERENT
    zones, one transition; per ordered (from, to) pair the trip count
    and transit-time stats.

    Plan: ONE per-sensor ordered window pass (lag on the (ts,
    event_id) total order — the deterministic tie-break both engines
    share), then a vocabulary-bounded keyed aggregate (≤ |zones|²
    rows). Transit seconds are exact BIGINT epoch differences; the
    only double is the final mean.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("to_zone"),
        F.lag("event_type").over(w).alias("from_zone"),
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).cast("long").alias("dt_s"),
    ).filter(
        F.col("from_zone").isNotNull()
        & (F.col("from_zone") != F.col("to_zone"))
    )
    return (
        seq.groupBy("from_zone", "to_zone")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trips"),
            F.sum("dt_s").cast("long").alias("total_transit_s"),
            F.min("dt_s").cast("long").alias("min_transit_s"),
            F.max("dt_s").cast("long").alias("max_transit_s"),
        )
        .select(
            "from_zone",
            "to_zone",
            "n_trips",
            "min_transit_s",
            "max_transit_s",
            pround(
                F.col("total_transit_s").cast("double")
                / F.col("n_trips").cast("double")
            ).alias("mean_transit_s"),
        )
    )


def pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto dominance) per zone: which sensors are
    undominated on (event volume, average reading)? — the multi-
    criteria "best sensors" query a ranking can't answer (no single
    score orders a trade-off frontier). A dominates B iff A ≥ B on
    both axes and > on at least one.

    Spark-first shape: NO pairwise self-join — the classic sort-based
    skyline as two window frames per zone: a RANGE frame over the
    integer volume axis (``max(avg) among strictly-higher-volume
    sensors``) plus a same-volume partition max; a sensor is on the
    front iff neither beats its average. O(n log n) per zone instead
    of the O(n²) dominance join, and both frames are exact-integer
    comparisons (averages on the `(s*128) DIV n` grid).
    """
    ev = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    per = (
        ev.groupBy(
            F.col("event_type").alias("zone"),
            F.col("user_id").alias("sensor_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("s"))
        .select(
            "zone",
            "sensor_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.expr("(s * 128) DIV n_events").alias("q"),
        )
    )
    w_higher = (
        Window.partitionBy("zone")
        .orderBy(F.col("n_events"))
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_same = Window.partitionBy("zone", "n_events")
    best_higher = F.max("q").over(w_higher)
    best_same = F.max("q").over(w_same)
    dominated = (
        F.coalesce(best_higher >= F.col("q"), F.lit(False))
    ) | (best_same > F.col("q"))
    return per.select(
        "zone",
        "sensor_id",
        "n_events",
        pround(F.col("q").cast("double") / 12800.0).alias("avg_value"),
        (~dominated).alias("on_front"),
    )


QUERIES = {
    "od_matrix": od_matrix,
    "pareto_front": pareto_front,
    "congestion_classify": congestion_classify,
    "zone_analytics": zone_analytics,
    "road_type_analytics": road_type_analytics,
    "hourly_stats": hourly_stats,
    "aqi_compute": aqi_compute,
    "air_quality_zone": air_quality_zone,
    "parking_status": parking_status_q,
    "zone_sketch_stats": zone_sketch_stats,
    "zone_value_histogram": zone_value_histogram,
    "dataset_summary": dataset_summary,
    "nearest_station_rollup": nearest_station_rollup,
    "cms_error_report": cms_error_report,
    "hll_distinct_report": hll_distinct_report,
}

_CMS_HASH = (
    "CAST(('0x' || substr(md5('cms' || CAST(g.d AS VARCHAR) || ':' "
    "|| CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)

ORACLES = {
    "cms_error_report": f"""
        WITH grid AS (SELECT unnest(range(0, {CMS_D})) AS d),
        cells AS (
            SELECT user_id, g.d, {_CMS_HASH} % {CMS_W} AS cell
            FROM events, grid g
        ),
        sketch AS (
            SELECT d, cell, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2
        ),
        keys AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
            FROM events GROUP BY 1
        ),
        kcells AS (
            SELECT user_id, exact_n, g.d, {_CMS_HASH} % {CMS_W} AS cell
            FROM keys, grid g
        )
        SELECT k.user_id AS sensor_id, k.exact_n,
               CAST(MIN(s.cnt) AS BIGINT) AS cms_n,
               CAST(MIN(s.cnt) - k.exact_n AS BIGINT) AS overestimate
        FROM kcells k JOIN sketch s ON k.d = s.d AND k.cell = s.cell
        GROUP BY 1, 2
    """,
    "nearest_station_rollup": f"""
        WITH sensors AS (
            SELECT DISTINCT user_id,
                   (user_id * 8191) % 10000 AS px,
                   (user_id * 524287) % 10000 AS py
            FROM events
        ),
        st AS ({_STATIONS_SQL}),
        assign AS (
            SELECT user_id, sid AS station_id, d2 FROM (
                SELECT s.user_id, t.sid,
                       (s.px - t.sx) * (s.px - t.sx)
                           + (s.py - t.sy) * (s.py - t.sy) AS d2,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.user_id
                           ORDER BY (s.px - t.sx) * (s.px - t.sx)
                                    + (s.py - t.sy) * (s.py - t.sy),
                                    t.sid) AS rn
                FROM sensors s CROSS JOIN st t
            ) WHERE rn = 1
        )
        SELECT a.station_id,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_sensors,
               CAST(COUNT(*) AS BIGINT) AS n_readings,
               {pround_sql(avg_exact_sql("e.value"))} AS avg_value,
               CAST(MAX(a.d2) AS BIGINT) AS max_dist2
        FROM events e JOIN assign a USING (user_id)
        GROUP BY 1
    """,
    "congestion_classify": """
        SELECT event_id,
               user_id AS sensor_id,
               (FLOOR(CAST((value / 200.0) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS occupancy_rate,
               CASE WHEN value / 200.0 > 0.8 THEN 'high'
                    WHEN value / 200.0 > 0.5 THEN 'medium'
                    ELSE 'low' END AS congestion_level
        FROM events
    """,
    "zone_analytics": """
        SELECT event_type AS zone,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               (FLOOR(CAST((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_value,
               (FLOOR(CAST((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS total_value,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_sensors
        FROM events
        GROUP BY 1, 2
    """,
    "road_type_analytics": """
        SELECT event_type AS road_type,
               (FLOOR(CAST((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_value,
               CAST(COUNT(*) AS BIGINT) AS event_count,
               (FLOOR(CAST((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) / 200.0) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_occupancy
        FROM events
        GROUP BY 1
    """,
    "hourly_stats": """
        SELECT event_type AS zone,
               date_trunc('hour', ts) AS hour,
               (FLOOR(CAST((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS total_value,
               (FLOOR(CAST((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_value,
               (FLOOR(CAST((MAX(value)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS peak_value,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
    "aqi_compute": f"""
        SELECT event_id,
               (FLOOR(CAST((value) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS pm25,
               {aqi_value_sql('value')} AS aqi,
               {aqi_category_sql('value')} AS aqi_category
        FROM events
    """,
    "dataset_summary": """
        SELECT CAST(COUNT(*) AS BIGINT) AS total_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_sensors,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS unique_types,
               MIN(ts) AS ts_min,
               MAX(ts) AS ts_max
        FROM events
    """,
    "air_quality_zone": f"""
        SELECT event_type AS zone,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_readings,
               (FLOOR(CAST((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_pm25,
               (FLOOR(CAST((CAST(SUM({aqi_value_sql('value')}) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_aqi,
               (FLOOR(CAST((CAST(SUM(CASE WHEN {aqi_value_sql('value')} > 100 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS unhealthy_share
        FROM events
        GROUP BY 1, 2
    """,
    "zone_value_histogram": """
        SELECT zone, bucket,
               (FLOOR(CAST((bucket * 20.0) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS bucket_lo,
               (FLOOR(CAST(((bucket + 1) * 20.0) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS bucket_hi,
               CAST(COUNT(*) AS BIGINT) AS n_readings
        FROM (
            SELECT event_type AS zone,
                   CAST(FLOOR(value / 20.0) AS BIGINT) AS bucket
            FROM events
        )
        GROUP BY 1, 2
    """,
    "zone_sketch_stats": """
        SELECT event_type AS zone,
               quantile_disc(value, 0.5) AS value_p50,
               quantile_disc(value, 0.95) AS value_p95,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1
    """,
    "parking_status": """
        SELECT event_id,
               user_id AS lot_id,
               (FLOOR(CAST((LEAST(value / 200.0, 1.0)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS occupancy_rate,
               CASE WHEN LEAST(value / 200.0, 1.0) >= 0.95 THEN 'full'
                    WHEN LEAST(value / 200.0, 1.0) >= 0.80 THEN 'high'
                    WHEN LEAST(value / 200.0, 1.0) >= 0.50 THEN 'medium'
                    ELSE 'low' END AS status,
               (FLOOR(CAST((2.5 * (1.0 + LEAST(value / 200.0, 1.0) * 0.5)) AS DOUBLE) * 100.0 + 0.5) / 100.0) AS rate_per_hour
        FROM events
    """,
    "hll_distinct_report": f"""
        WITH base AS (
            SELECT event_type,
                   h % {HLL_M} AS idx,
                   h // {HLL_M} AS w
            FROM (
                SELECT event_type,
                       CAST(('0x' || substr(md5(
                           'hll:' || CAST(user_id AS VARCHAR)), 1, 15))
                           AS BIGINT) AS h
                FROM events
            )
        ),
        regs AS (
            SELECT event_type, idx,
                   MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                       ELSE {HLL_W_BITS} - length(bin(w)) + 1 END) AS m_j
            FROM base GROUP BY 1, 2
        ),
        wm AS (
            SELECT *, MAX(m_j) OVER (PARTITION BY event_type) AS m_max
            FROM regs
        ),
        pt AS (
            SELECT event_type, m_max,
                   CAST(COUNT(*) AS BIGINT) AS n_filled,
                   SUM(CAST(1 AS BIGINT) << (m_max - m_j)) AS fsum
            FROM wm GROUP BY 1, 2
        ),
        st AS (
            SELECT event_type, m_max, n_filled,
                   fsum + ({HLL_M} - n_filled)
                       * (CAST(1 AS BIGINT) << m_max) AS s
            FROM pt
        ),
        exact AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events GROUP BY 1
        )
        SELECT st.event_type, exact.exact_distinct,
               CAST({HLL_M} - st.n_filled AS BIGINT) AS v_zero,
               {pround_sql(
                   f'{HLL_ALPHA * HLL_M * HLL_M!r}'
                   ' * pow(2.0, CAST(st.m_max AS DOUBLE))'
                   ' / CAST(st.s AS DOUBLE)'
               )} AS hll_estimate,
               {pround_sql(
                   f'({HLL_ALPHA * HLL_M * HLL_M!r}'
                   ' * pow(2.0, CAST(st.m_max AS DOUBLE))'
                   ' / CAST(st.s AS DOUBLE)'
                   ' - CAST(exact.exact_distinct AS DOUBLE))'
                   ' / CAST(exact.exact_distinct AS DOUBLE)'
               )} AS rel_err
        FROM st JOIN exact USING (event_type)
    """,
}


ORACLES["od_matrix"] = f"""
    WITH seq AS (
        SELECT event_type AS to_zone,
               LAG(event_type) OVER w AS from_zone,
               -- epoch_us // 1e6 floors like Spark's unix_timestamp;
               -- CAST(epoch() AS BIGINT) would ROUND the fraction
               (epoch_us(ts) // 1000000)
                   - (epoch_us(LAG(ts) OVER w) // 1000000) AS dt_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT from_zone, to_zone,
           CAST(COUNT(*) AS BIGINT) AS n_trips,
           CAST(MIN(dt_s) AS BIGINT) AS min_transit_s,
           CAST(MAX(dt_s) AS BIGINT) AS max_transit_s,
           {pround_sql('CAST(SUM(dt_s) AS DOUBLE) / COUNT(*)')} AS mean_transit_s
    FROM seq
    WHERE from_zone IS NOT NULL AND from_zone <> to_zone
    GROUP BY 1, 2
"""


ORACLES["pareto_front"] = f"""
    WITH per AS (
        SELECT event_type AS zone,
               user_id AS sensor_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) * 128
                    // COUNT(*) AS BIGINT) AS q
        FROM events
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT *,
               MAX(q) OVER (
                   PARTITION BY zone ORDER BY n_events
                   RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS best_higher,
               MAX(q) OVER (PARTITION BY zone, n_events) AS best_same
        FROM per
    )
    SELECT zone, sensor_id, n_events,
           {pround_sql('CAST(q AS DOUBLE) / 12800.0')} AS avg_value,
           NOT (COALESCE(best_higher >= q, FALSE) OR best_same > q)
               AS on_front
    FROM scored
"""


DBSCAN_CELL = 500  # grid cell side on the 10000x10000 layout plane
DBSCAN_MINPTS = 2  # points for a cell to count as dense


def _cell_components(cells: list[tuple[int, int, int]]) -> list[tuple[int, int, int]]:
    """``(cx, cy, cluster_id)`` for each ``(cx, cy, lbl)`` dense cell:
    a flood fill over the 8-neighbourhood gives each component the
    minimum ``lbl`` of its cells."""
    lbl = {(cx, cy): c for cx, cy, c in cells}
    comp: dict[tuple[int, int], int] = {}
    for start in lbl:
        if start in comp:
            continue
        members, stack = {start}, [start]
        while stack:
            cx, cy = stack.pop()
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nb = (cx + dx, cy + dy)
                    if nb in lbl and nb not in members:
                        members.add(nb)
                        stack.append(nb)
        comp.update(dict.fromkeys(members, min(lbl[c] for c in members)))
    return [(cx, cy, comp[(cx, cy)]) for cx, cy, _ in cells]


def dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell density clustering of the sensor fleet — the
    cell-based DBSCAN surrogate every distributed implementation uses
    (GriDBSCAN / DBSCAN-on-Spark family): bucket points into
    ``DBSCAN_CELL``-side cells, call a cell dense when it holds at
    least ``DBSCAN_MINPTS`` points, union ADJACENT dense cells
    (8-neighborhood) into clusters, and classify the remaining points
    as border (sparse cell touching a dense cell — joins its smallest
    neighboring cluster) or noise (the conventional label −1). Semantics are the grid
    approximation, stated as such: density is judged per cell, not
    per eps-ball — the standard scale trade, and the partitioning
    step of the exact distributed algorithms.

    Scale shape: density is ONE keyed aggregate over the point→cell
    projection. The dense-cell table goes to one pandas kernel group,
    which labels each 8-neighbour component with its minimum cell
    ``lbl`` (:func:`_cell_components`) in one pass, whatever the
    component's diameter. Bound: non-negative sensor ids land on the
    10000×10000 layout plane, so there are at most
    (10000/``DBSCAN_CELL``)² = 400 cells at any scale. Role and label
    come from ONE shifted-key EQUI-join from the point side (9 literal
    offsets exploded — never a pairwise distance join) and one keyed
    aggregate, so the kernel output is planned and read once.

    Exactness: cell coordinates, density counts, and labels are pure
    integers; the component label is the min-reachable-id, which the
    DuckDB oracle recomputes as a recursive-CTE transitive closure —
    engine-exact with no float anywhere.
    """
    ev = table(spark, sf_dir, "events")
    px = (F.col("sensor_id") * 8191) % 10000
    py = (F.col("sensor_id") * 524287) % 10000
    pts = ev.select(F.col("user_id").alias("sensor_id")).distinct().select(
        "sensor_id",
        F.floor(px / DBSCAN_CELL).cast("long").alias("cx"),
        F.floor(py / DBSCAN_CELL).cast("long").alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("n_pts")
    )
    lbl = (F.col("cx") * 1024 + F.col("cy")).cast("long")
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )

    def components(pdf):
        import pandas as pd

        rows = _cell_components(
            list(zip(pdf["cx"].tolist(), pdf["cy"].tolist(), pdf["lbl"].tolist()))
        )
        return pd.DataFrame(rows, columns=["cx", "cy", "cluster_id"])

    dense_lbl = (
        cells.filter(F.col("n_pts") >= DBSCAN_MINPTS)
        .select("cx", "cy", lbl.alias("lbl"))
        .groupBy()
        .applyInPandas(components, "cx long, cy long, cluster_id long")
    )

    # The own-cell label makes a core point, else the smallest
    # neighbouring label a border point, else noise (-1). CASE rather
    # than coalesce keeps ``cluster_id`` nullable, as the union was.
    own = (F.col("o.dx") == 0) & (F.col("o.dy") == 0)
    probed = pts.select("sensor_id", "cx", "cy", F.explode(offsets).alias("o")).select(
        "sensor_id",
        "cx",
        "cy",
        own.alias("own"),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    dn = dense_lbl.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"), "cluster_id"
    )
    labels = (
        probed.join(dn, ["nx", "ny"], "left")
        .groupBy("sensor_id", "cx", "cy")
        .agg(
            F.max(F.when(F.col("own"), F.col("cluster_id"))).alias("own_id"),
            F.min("cluster_id").alias("nbr_id"),
        )
    )
    core = F.col("own_id").isNotNull()
    border = F.col("nbr_id").isNotNull()
    return labels.select(
        "sensor_id",
        "cx",
        "cy",
        F.when(core, "core").when(border, "border").otherwise("noise").alias("role"),
        F.when(core, F.col("own_id"))
        .when(border, F.col("nbr_id"))
        .otherwise(F.lit(-1).cast("long"))
        .alias("cluster_id"),
    )


QUERIES["dbscan_grid"] = dbscan_grid

ORACLES["dbscan_grid"] = f"""
    WITH RECURSIVE pts AS (
        SELECT sensor_id,
               (sensor_id * 8191) % 10000 // {DBSCAN_CELL} AS cx,
               (sensor_id * 524287) % 10000 // {DBSCAN_CELL} AS cy
        FROM (SELECT DISTINCT user_id AS sensor_id FROM events)
    ),
    cells AS (
        SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_pts
        FROM pts GROUP BY 1, 2
    ),
    dense AS (
        SELECT cx, cy, CAST(cx * 1024 + cy AS BIGINT) AS lbl
        FROM cells WHERE n_pts >= {DBSCAN_MINPTS}
    ),
    edges AS (
        SELECT a.lbl AS src, b.lbl AS dst
        FROM dense a JOIN dense b
          ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
    ),
    reach(c, r) AS (
        SELECT lbl, lbl FROM dense
        UNION
        SELECT reach.c, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    comp AS (
        SELECT c AS lbl, MIN(r) AS cluster_id FROM reach GROUP BY 1
    ),
    dense_lbl AS (
        SELECT d.cx, d.cy, comp.cluster_id
        FROM dense d JOIN comp ON d.lbl = comp.lbl
    ),
    core AS (
        SELECT p.sensor_id, p.cx, p.cy, 'core' AS role, dl.cluster_id
        FROM pts p JOIN dense_lbl dl ON p.cx = dl.cx AND p.cy = dl.cy
    ),
    sparse AS (
        SELECT p.* FROM pts p
        WHERE NOT EXISTS (
            SELECT 1 FROM dense_lbl dl
            WHERE dl.cx = p.cx AND dl.cy = p.cy
        )
    ),
    border AS (
        SELECT s.sensor_id, s.cx, s.cy, 'border' AS role,
               MIN(dl.cluster_id) AS cluster_id
        FROM sparse s JOIN dense_lbl dl
          ON abs(s.cx - dl.cx) <= 1 AND abs(s.cy - dl.cy) <= 1
        GROUP BY 1, 2, 3
    ),
    noise AS (
        SELECT s.sensor_id, s.cx, s.cy, 'noise' AS role,
               CAST(-1 AS BIGINT) AS cluster_id
        FROM sparse s
        WHERE NOT EXISTS (
            SELECT 1 FROM border b WHERE b.sensor_id = s.sensor_id
        )
    )
    SELECT * FROM core
    UNION ALL SELECT * FROM border
    UNION ALL SELECT * FROM noise
"""


MI_Q = 1048576.0  # 2^20 per-cell PMI-contribution grid


def zone_hod_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between zone and hour-of-day — does WHEN a
    reading arrives tell you WHERE it came from? The
    information-theoretic dependence audit that complements
    ``source_divergence_chi2`` (frequency drift) and
    ``type_cooccurrence`` (support overlap): MI ≈ 0 says the zone mix
    is stationary across the day; rising MI is the canonical
    symptom of a zone going silent at night or a collector batching
    by region. One row per (zone, hour) cell with the joint count,
    the independence expectation, the pointwise MI of the cell, and
    the corpus MI total replicated per row (the ``benford_digit_test``
    report shape).

    Scale: one fact scan → (zone × 24)-bounded cell aggregate; the
    marginals and the MI total are window sums OVER THE CELL TABLE,
    never the raw stream. Exactness: counts are exact BIGINTs; each
    cell's ln argument is one division of exact-integer products
    (n·n_ij)/(n_i·n_j); the n·ln(ratio) contribution snaps to the
    2^20 grid and the MI total is an exact integer sum of grid values
    (the quantize-then-sum rule — ln is the only transcendental, its
    last-ulp risk bounded exactly as in the logprob family).
    """
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("zone"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    wz = Window.partitionBy("zone")
    wh = Window.partitionBy("hod")
    wall = Window.partitionBy()
    withm = cells.select(
        "zone",
        "hod",
        "n_obs",
        F.sum("n_obs").over(wz).alias("n_z"),
        F.sum("n_obs").over(wh).alias("n_h"),
        F.sum("n_obs").over(wall).alias("n"),
    )
    # each count casts to double BEFORE the multiply: the BIGINT
    # product n_obs*n wraps past ~3e18 (reachable at 100 TB row
    # counts); double products are exact-input single IEEE ops
    ratio = (
        F.col("n_obs").cast("double") * F.col("n").cast("double")
    ) / (F.col("n_z").cast("double") * F.col("n_h").cast("double"))
    pmi = F.log(ratio)
    contrib = F.col("n_obs").cast("double") * pmi
    cq = F.floor(contrib * F.lit(MI_Q) + F.lit(0.5)).cast("long")
    mi_total = (
        F.sum(cq).over(wall).cast("double")
        / F.lit(MI_Q)
        / F.col("n").cast("double")
    )
    exp_n = (
        F.col("n_z").cast("double") * F.col("n_h").cast("double")
    ) / F.col("n").cast("double")
    return withm.select(
        "zone",
        F.col("hod").cast("int").alias("hod"),
        "n_obs",
        pround(exp_n).alias("expected_n"),
        pround(pmi).alias("pmi"),
        pround(mi_total).alias("mi_nats"),
    )


QUERIES["zone_hod_mi"] = zone_hod_mi

ORACLES["zone_hod_mi"] = f"""
    WITH cells AS (
        SELECT event_type AS zone,
               CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT zone, hod, n_obs,
               CAST(SUM(n_obs) OVER (PARTITION BY zone) AS BIGINT) AS n_z,
               CAST(SUM(n_obs) OVER (PARTITION BY hod) AS BIGINT) AS n_h,
               CAST(SUM(n_obs) OVER () AS BIGINT) AS n
        FROM cells
    ),
    scored AS (
        SELECT *,
               ln((CAST(n_obs AS DOUBLE) * CAST(n AS DOUBLE))
                  / (CAST(n_z AS DOUBLE) * CAST(n_h AS DOUBLE))) AS pmi,
               CAST(FLOOR(CAST(n_obs AS DOUBLE)
                   * ln((CAST(n_obs AS DOUBLE) * CAST(n AS DOUBLE))
                        / (CAST(n_z AS DOUBLE) * CAST(n_h AS DOUBLE)))
                   * {MI_Q} + 0.5) AS BIGINT) AS cq
        FROM m
    )
    SELECT zone,
           hod,
           n_obs,
           {pround_sql(
               '(CAST(n_z AS DOUBLE) * CAST(n_h AS DOUBLE))'
               ' / CAST(n AS DOUBLE)'
           )} AS expected_n,
           {pround_sql('pmi')} AS pmi,
           {pround_sql(
               'CAST(SUM(cq) OVER () AS DOUBLE)'
               f' / {MI_Q} / CAST(n AS DOUBLE)'
           )} AS mi_nats
    FROM scored
"""


HEAT_KERNEL = (
    (-1, -1, 1), (-1, 0, 2), (-1, 1, 1),
    (0, -1, 2), (0, 0, 4), (0, 1, 2),
    (1, -1, 1), (1, 0, 2), (1, 1, 1),
)  # 3x3 integer binomial kernel, weight sum 16
HEAT_HOT_FACTOR = 1.4  # hotspot = smoothed density > 1.4x the grid mean


def density_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """City heat map: per grid cell, the raw reading count and a 3×3
    binomial-kernel smoothed density with a hotspot flag (smoothed >
    ``HEAT_HOT_FACTOR`` × grid mean — calibrated so the flag fires on the top decile of this layout, not never) — the dashboard heat layer, with
    the kernel smoothing that keeps single-cell noise from flashing
    red. Shares the ``dbscan_grid`` cell layout.

    Scale shape: one fact scan → cell counts (grid-bounded table),
    then the convolution as ONE explode of the 9 (offset, weight)
    literals + a keyed re-aggregate on the SHIFTED cell key — never a
    neighbor self-join; the grid-mean normalizer is a window over the
    grid-bounded cell table. Exactness: kernel sums are exact
    integers (weights 1/2/4, counts BIGINT); the mean and the
    hotspot comparison are single IEEE ops on exact integers.
    """
    ev = table(spark, sf_dir, "events")
    px = (F.col("user_id") * 8191) % 10000
    py = (F.col("user_id") * 524287) % 10000
    cells = (
        ev.select(
            F.floor(px / DBSCAN_CELL).cast("long").alias("cx"),
            F.floor(py / DBSCAN_CELL).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    )
    kern = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(w).alias("w"),
            )
            for dx, dy, w in HEAT_KERNEL
        ]
    )
    spread_cells = cells.select(
        "cx", "cy", "n_raw", F.explode(kern).alias("k")
    ).select(
        (F.col("cx") + F.col("k.dx")).alias("tx"),
        (F.col("cy") + F.col("k.dy")).alias("ty"),
        (F.col("n_raw") * F.col("k.w")).alias("contrib"),
    )
    smoothed = spread_cells.groupBy("tx", "ty").agg(
        F.sum("contrib").cast("long").alias("smooth16")
    )
    joined = cells.join(
        smoothed,
        (F.col("cx") == F.col("tx")) & (F.col("cy") == F.col("ty")),
    )
    wall = Window.partitionBy()
    mean16 = F.sum("smooth16").over(wall).cast("double") / F.count(
        F.lit(1)
    ).over(wall).cast("double")
    smooth = F.col("smooth16").cast("double") / F.lit(16.0)
    return joined.select(
        "cx",
        "cy",
        "n_raw",
        pround(smooth).alias("smooth_density"),
        (
            F.col("smooth16").cast("double")
            > F.lit(HEAT_HOT_FACTOR) * mean16
        ).alias("hotspot"),
    )


QUERIES["density_heatmap"] = density_heatmap

_KERNEL_SQL = ", ".join(f"({dx}, {dy}, {w})" for dx, dy, w in HEAT_KERNEL)

ORACLES["density_heatmap"] = f"""
    WITH cells AS (
        SELECT (user_id * 8191) % 10000 // {DBSCAN_CELL} AS cx,
               (user_id * 524287) % 10000 // {DBSCAN_CELL} AS cy,
               CAST(COUNT(*) AS BIGINT) AS n_raw
        FROM events GROUP BY 1, 2
    ),
    kern(dx, dy, w) AS (VALUES {_KERNEL_SQL}),
    spreadc AS (
        SELECT c.cx + k.dx AS tx, c.cy + k.dy AS ty,
               c.n_raw * k.w AS contrib
        FROM cells c, kern k
    ),
    smoothed AS (
        SELECT tx, ty, CAST(SUM(contrib) AS BIGINT) AS smooth16
        FROM spreadc GROUP BY 1, 2
    ),
    joined AS (
        SELECT c.cx, c.cy, c.n_raw, s.smooth16
        FROM cells c JOIN smoothed s ON c.cx = s.tx AND c.cy = s.ty
    )
    SELECT cx, cy, n_raw,
           {pround_sql('CAST(smooth16 AS DOUBLE) / 16.0')}
               AS smooth_density,
           (CAST(smooth16 AS DOUBLE) > {HEAT_HOT_FACTOR} *
            (CAST(SUM(smooth16) OVER () AS DOUBLE)
             / CAST(COUNT(*) OVER () AS DOUBLE))) AS hotspot
    FROM joined
"""


BIAS_MIN_COMMON_D = 14  # pairs need two weeks of common days to be judged
BIAS_CENTS_CUT = 800.0  # |mean offset| above 8.00 units flags bias


def colocated_bias_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-drift screening between CO-LOCATED sensors: two
    sensors in the same grid cell watch the same physical conditions,
    so a persistent offset between their same-hour averages is
    instrument bias, not environment — the classic redundant-sensor
    cross-check a fleet runs before trusting any absolute threshold.
    One row per co-located pair with enough common DAYS (this fleet
    reads a few times a day, so daily averages are the densest common
    grid): common-day count, mean signed offset, mean absolute
    offset, and the bias flag.

    Scale shape: hourly per-sensor averages first (keyed aggregate,
    the rollup every other ts operator shares), then the pair join is
    KEYED ON (cell, day) — fan-out per key is the cell's sensor
    count squared, a layout property independent of data volume (the
    ``dbscan_grid`` cell layout; the a<b guard halves it). No global
    pair enumeration anywhere. Exactness: hourly averages snap to
    integer cents; offsets and their sums are exact BIGINTs with one
    final division each.
    """
    ev = table(spark, sf_dir, "events")
    px = (F.col("user_id") * 8191) % 10000
    py = (F.col("user_id") * 524287) % 10000
    hourly = (
        ev.groupBy(
            F.col("user_id").alias("sensor_id"),
            F.date_trunc("day", F.col("ts")).alias("day_ts"),
        )
        .agg(avg_exact(F.col("value")).alias("avg_v"))
        .select(
            "sensor_id",
            "day_ts",
            F.floor(F.col("avg_v") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    cells = hourly.select(
        "sensor_id",
        "day_ts",
        "cents",
        F.floor(((F.col("sensor_id") * 8191) % 10000) / DBSCAN_CELL)
        .cast("long")
        .alias("cx"),
        F.floor(((F.col("sensor_id") * 524287) % 10000) / DBSCAN_CELL)
        .cast("long")
        .alias("cy"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cx") == F.col("b.cx"))
        & (F.col("a.cy") == F.col("b.cy"))
        & (F.col("a.day_ts") == F.col("b.day_ts"))
        & (F.col("a.sensor_id") < F.col("b.sensor_id")),
    ).select(
        F.col("a.sensor_id").alias("sensor_a"),
        F.col("b.sensor_id").alias("sensor_b"),
        F.col("a.cx").alias("cx"),
        F.col("a.cy").alias("cy"),
        (F.col("a.cents") - F.col("b.cents")).alias("diff"),
    )
    agg = pairs.groupBy("sensor_a", "sensor_b", "cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("n_common_days"),
        F.sum("diff").cast("long").alias("sum_diff"),
        F.sum(F.abs(F.col("diff"))).cast("long").alias("sum_abs"),
    )
    mean_diff = F.col("sum_diff").cast("double") / F.col(
        "n_common_days"
    ).cast("double")
    mean_abs = F.col("sum_abs").cast("double") / F.col(
        "n_common_days"
    ).cast("double")
    return agg.filter(F.col("n_common_days") >= BIAS_MIN_COMMON_D).select(
        "sensor_a",
        "sensor_b",
        "cx",
        "cy",
        "n_common_days",
        pround(mean_diff / F.lit(100.0)).alias("mean_offset"),
        pround(mean_abs / F.lit(100.0)).alias("mean_abs_offset"),
        (F.abs(mean_diff) > F.lit(BIAS_CENTS_CUT)).alias("bias_suspect"),
    )


QUERIES["colocated_bias_pairs"] = colocated_bias_pairs

ORACLES["colocated_bias_pairs"] = f"""
    WITH hourly AS (
        SELECT user_id AS sensor_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
               CAST(FLOOR(({avg_exact_sql('value')}) * 100 + 0.5)
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    cells AS (
        SELECT sensor_id, day_ts, cents,
               (sensor_id * 8191) % 10000 // {DBSCAN_CELL} AS cx,
               (sensor_id * 524287) % 10000 // {DBSCAN_CELL} AS cy
        FROM hourly
    ),
    pairs AS (
        SELECT a.sensor_id AS sensor_a, b.sensor_id AS sensor_b,
               a.cx, a.cy, a.cents - b.cents AS diff
        FROM cells a JOIN cells b
          ON a.cx = b.cx AND a.cy = b.cy AND a.day_ts = b.day_ts
         AND a.sensor_id < b.sensor_id
    ),
    agg AS (
        SELECT sensor_a, sensor_b, cx, cy,
               CAST(COUNT(*) AS BIGINT) AS n_common_days,
               CAST(SUM(diff) AS BIGINT) AS sum_diff,
               CAST(SUM(ABS(diff)) AS BIGINT) AS sum_abs
        FROM pairs GROUP BY 1, 2, 3, 4
    )
    SELECT sensor_a, sensor_b, cx, cy, n_common_days,
           {pround_sql(
               '(CAST(sum_diff AS DOUBLE)'
               ' / CAST(n_common_days AS DOUBLE)) / 100.0'
           )} AS mean_offset,
           {pround_sql(
               '(CAST(sum_abs AS DOUBLE)'
               ' / CAST(n_common_days AS DOUBLE)) / 100.0'
           )} AS mean_abs_offset,
           (ABS(CAST(sum_diff AS DOUBLE)
                / CAST(n_common_days AS DOUBLE))
            > {BIAS_CENTS_CUT}) AS bias_suspect
    FROM agg
    WHERE n_common_days >= {BIAS_MIN_COMMON_D}
"""


HLL_SHARDS = 8  # simulated per-executor partial sketches


def hll_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABILITY proof for the HLL sketch — the property the
    entire 100 TB posture of ``hll_distinct_report`` rests on: build
    PARTIAL register sets per shard (``user_id % 8`` stands in for
    1000 executors' map-side partials), MAX-merge them, and check the
    merged registers against registers computed directly on the full
    stream. ``n_register_mismatch`` is hash-checked at 0 — merge ≡
    direct, row for row (the ``ivm_merge_view`` discipline applied to
    the sketch family). The merged estimate, exact distinct, and
    relative error ride along per event type.

    Same engine-exact register construction as the report operator
    (md5 index, binary-string-length rank, BIGINT harmonic sum); the
    shard column only adds a key to the first aggregate — partials
    stay map-side combinable."""
    ev = table(spark, sf_dir, "events")
    rows = hll_rho_rows(ev).select(
        "event_type",
        (F.col("user_id") % HLL_SHARDS).alias("shard"),
        "idx",
        "rho",
    )
    partial = rows.groupBy("event_type", "shard", "idx").agg(
        F.max("rho").alias("m_p")
    )
    merged = partial.groupBy("event_type", "idx").agg(
        F.max("m_p").alias("m_merged")
    )
    direct = rows.groupBy("event_type", "idx").agg(
        F.max("rho").alias("m_direct")
    )
    cmp_ = merged.join(direct, ["event_type", "idx"], "full_outer")
    mism = cmp_.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.coalesce(F.col("m_merged"), F.lit(-1))
                != F.coalesce(F.col("m_direct"), F.lit(-1)),
                1,
            ).otherwise(0)
        ).alias("n_register_mismatch")
    )
    per_type = merged.groupBy("event_type").agg(
        F.max("m_merged").alias("m_max"),
        F.count(F.lit(1)).alias("n_filled"),
        F.collect_list("m_merged").alias("ms"),
    )
    pow2 = lambda e: F.pow(F.lit(2.0), e.cast("double")).cast("long")  # noqa: E731
    ssum = F.aggregate(
        F.col("ms"),
        F.lit(0).cast("long"),
        lambda acc, m: acc + pow2(F.col("m_max") - m),
    ) + (F.lit(HLL_M) - F.col("n_filled")).cast("long") * pow2(F.col("m_max"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.lit(HLL_ALPHA * HLL_M * HLL_M) * F.pow(
        F.lit(2.0), F.col("m_max").cast("double")
    ) / F.col("s").cast("double")
    return (
        per_type.withColumn("s", ssum)
        .join(mism, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_register_mismatch",
            "exact_distinct",
            pround(est).alias("merged_estimate"),
            pround(
                (est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err"),
        )
    )


QUERIES["hll_merge_audit"] = hll_merge_audit

ORACLES["hll_merge_audit"] = f"""
    WITH base AS (
        SELECT event_type,
               user_id % {HLL_SHARDS} AS shard,
               h % {HLL_M} AS idx,
               CASE WHEN h // {HLL_M} = 0 THEN {HLL_W_BITS + 1}
                    ELSE {HLL_W_BITS} - length(bin(h // {HLL_M})) + 1
               END AS rho
        FROM (
            SELECT event_type, user_id,
                   CAST(('0x' || substr(md5(
                       'hll:' || CAST(user_id AS VARCHAR)), 1, 15))
                       AS BIGINT) AS h
            FROM events
        )
    ),
    partial AS (
        SELECT event_type, shard, idx, MAX(rho) AS m_p
        FROM base GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, idx, MAX(m_p) AS m_merged
        FROM partial GROUP BY 1, 2
    ),
    direct AS (
        SELECT event_type, idx, MAX(rho) AS m_direct
        FROM base GROUP BY 1, 2
    ),
    mism AS (
        SELECT COALESCE(m.event_type, d.event_type) AS event_type,
               CAST(SUM(CASE WHEN COALESCE(m.m_merged, -1)
                             <> COALESCE(d.m_direct, -1)
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_register_mismatch
        FROM merged m
        FULL OUTER JOIN direct d
            ON d.event_type = m.event_type AND d.idx = m.idx
        GROUP BY 1
    ),
    wm AS (
        SELECT *, MAX(m_merged) OVER (PARTITION BY event_type) AS m_max
        FROM merged
    ),
    pt AS (
        SELECT event_type, m_max,
               CAST(COUNT(*) AS BIGINT) AS n_filled,
               SUM(CAST(1 AS BIGINT) << (m_max - m_merged)) AS fsum
        FROM wm GROUP BY 1, 2
    ),
    st AS (
        SELECT event_type, m_max, n_filled,
               fsum + ({HLL_M} - n_filled)
                   * (CAST(1 AS BIGINT) << m_max) AS s
        FROM pt
    ),
    exact AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT st.event_type, mism.n_register_mismatch, exact.exact_distinct,
           {pround_sql(
               f'{HLL_ALPHA * HLL_M * HLL_M!r}'
               ' * pow(2.0, CAST(st.m_max AS DOUBLE))'
               ' / CAST(st.s AS DOUBLE)'
           )} AS merged_estimate,
           {pround_sql(
               f'({HLL_ALPHA * HLL_M * HLL_M!r}'
               ' * pow(2.0, CAST(st.m_max AS DOUBLE))'
               ' / CAST(st.s AS DOUBLE)'
               ' - CAST(exact.exact_distinct AS DOUBLE))'
               ' / CAST(exact.exact_distinct AS DOUBLE)'
           )} AS rel_err
    FROM st
    JOIN mism USING (event_type)
    JOIN exact USING (event_type)
"""


IDW_SCALE = 1 << 40  # quantized inverse-distance weights w = SCALE // d^2


def idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted field interpolation (Shepard 1968):
    estimate the mean reading AT each monitoring station from every
    sensor's mean, weighted 1/d² on the integer grid — the spatial
    upgrade of ``nearest_station_rollup``'s hard argmin assignment
    (IDW blends all sensors instead of snapping to one; the standard
    gap-filling surface for sparse sensor networks).

    Engine-exact: per-sensor means floor to integer cents (documented
    grid), weights quantize to ``SCALE // d²`` (co-located sensors cap
    at SCALE — the d²≤1 guard), and both IDW sums accumulate in
    DECIMAL(38,0)/HUGEINT; the single final division is the only
    float. Shape: one keyed aggregate to per-sensor means, a 12-way
    literal explode (stations are literals, as in the argmin
    operator), one station-keyed rollup — linear in sensors."""
    ev = table(spark, sf_dir, "events")
    sensors = ev.groupBy("user_id").agg(
        F.floor(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")))
        .alias("sum_c"),
        F.count(F.lit(1)).alias("cnt"),
    ).select(
        "user_id",
        F.expr("sum_c DIV cnt").alias("mean_c"),
        ((F.col("user_id") * 8191) % 10000).alias("px"),
        ((F.col("user_id") * 524287) % 10000).alias("py"),
    )
    pairs = sensors.select(
        "user_id",
        "mean_c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(sid).alias("sid"),
                        (
                            (F.col("px") - sx) * (F.col("px") - sx)
                            + (F.col("py") - sy) * (F.col("py") - sy)
                        ).alias("d2"),
                    )
                    for sid, sx, sy in STATIONS
                ]
            )
        ).alias("e"),
    ).select(
        "user_id",
        "mean_c",
        F.col("e.sid").alias("station_id"),
        F.col("e.d2").alias("d2"),
    )
    wq = F.when(
        F.col("d2") <= 1, F.lit(IDW_SCALE)
    ).otherwise(F.expr(f"CAST({IDW_SCALE} AS BIGINT) DIV d2"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = pairs.withColumn("wq", wq).groupBy("station_id").agg(
        F.count(F.lit(1)).alias("n_sensors"),
        F.sum(dec(F.col("wq") * F.col("mean_c"))).alias("num"),
        F.sum(dec(F.col("wq"))).alias("den"),
    )
    return agg.select(
        "station_id",
        "n_sensors",
        pround(
            F.col("num").cast("double") / F.col("den").cast("double") / 100.0
        ).alias("idw_value"),
    )


QUERIES["idw_interpolation"] = idw_interpolation

ORACLES["idw_interpolation"] = f"""
    WITH sensors AS (
        SELECT user_id,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                   // COUNT(*) AS mean_c,
               (user_id * 8191) % 10000 AS px,
               (user_id * 524287) % 10000 AS py
        FROM events GROUP BY user_id
    ),
    stations AS ({_STATIONS_SQL}),
    pairs AS (
        SELECT s.user_id, s.mean_c, st.sid AS station_id,
               (s.px - st.sx) * (s.px - st.sx)
             + (s.py - st.sy) * (s.py - st.sy) AS d2
        FROM sensors s CROSS JOIN stations st
    ),
    weighted AS (
        SELECT station_id, mean_c,
               CASE WHEN d2 <= 1 THEN CAST({IDW_SCALE} AS BIGINT)
                    ELSE CAST({IDW_SCALE} AS BIGINT) // d2 END AS wq
        FROM pairs
    )
    SELECT station_id,
           CAST(COUNT(*) AS BIGINT) AS n_sensors,
           {pround_sql(
               'CAST(SUM(CAST(wq AS HUGEINT) * mean_c) AS DOUBLE)'
               ' / CAST(SUM(CAST(wq AS HUGEINT)) AS DOUBLE) / 100.0'
           )} AS idw_value
    FROM weighted GROUP BY 1
"""


# --------------------------------------------------------------------------
# Consolidated "latest city snapshot" serving view.
# --------------------------------------------------------------------------

SNAPSHOT_WINDOW_US = 86_400_000_000  # 24 h rolling windows for aq/vision
PARKING_FULL_BP = 19_000  # occupancy >= 0.95 on the 0..20000 grid
PARKING_CAP_BP = 20_000  # occupancy = min(value/200, 1) => value cents cap


def city_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-zone city dashboard read — the serving pattern the
    reference's dashboard implies (``pipline2/test_code/templates/
    dashboard.html`` polls ``/cameras`` + ``/camera_metadata`` and
    renders per-camera object/person counts next to the city metric
    tiles; ``vision_prototype.py:246`` keeps exactly this
    latest-state-plus-staleness map in memory). Composes four source
    views into one multi-source snapshot with PER-SOURCE FRESHNESS:

    - metrics:  latest reading per zone (``latest_metrics`` grain
      rolled to zone) + its EPA AQI value/category;
    - parking:  latest reading PER LOT, rolled to zone occupancy
      (lot count, mean occupancy, full-lot count);
    - air quality: trailing-24 h per-zone AQI rollup
      (``air_quality_zone`` semantics, windowed to "today");
    - vision:   trailing-24 h per-zone detection rollup
      (``camera_object_stats`` generator, zone-keyed).

    Each source carries ``*_staleness_s`` = seconds between the
    city-wide newest event (1-row broadcast) and that source's newest
    contributing event in the zone — the dashboard's "last updated"
    badge, computed in exact integer microseconds.

    Shape: one events scan per leg, each leg a partitioned window or
    keyed aggregate to |zones|-bounded rollups, then |zones|-sized
    joins (broadcast by size). The vision leg consumes the detection
    generator map-side exactly like camera_object_stats. No global
    sorts, no unpartitioned windows, no row-proportional driver state.
    """
    from smart_city_data_pipeline_spark.operators.vision import _detections_col

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("event_type").alias("zone"),
        "value",
        F.unix_micros(F.col("ts")).alias("t_us"),
    )
    now = ev.agg(F.max("t_us").alias("now_us"))  # 1-row broadcast

    # metrics leg: latest reading per zone (ts, event_id tie-break)
    wz = Window.partitionBy("zone").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    leg_m = (
        ev.withColumn("rn", F.row_number().over(wz))
        .filter(F.col("rn") == 1)
        .select(
            "zone",
            F.col("t_us").alias("m_us"),
            pround(F.col("value")).alias("last_value"),
            aqi_value(F.col("value")).alias("last_aqi"),
            aqi_category(F.col("value")).alias("last_aqi_category"),
        )
    )

    # parking leg: latest reading per (zone, lot), rolled up per zone
    wl = Window.partitionBy("zone", "user_id").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    occ_bp = F.least(
        F.floor(F.col("value") * 100 + 0.5).cast("long"),
        F.lit(PARKING_CAP_BP).cast("long"),
    )
    leg_p = (
        ev.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("zone", occ_bp.alias("occ_bp"), "t_us")
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).alias("n_lots"),
            F.sum("occ_bp").alias("s_occ"),
            F.sum(
                (F.col("occ_bp") >= PARKING_FULL_BP).cast("long")
            ).alias("n_full_lots"),
            F.max("t_us").alias("p_us"),
        )
    )

    # air-quality leg: trailing-24 h AQI rollup per zone
    ev24 = ev.join(F.broadcast(now)).filter(
        F.col("t_us") > F.col("now_us") - F.lit(SNAPSHOT_WINDOW_US)
    )
    aqi = aqi_value(F.col("value"))
    leg_a = ev24.groupBy("zone").agg(
        F.count(F.lit(1)).alias("aq24_readings"),
        F.sum(aqi).alias("s_aqi"),
        F.sum((aqi > 100).cast("long")).alias("n_unhealthy"),
        F.max("t_us").alias("a_us"),
    )

    # vision leg: trailing-24 h detection rollup per zone (generator
    # consumed map-side, the camera_object_stats discipline)
    leg_v = (
        ev24.select(
            "zone", "user_id", "t_us", F.inline_outer(_detections_col())
        )
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).alias("cam24_detections"),
            F.sum((F.col("obj_type") == "person").cast("long")).alias(
                "cam24_persons"
            ),
            F.countDistinct("user_id").alias("cam24_cameras"),
            F.max("t_us").alias("v_us"),
        )
    )

    joined = (
        leg_m.join(leg_p, "zone", "left")
        .join(leg_a, "zone", "left")
        .join(leg_v, "zone", "left")
        .join(F.broadcast(now))
    )

    def staleness(us: str) -> Column:
        # exact integer seconds; null when the source has no rows
        return F.expr(f"(now_us - {us}) div 1000000")

    return joined.select(
        "zone",
        "last_value",
        "last_aqi",
        "last_aqi_category",
        staleness("m_us").alias("metrics_staleness_s"),
        "n_lots",
        pround(
            F.col("s_occ").cast("double")
            / (F.col("n_lots").cast("double") * float(PARKING_CAP_BP))
        ).alias("avg_occupancy"),
        "n_full_lots",
        staleness("p_us").alias("parking_staleness_s"),
        "aq24_readings",
        pround(
            F.col("s_aqi").cast("double")
            / F.col("aq24_readings").cast("double")
        ).alias("aq24_avg_aqi"),
        pround(
            F.col("n_unhealthy").cast("double")
            / F.col("aq24_readings").cast("double")
        ).alias("aq24_unhealthy_share"),
        staleness("a_us").alias("air_staleness_s"),
        "cam24_detections",
        "cam24_persons",
        "cam24_cameras",
        staleness("v_us").alias("vision_staleness_s"),
    )


QUERIES["city_snapshot"] = city_snapshot

from smart_city_data_pipeline_spark.operators.vision import (  # noqa: E402
    _DET_BASE_SQL,
)

ORACLES["city_snapshot"] = f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type AS zone, value,
               epoch_us(ts) AS t_us
        FROM events
    ),
    now_t AS (SELECT MAX(t_us) AS now_us FROM ev),
    leg_m AS (
        SELECT zone, t_us AS m_us,
               {pround_sql('value')} AS last_value,
               {aqi_value_sql('value')} AS last_aqi,
               {aqi_category_sql('value')} AS last_aqi_category
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY zone ORDER BY t_us DESC, event_id DESC) AS rn
            FROM ev
        ) WHERE rn = 1
    ),
    lots AS (
        SELECT zone,
               LEAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT),
                     {PARKING_CAP_BP}) AS occ_bp,
               t_us
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY zone, user_id
                ORDER BY t_us DESC, event_id DESC) AS rn
            FROM ev
        ) WHERE rn = 1
    ),
    leg_p AS (
        SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_lots,
               CAST(SUM(occ_bp) AS BIGINT) AS s_occ,
               CAST(SUM(CASE WHEN occ_bp >= {PARKING_FULL_BP}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_full_lots,
               MAX(t_us) AS p_us
        FROM lots GROUP BY 1
    ),
    ev24 AS (
        SELECT ev.* FROM ev, now_t
        WHERE t_us > now_us - {SNAPSHOT_WINDOW_US}
    ),
    leg_a AS (
        SELECT zone, CAST(COUNT(*) AS BIGINT) AS aq24_readings,
               CAST(SUM({aqi_value_sql('value')}) AS BIGINT) AS s_aqi,
               CAST(SUM(CASE WHEN {aqi_value_sql('value')} > 100
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_unhealthy,
               MAX(t_us) AS a_us
        FROM ev24 GROUP BY 1
    ),
    det24 AS (
        SELECT e24.zone, e24.t_us, e24.user_id, d.obj_type
        FROM ({_DET_BASE_SQL}) d
        JOIN ev24 e24 USING (event_id)
    ),
    leg_v AS (
        SELECT zone, CAST(COUNT(*) AS BIGINT) AS cam24_detections,
               CAST(SUM(CASE WHEN obj_type = 'person'
                             THEN 1 ELSE 0 END) AS BIGINT) AS cam24_persons,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cam24_cameras,
               MAX(t_us) AS v_us
        FROM det24 GROUP BY 1
    )
    SELECT m.zone, m.last_value, m.last_aqi, m.last_aqi_category,
           (now_us - m_us) // 1000000 AS metrics_staleness_s,
           p.n_lots,
           {pround_sql(
               'CAST(s_occ AS DOUBLE)'
               f' / (CAST(n_lots AS DOUBLE) * {float(PARKING_CAP_BP)})'
           )} AS avg_occupancy,
           p.n_full_lots,
           (now_us - p_us) // 1000000 AS parking_staleness_s,
           a.aq24_readings,
           {pround_sql(
               'CAST(s_aqi AS DOUBLE) / CAST(aq24_readings AS DOUBLE)'
           )} AS aq24_avg_aqi,
           {pround_sql(
               'CAST(n_unhealthy AS DOUBLE) / CAST(aq24_readings AS DOUBLE)'
           )} AS aq24_unhealthy_share,
           (now_us - a_us) // 1000000 AS air_staleness_s,
           v.cam24_detections, v.cam24_persons, v.cam24_cameras,
           (now_us - v_us) // 1000000 AS vision_staleness_s
    FROM leg_m m
    LEFT JOIN leg_p p USING (zone)
    LEFT JOIN leg_a a USING (zone)
    LEFT JOIN leg_v v USING (zone)
    CROSS JOIN now_t
"""


# --------------------------------------------------------------------------
# Moran's I spatial autocorrelation over the sensor grid.
# --------------------------------------------------------------------------

MORAN_CELL = 500  # 10000x10000 layout -> 20x20 cells (the dbscan grid)


def morans_i_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global spatial autocorrelation of the reading field — Moran's I
    over the 20×20 sensor-grid cells with rook (4-neighbor) weights:
    the one-number answer to "do nearby zones read alike?" that
    decides whether spatial methods (idw_interpolation, dbscan_grid,
    density_heatmap) will find structure or noise. I ≈ +1 clustered,
    ≈ E[I] = −1/(M−1) random, ≈ −1 checkerboard.

    Exactness: cell values are the acf_lags integer mean
    ``(sum_cents·128) DIV n``; centering cross-multiplies
    (v_i·M − Σv) so both the pair sum and the variance sum are exact
    DECIMAL(38,0)/HUGEINT integers (squares pass BIGINT at ~5e11²);
    adjacency is the dbscan_grid shifted-key EQUI-join (4 literal
    offsets, never a distance join); the clustered verdict
    M·P·(M−1) > −W·Q compares integers — the reported I and E[I] are
    the only float divisions.

    Shape: one keyed rollup of the facts to ≤400 cells, one 4-offset
    explode + self-equi-join on the cell table, two bounded
    aggregates. Fact table shuffles once."""
    ev = table(spark, sf_dir, "events")
    cx = F.expr(f"((user_id * 8191) % 10000) DIV {MORAN_CELL}")
    cy = F.expr(f"((user_id * 524287) % 10000) DIV {MORAN_CELL}")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    cells = (
        ev.groupBy(cx.alias("cx"), cy.alias("cy"))
        .agg(F.sum(cents).alias("s"), F.count(F.lit(1)).alias("n"))
        .select("cx", "cy", F.expr("(s * 128) DIV n").alias("v"))
    )
    tot = cells.agg(
        F.count(F.lit(1)).alias("m"), F.sum("v").alias("sv")
    )

    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    a = cells.select(
        "cx",
        "cy",
        F.col("v").alias("va"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in ((0, 1), (0, -1), (1, 0), (-1, 0))
                ]
            )
        ).alias("o"),
    )
    b = cells.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"),
        F.col("v").alias("vb"),
    )
    edges = a.join(
        b,
        (F.col("bx") == F.col("cx") + F.col("o.dx"))
        & (F.col("by") == F.col("cy") + F.col("o.dy")),
    )
    zp = lambda v: dec(v) * dec(F.col("m")) - dec(F.col("sv"))  # noqa: E731
    pair = edges.join(F.broadcast(tot)).agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(zp(F.col("va")) * zp(F.col("vb"))).alias("p"),
    )
    varsum = cells.join(F.broadcast(tot)).agg(
        F.sum(zp(F.col("v")) * zp(F.col("v"))).alias("q"),
        F.max("m").alias("m"),
    )
    out = pair.join(F.broadcast(varsum))
    i_val = (
        F.col("m").cast("double")
        * F.col("p").cast("double")
        / (F.col("w").cast("double") * F.col("q").cast("double"))
    )
    e_i = F.lit(-1.0) / (F.col("m").cast("double") - 1.0)
    clustered = dec(F.col("m")) * F.col("p") * dec(F.col("m") - 1) > -(
        dec(F.col("w")) * F.col("q")
    )
    return out.select(
        F.col("m").cast("long").alias("n_cells"),
        F.col("w").cast("long").alias("n_links"),
        pround(i_val).alias("morans_i"),
        pround(e_i).alias("expected_i"),
        clustered.alias("clustered"),
    )


QUERIES["morans_i_grid"] = morans_i_grid

ORACLES["morans_i_grid"] = f"""
    WITH cells AS (
        SELECT ((user_id * 8191) % 10000) // {MORAN_CELL} AS cx,
               ((user_id * 524287) % 10000) // {MORAN_CELL} AS cy,
               (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                     AS BIGINT) * 128) // COUNT(*) AS v
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(v) AS BIGINT) AS sv
        FROM cells
    ),
    offs AS (
        SELECT * FROM (VALUES (0, 1), (0, -1), (1, 0), (-1, 0)) o(dx, dy)
    ),
    edges AS (
        SELECT a.v AS va, b.v AS vb
        FROM cells a
        CROSS JOIN offs o
        JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
    ),
    pair AS (
        -- no GROUP BY: an empty edge set (no adjacent occupied cells
        -- at tiny SF) must still yield ONE row (w=0, p NULL), matching
        -- the Spark global aggregate
        SELECT CAST(COUNT(*) AS BIGINT) AS w,
               SUM((CAST(va AS HUGEINT) * t.m - t.sv)
                   * (CAST(vb AS HUGEINT) * t.m - t.sv)) AS p
        FROM edges CROSS JOIN tot t
    ),
    varsum AS (
        SELECT SUM((CAST(v AS HUGEINT) * t.m - t.sv)
                   * (CAST(v AS HUGEINT) * t.m - t.sv)) AS q,
               MAX(t.m) AS m
        FROM cells CROSS JOIN tot t
    )
    SELECT CAST(v2.m AS BIGINT) AS n_cells,
           p1.w AS n_links,
           {pround_sql(
               'CAST(v2.m AS DOUBLE) * CAST(p1.p AS DOUBLE)'
               ' / (CAST(p1.w AS DOUBLE) * CAST(v2.q AS DOUBLE))'
           )} AS morans_i,
           {pround_sql('-1.0 / (CAST(v2.m AS DOUBLE) - 1.0)')} AS expected_i,
           (CAST(v2.m AS HUGEINT) * p1.p * (v2.m - 1)
            > -(CAST(p1.w AS HUGEINT) * v2.q)) AS clustered
    FROM pair p1 CROSS JOIN varsum v2
"""


def local_morans_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I (Anselin 1995 LISA) per grid cell — the hotspot
    MAP that the global ``morans_i_grid`` number summarizes: each
    cell's deviation times its neighbors' mean deviation, classified
    into the four LISA quadrants (HH hotspot, LL coldspot, HL/LH
    spatial outliers). This is the layer a city dashboard actually
    draws.

    Exactness: the same integer cell means and cross-multiplied
    centering as the global statistic (zq_i = v_i·M − Σv, exact);
    the neighbor lag is an exact integer sum over the rook
    equi-join; quadrant signs compare integers; local
    I_i = M·zq_i·lagq_i / Σ zq² is one double division of
    DECIMAL(38,0)/HUGEINT products. Cells with no neighbors (grid
    corners of a sparse layout) report NULL lag honestly.

    Shape: identical bounded machinery to morans_i_grid — one fact
    rollup to ≤400 cells, one 4-offset equi-join, one cell-keyed
    neighbor aggregate, two 1-row broadcasts."""
    ev = table(spark, sf_dir, "events")
    cx = F.expr(f"((user_id * 8191) % 10000) DIV {MORAN_CELL}")
    cy = F.expr(f"((user_id * 524287) % 10000) DIV {MORAN_CELL}")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    cells = (
        ev.groupBy(cx.alias("cx"), cy.alias("cy"))
        .agg(F.sum(cents).alias("s"), F.count(F.lit(1)).alias("n"))
        .select("cx", "cy", F.expr("(s * 128) DIV n").alias("v"))
    )
    tot = cells.agg(F.count(F.lit(1)).alias("m"), F.sum("v").alias("sv"))

    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    zc = cells.join(F.broadcast(tot)).select(
        "cx",
        "cy",
        "v",
        (dec(F.col("v")) * dec(F.col("m")) - dec(F.col("sv"))).alias("zq"),
        "m",
    )
    q = zc.agg(F.sum(F.col("zq") * F.col("zq")).alias("ssq"))
    a = zc.select(
        "cx",
        "cy",
        "v",
        "zq",
        "m",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in ((0, 1), (0, -1), (1, 0), (-1, 0))
                ]
            )
        ).alias("o"),
    )
    b = zc.select(
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
        F.col("zq").alias("zqb"),
    )
    lag = (
        a.join(
            b,
            (F.col("bx") == F.col("cx") + F.col("o.dx"))
            & (F.col("by") == F.col("cy") + F.col("o.dy")),
        )
        .groupBy("cx", "cy")
        .agg(F.sum("zqb").alias("lagq"), F.count(F.lit(1)).alias("n_nb"))
    )
    out = (
        zc.join(lag, ["cx", "cy"], "left")
        .join(F.broadcast(q))
    )
    quadrant = (
        F.when(F.col("lagq").isNull(), "isolated")
        .when((F.col("zq") > 0) & (F.col("lagq") > 0), "HH")
        .when((F.col("zq") < 0) & (F.col("lagq") < 0), "LL")
        .when((F.col("zq") > 0) & (F.col("lagq") <= 0), "HL")
        .otherwise("LH")
    )
    local_i = (
        F.col("m").cast("double")
        * F.col("zq").cast("double")
        * F.col("lagq").cast("double")
        / F.col("ssq").cast("double")
    )
    return out.select(
        "cx",
        "cy",
        pround(F.col("v").cast("double") / 12800.0).alias("cell_mean"),
        F.coalesce(F.col("n_nb"), F.lit(0)).cast("long").alias("n_neighbors"),
        quadrant.alias("quadrant"),
        F.when(F.col("lagq").isNotNull(), pround(local_i)).alias("local_i"),
    )


QUERIES["local_morans_hotspots"] = local_morans_hotspots

ORACLES["local_morans_hotspots"] = f"""
    WITH cells AS (
        SELECT ((user_id * 8191) % 10000) // {MORAN_CELL} AS cx,
               ((user_id * 524287) % 10000) // {MORAN_CELL} AS cy,
               (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                     AS BIGINT) * 128) // COUNT(*) AS v
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(v) AS BIGINT) AS sv
        FROM cells
    ),
    zc AS (
        SELECT cx, cy, v,
               CAST(v AS HUGEINT) * t.m - t.sv AS zq,
               t.m
        FROM cells CROSS JOIN tot t
    ),
    q AS (SELECT SUM(zq * zq) AS ssq FROM zc),
    offs AS (
        SELECT * FROM (VALUES (0, 1), (0, -1), (1, 0), (-1, 0)) o(dx, dy)
    ),
    lag AS (
        SELECT a.cx, a.cy, SUM(b.zq) AS lagq,
               CAST(COUNT(*) AS BIGINT) AS n_nb
        FROM zc a
        CROSS JOIN offs o
        JOIN zc b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
        GROUP BY 1, 2
    )
    SELECT z.cx, z.cy,
           {pround_sql('CAST(z.v AS DOUBLE) / 12800.0')} AS cell_mean,
           COALESCE(l.n_nb, 0) AS n_neighbors,
           CASE WHEN l.lagq IS NULL THEN 'isolated'
                WHEN z.zq > 0 AND l.lagq > 0 THEN 'HH'
                WHEN z.zq < 0 AND l.lagq < 0 THEN 'LL'
                WHEN z.zq > 0 AND l.lagq <= 0 THEN 'HL'
                ELSE 'LH' END AS quadrant,
           CASE WHEN l.lagq IS NOT NULL THEN
               {pround_sql(
                   'CAST(z.m AS DOUBLE) * CAST(z.zq AS DOUBLE)'
                   ' * CAST(l.lagq AS DOUBLE) / CAST(q.ssq AS DOUBLE)'
               )} END AS local_i
    FROM zc z
    LEFT JOIN lag l ON l.cx = z.cx AND l.cy = z.cy
    CROSS JOIN q
"""


# --------------------------------------------------------------------------
# k-distance elbow (DBSCAN eps selection).
# --------------------------------------------------------------------------

ELBOW_K = 4  # k-th nearest neighbor (the DBSCAN paper's k = minPts)


def eps_elbow_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN eps selection by the k-distance elbow (Ester et al.
    1996 §4.2): sort every point's distance to its 4th nearest
    neighbor, find the knee of that curve — the eps the paper says to
    read off the plot, computed here without plotting OR a global
    sort. The tuning companion to ``dbscan_grid`` (which currently
    fixes its cell side a priori).

    Distributed + exact: candidate neighbors come from the 3×3 cell
    neighborhood equi-join (never all-pairs; points with fewer than k
    candidates in that radius are excluded and COUNTED — the
    documented locality cap, honest in the n_capped column); the
    4th-NN squared distance is an exact integer rank pick inside the
    bounded per-point candidate list; the k-distance CURVE lives as a
    d²-histogram + cumulative over the BOUNDED distinct-d² table (the
    value_quantiles idiom); the knee is the histogram point with max
    |cross-product| deviation from the first→last chord —
    DECIMAL(38,0)/HUGEINT integers, ties to the smaller d²
    (struct-min). The reported eps = sqrt(knee_d2) is the only float.

    Shape: one point→cell projection, one 9-offset equi-join, one
    per-point rank aggregate, one bounded histogram + cumulative, one
    argmin struct fold."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(F.col("user_id").alias("sid")).distinct()
    px = (F.col("sid") * 8191) % 10000
    py = (F.col("sid") * 524287) % 10000
    p = pts.select(
        "sid",
        px.alias("px"),
        py.alias("py"),
        F.floor(px / DBSCAN_CELL).cast("long").alias("cx"),
        F.floor(py / DBSCAN_CELL).cast("long").alias("cy"),
    )
    a = p.select(
        F.col("sid").alias("ida"),
        F.col("px").alias("xa"),
        F.col("py").alias("ya"),
        "cx",
        "cy",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("o"),
    )
    b = p.select(
        F.col("sid").alias("idb"),
        F.col("px").alias("xb"),
        F.col("py").alias("yb"),
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
    )
    cand = a.join(
        b,
        (F.col("bx") == F.col("cx") + F.col("o.dx"))
        & (F.col("by") == F.col("cy") + F.col("o.dy"))
        & (F.col("idb") != F.col("ida")),
    ).select(
        "ida",
        (
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
        ).alias("d2"),
    )
    # exact k-th smallest d2 per point from the cell-bounded candidate
    # list: sort the collected small list per point (bounded by 9-cell
    # occupancy) via sort_array on the aggregated list
    kth = (
        cand.groupBy("ida")
        .agg(F.sort_array(F.collect_list("d2")).alias("ds"))
        .select(
            "ida",
            F.size("ds").alias("n_cand"),
            F.when(
                F.size("ds") >= ELBOW_K, F.element_at("ds", ELBOW_K)
            ).alias("kd2"),
        )
        # kth feeds n_capped, the histogram AND the n_points total.
        # All three consumers sit above the ONE reused groupBy(ida)
        # exchange; only the small post-exchange aggregate re-runs per
        # consumer. An explicit localCheckpoint here A/B-measured a
        # wash (1.64 s vs 1.56 s lazy) — left lazy per the
        # recompute-is-cheap rule (guide §5).
    )
    n_capped = kth.filter(F.col("n_cand") < ELBOW_K).agg(
        F.count(F.lit(1)).alias("n_capped")
    )
    hist = (
        kth.filter(F.col("kd2").isNotNull())
        .groupBy("kd2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = Window.orderBy("kd2").rowsBetween(Window.unboundedPreceding, 0)
    curve = hist.select(
        "kd2", F.sum("c").over(wc).alias("cum")
    )
    # GLOBAL aggregate root (no trailing select), so the broadcast side
    # is policy-provably 1 row; endpoints unpack after the join.
    ends = curve.agg(
        F.min_by(F.struct("cum", "kd2"), F.col("kd2")).alias("lo"),
        F.max_by(F.struct("cum", "kd2"), F.col("kd2")).alias("hi"),
    )

    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    x1, y1 = F.col("lo.cum"), F.col("lo.kd2")
    x2, y2 = F.col("hi.cum"), F.col("hi.kd2")
    dev = F.abs(
        dec(y2 - y1) * dec(F.col("cum") - x1)
        - dec(x2 - x1) * dec(F.col("kd2") - y1)
    )
    knee = (
        curve.join(F.broadcast(ends))
        .select(
            F.struct(
                (-dev).alias("negdev"), F.col("kd2").alias("kd2")
            ).alias("s"),
        )
        .agg(F.min("s").alias("m"))
        .select(
            F.col("m.kd2").alias("knee_d2"),
            (-F.col("m.negdev")).alias("max_dev"),
        )
    )
    tot = kth.agg(
        F.count(F.lit(1)).alias("n_points"),
    )
    return (
        knee.join(F.broadcast(tot))
        .join(F.broadcast(n_capped))
        .select(
            "n_points",
            "n_capped",
            F.col("knee_d2").cast("long").alias("knee_d2"),
            pround(F.sqrt(F.col("knee_d2").cast("double"))).alias(
                "suggested_eps"
            ),
        )
    )


QUERIES["eps_elbow_report"] = eps_elbow_report

ORACLES["eps_elbow_report"] = f"""
    WITH p AS (
        SELECT DISTINCT user_id AS sid,
               (user_id * 8191) % 10000 AS px,
               (user_id * 524287) % 10000 AS py,
               (user_id * 8191) % 10000 // {DBSCAN_CELL} AS cx,
               (user_id * 524287) % 10000 // {DBSCAN_CELL} AS cy
        FROM events
    ),
    offs AS (
        SELECT dx.x AS dx, dy.y AS dy
        FROM generate_series(-1, 1) dx(x), generate_series(-1, 1) dy(y)
    ),
    cand AS (
        SELECT a.sid AS ida,
               (a.px - b.px) * (a.px - b.px)
               + (a.py - b.py) * (a.py - b.py) AS d2
        FROM p a
        CROSS JOIN offs o
        JOIN p b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
               AND b.sid <> a.sid
    ),
    kth AS (
        SELECT ida, CAST(COUNT(*) AS BIGINT) AS n_cand,
               CASE WHEN COUNT(*) >= {ELBOW_K}
                    THEN (list_sort(list(d2)))[{ELBOW_K}] END AS kd2
        FROM cand GROUP BY 1
    ),
    nc AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN n_cand < {ELBOW_K}
                                      THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_capped,
               CAST(COUNT(*) AS BIGINT) AS n_points
        FROM kth
    ),
    hist AS (
        SELECT kd2, CAST(COUNT(*) AS BIGINT) AS c
        FROM kth WHERE kd2 IS NOT NULL GROUP BY 1
    ),
    curve AS (
        SELECT kd2,
               CAST(SUM(c) OVER (ORDER BY kd2
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM hist
    ),
    ends AS (
        SELECT MIN(kd2) AS y1, MAX(kd2) AS y2,
               (SELECT cum FROM curve ORDER BY kd2 ASC LIMIT 1) AS x1,
               (SELECT cum FROM curve ORDER BY kd2 DESC LIMIT 1) AS x2
        FROM curve
    ),
    knee AS (
        SELECT c.kd2 AS knee_d2,
               ABS(CAST(e.y2 - e.y1 AS HUGEINT) * (c.cum - e.x1)
                   - CAST(e.x2 - e.x1 AS HUGEINT) * (c.kd2 - e.y1)) AS dev
        FROM curve c CROSS JOIN ends e
        ORDER BY dev DESC, knee_d2 ASC LIMIT 1
    )
    SELECT nc.n_points, nc.n_capped,
           CAST(k.knee_d2 AS BIGINT) AS knee_d2,
           {pround_sql('SQRT(CAST(k.knee_d2 AS DOUBLE))')} AS suggested_eps
    -- LEFT JOIN: an empty k-distance curve (every point capped at tiny
    -- SF) still yields the totals row with NULL knee, matching Spark
    FROM nc LEFT JOIN knee k ON TRUE
"""


# --------------------------------------------------------------------------
# EPA NowCast rolling AQI (VERDICT r8 item 5).
# --------------------------------------------------------------------------

NOWCAST_HOURS = 12  # EPA NowCast window: the trailing 12 hourly means
NOWCAST_W_GRID = 64  # dyadic weight grid: w quantized to 1/64ths


def aqi_nowcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPA NowCast PM2.5 — the number a city dashboard actually
    publishes (the reference simulator computes only the INSTANTANEOUS
    AQI, ``air_quality_simulator.py:95``; NowCast is the published
    12-hour weighted average layered on the same breakpoint table).

    Algorithm (EPA NowCast for PM): per sensor, take the trailing 12
    hourly mean concentrations c_age (age 0 = the sensor's latest
    hour); weight factor w = clamp(min/max, [0.5, 1]); NowCast =
    sum(c_age * w^age) / sum(w^age) over the PRESENT hours. The EPA
    validity rule (>= 2 of the 3 most recent hours present) is
    surfaced as the ``eligible`` flag — the NowCast value itself is
    always defined because the age-0 hour always exists, and keeping
    every sensor's row (rather than NULLing ineligible ones) gives
    the dashboard its data-gap observability.

    Exactness: hourly means live on the integer cents grid (truncated
    division, identical in both engines) and the weight is quantized
    to the 1/64 DYADIC grid (wq = (min*64) div max, clamped to
    [32, 64]); every w^age term is then the exact integer
    wq^age * 64^(11-age) <= 64^11 ~ 7.4e19, summed in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) — numerator <= 12 * 64^11 * max_cents
    ~ 5e25, two orders inside both types. The final NowCast is one
    integral division back to cents, so both engines emit identical
    integers and the AQI/category branches (shared breakpoint CASE,
    ``functions/aqi.py``) cannot diverge.

    Scale shape: hourly pre-aggregation collapses the fact stream to
    one row per sensor-hour (map-side combinable); the trailing-12
    filter runs under a sensor-partitioned MAX window; the weight
    ratio is a second window over <= 12 rows per sensor. No joins, no
    driver state; at 100 TB the post-rollup working set is
    sensors x 12 rows."""
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.col("user_id").alias("sensor_id"),
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        )
        .groupBy("sensor_id", "hr")
        .agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("nr"))
        .withColumn("m", F.expr("s div nr"))
    )
    w_anchor = Window.partitionBy("sensor_id")
    aged = hourly.withColumn(
        "age", F.max("hr").over(w_anchor) - F.col("hr")
    ).filter(F.col("age") < NOWCAST_HOURS)
    win = (
        aged.withColumn("min_m", F.min("m").over(w_anchor))
        .withColumn("max_m", F.max("m").over(w_anchor))
        .withColumn("n_hours", F.count(F.lit(1)).over(w_anchor))
        .withColumn(
            "recent3",
            F.sum((F.col("age") <= 2).cast("long")).over(w_anchor),
        )
        .withColumn(
            "wq",
            F.when(F.col("max_m") <= 0, F.lit(NOWCAST_W_GRID)).otherwise(
                F.greatest(
                    F.expr(f"(min_m * {NOWCAST_W_GRID}) div max_m"),
                    F.lit(NOWCAST_W_GRID // 2),
                )
            ),
        )
    )
    d38 = "decimal(38,0)"
    wqd = F.col("wq").cast(d38)
    weight = None
    for a in range(NOWCAST_HOURS):
        term = F.expr(
            f"CAST('{NOWCAST_W_GRID ** (NOWCAST_HOURS - 1 - a)}'"
            f" AS DECIMAL(38,0))"
        )
        for _ in range(a):
            term = term * wqd
        cond = F.col("age") == a
        weight = F.when(cond, term) if weight is None else weight.when(cond, term)
    g = win.groupBy("sensor_id", "n_hours", "recent3", "wq").agg(
        F.sum(weight * F.col("m").cast(d38)).alias("nsum"),
        F.sum(weight).alias("dsum"),
    )
    nc = g.withColumn("ncents", F.expr("nsum div dsum"))
    pm = F.col("ncents").cast("double") / 100.0
    return nc.select(
        "sensor_id",
        "n_hours",
        F.col("wq").cast("long").alias("wq"),
        (F.col("recent3") >= 2).alias("eligible"),
        pround(pm).alias("nowcast_pm25"),
        aqi_value(pm).alias("nowcast_aqi"),
        aqi_category(pm).alias("nowcast_category"),
    )


QUERIES["aqi_nowcast"] = aqi_nowcast

_NOWCAST_CASE = " ".join(
    f"WHEN {a} THEN CAST('{NOWCAST_W_GRID ** (NOWCAST_HOURS - 1 - a)}'"
    f" AS HUGEINT)" + " * wq" * a
    for a in range(NOWCAST_HOURS)
)

ORACLES["aqi_nowcast"] = f"""
    WITH hourly AS (
        SELECT user_id AS sensor_id,
               epoch_us(ts) // 3600000000 AS hr,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS s,
               COUNT(*) AS nr
        FROM events GROUP BY 1, 2
    ),
    aged AS (
        SELECT sensor_id, s // nr AS m,
               MAX(hr) OVER (PARTITION BY sensor_id) - hr AS age
        FROM hourly
    ),
    win AS (SELECT * FROM aged WHERE age < {NOWCAST_HOURS}),
    stats AS (
        SELECT sensor_id,
               MIN(m) AS min_m, MAX(m) AS max_m,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(CASE WHEN age <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS recent3
        FROM win GROUP BY 1
    ),
    wgt AS (
        SELECT sensor_id, n_hours, recent3,
               CASE WHEN max_m <= 0 THEN {NOWCAST_W_GRID}
                    ELSE GREATEST((min_m * {NOWCAST_W_GRID}) // max_m,
                                  {NOWCAST_W_GRID // 2}) END AS wq
        FROM stats
    ),
    terms AS (
        SELECT w.sensor_id, s2.n_hours, s2.recent3, s2.wq,
               (CASE w.age {_NOWCAST_CASE} END) AS wgt_i, w.m
        FROM win w JOIN wgt s2 USING (sensor_id)
    ),
    g AS (
        SELECT sensor_id, n_hours, recent3, wq,
               (SUM(wgt_i * m) // SUM(wgt_i)) AS ncents
        FROM terms GROUP BY 1, 2, 3, 4
    )
    SELECT sensor_id, n_hours, CAST(wq AS BIGINT) AS wq,
           recent3 >= 2 AS eligible,
           {pround_sql('CAST(ncents AS DOUBLE) / 100.0')} AS nowcast_pm25,
           {aqi_value_sql('(CAST(ncents AS DOUBLE) / 100.0)')}
               AS nowcast_aqi,
           {aqi_category_sql('(CAST(ncents AS DOUBLE) / 100.0)')}
               AS nowcast_category
    FROM g
"""


# --------------------------------------------------------------------------
# Parking price elasticity what-if (VERDICT r8 item 6).
# --------------------------------------------------------------------------

PPE_MIN_N = 12  # below this the per-lot fit is noise


def parking_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does a price change do to occupancy? The reference's
    dynamic pricing prices ON occupancy
    (``parking_simulator.py:165-197``: rate = base * (1 + occ * 0.5));
    this operator answers the INVERSE question the pricing team asks
    before changing the schedule — a per-lot OLS regression of the
    NEXT occupancy move against the price-bucket transition that
    preceded it.

    Grid: occupancy lives on the sensor's raw 0..200 half-percent
    grid (clamped); the posted price is the simulator's rate in
    integer cents (250 + (250*occ) div 400, truncated like the
    posted tariff) bucketed to dimes. Observation i: x = dime-bucket
    move from the previous event, y = occupancy move to the NEXT
    event (lead), both integers — so the five Gauss moments are exact
    in DECIMAL(38,0)/HUGEINT and slope/R2 are single IEEE ops over
    identical integers (the ``ols_trend`` discipline).

    Scale shape: one lag/lead window partitioned by lot (high
    cardinality), one map-side-combinable moment aggregate; no join,
    no driver state. Lots with a degenerate design (all price moves
    equal, or fewer than ``PPE_MIN_N`` points) are excluded;
    zero-variance response reports R2 = NULL."""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        F.col("user_id").alias("lot_id"),
        "ts",
        "event_id",
        F.least(F.floor(F.col("value")).cast("long"), F.lit(200)).alias(
            "occ_b"
        ),
    ).withColumn("rate_c", F.lit(250) + F.expr("(250 * occ_b) div 400"))
    w = Window.partitionBy("lot_id").orderBy("ts", "event_id")
    pts = (
        base.withColumn("price_b", F.expr("rate_c div 10"))
        .withColumn("x", F.col("price_b") - F.lag("price_b").over(w))
        .withColumn("y", F.lead("occ_b").over(w) - F.col("occ_b"))
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    d38 = "decimal(38,0)"
    m = pts.groupBy("lot_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
        F.sum(F.col("rate_c").cast(d38)).alias("src"),
    )
    nd = F.col("n_obs").cast(d38)
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / dx  # occ grid units per dime bucket
    return (
        m.filter((F.col("n_obs") >= PPE_MIN_N) & (dx > 0))
        .select(
            "lot_id",
            "n_obs",
            pround(
                F.col("src").cast("double")
                / F.col("n_obs").cast("double")
                / 100.0
            ).alias("mean_rate"),
            # dime bucket -> dollars (x10), half-percent grid -> pct (/2)
            pround(slope * F.lit(5.0)).alias("occ_pct_per_dollar"),
            pround(F.when(dy > 0, (num * num) / (dx * dy))).alias("r2"),
        )
    )


QUERIES["parking_price_elasticity"] = parking_price_elasticity

ORACLES["parking_price_elasticity"] = f"""
    WITH base AS (
        SELECT user_id AS lot_id, ts, event_id,
               LEAST(CAST(FLOOR(value) AS BIGINT), 200) AS occ_b
        FROM events
    ),
    priced AS (
        SELECT *, (250 + (250 * occ_b) // 400) // 10 AS price_b,
               250 + (250 * occ_b) // 400 AS rate_c
        FROM base
    ),
    pts AS (
        SELECT lot_id, rate_c,
               price_b - LAG(price_b) OVER w AS x,
               LEAD(occ_b) OVER w - occ_b AS y
        FROM priced
        WINDOW w AS (PARTITION BY lot_id ORDER BY ts, event_id)
    ),
    m AS (
        SELECT lot_id,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
               SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
               SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
               SUM(CAST(rate_c AS HUGEINT)) AS src
        FROM pts WHERE x IS NOT NULL AND y IS NOT NULL
        GROUP BY 1
    ),
    d AS (
        SELECT lot_id, n_obs,
               CAST(CAST(n_obs AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS num,
               CAST(CAST(n_obs AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS dx,
               CAST(CAST(n_obs AS HUGEINT) * syy - sy * sy AS DOUBLE) AS dy,
               CAST(src AS DOUBLE) AS srcd
        FROM m
    )
    SELECT lot_id, n_obs,
           {pround_sql('srcd / CAST(n_obs AS DOUBLE) / 100.0')} AS mean_rate,
           {pround_sql('(num / dx) * 5.0')} AS occ_pct_per_dollar,
           {pround_sql(
               'CASE WHEN dy > 0 THEN (num * num) / (dx * dy) END'
           )} AS r2
    FROM d
    WHERE n_obs >= {PPE_MIN_N} AND dx > 0
"""


# --------------------------------------------------------------------------
# Difference-in-differences zone report (round 9).
# --------------------------------------------------------------------------


def did_zone_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the intervention in zone Z work? A difference-in-differences
    panel per zone: split the stream at the global time midpoint
    (pre/post), treat each zone as the treated unit against ALL OTHER
    zones as control, and report DiD = (Z_post − Z_pre) −
    (rest_post − rest_pre) — the standard causal read a city analyst
    runs after a congestion-pricing or signal-retiming change (the
    policy follow-up to ``zone_analytics``).

    Exactness: cents sums and cell counts are exact integers; the
    cutoff is the integer midpoint ``(min_us + max_us) DIV 2``; each
    mean is ONE IEEE division and DiD two subtractions — identical in
    both engines. Scale shape: one 1-row min/max aggregate broadcast
    onto the fact scan (the ``retention_filter`` class), one
    (zone, period) keyed aggregate — map-side combinable — then the
    rest-of-city cells come from window sums over the zone-bounded
    aggregate, never a second fact pass."""
    ev = table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.unix_micros(F.col("ts"))).alias("lo"),
        F.max(F.unix_micros(F.col("ts"))).alias("hi"),
    ).select(F.expr("(lo + hi) div 2").alias("cut_us"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cells = (
        ev.join(F.broadcast(span))
        .select(
            F.col("event_type").alias("zone"),
            (F.unix_micros(F.col("ts")) > F.col("cut_us")).alias("post"),
            cents.alias("c"),
        )
        .groupBy("zone", "post")
        .agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("post")
    wide = (
        cells.withColumn("s_all", F.sum("s").over(wp))
        .withColumn("n_all", F.sum("n").over(wp))
        .groupBy("zone")
        .agg(
            F.sum(F.when(~F.col("post"), F.col("n"))).alias("n_pre"),
            F.sum(F.when(F.col("post"), F.col("n"))).alias("n_post"),
            F.sum(F.when(~F.col("post"), F.col("s"))).alias("s_pre"),
            F.sum(F.when(F.col("post"), F.col("s"))).alias("s_post"),
            F.sum(F.when(~F.col("post"), F.col("s_all") - F.col("s"))).alias(
                "rs_pre"
            ),
            F.sum(F.when(F.col("post"), F.col("s_all") - F.col("s"))).alias(
                "rs_post"
            ),
            F.sum(F.when(~F.col("post"), F.col("n_all") - F.col("n"))).alias(
                "rn_pre"
            ),
            F.sum(F.when(F.col("post"), F.col("n_all") - F.col("n"))).alias(
                "rn_post"
            ),
        )
        .filter(
            (F.col("n_pre") > 0)
            & (F.col("n_post") > 0)
            & (F.col("rn_pre") > 0)
            & (F.col("rn_post") > 0)
        )
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n).cast("double") / 100.0  # noqa: E731
    did = (mean("s_post", "n_post") - mean("s_pre", "n_pre")) - (
        mean("rs_post", "rn_post") - mean("rs_pre", "rn_pre")
    )
    return wide.select(
        "zone",
        "n_pre",
        "n_post",
        pround(mean("s_pre", "n_pre")).alias("zone_pre_mean"),
        pround(mean("s_post", "n_post")).alias("zone_post_mean"),
        pround(mean("rs_pre", "rn_pre")).alias("rest_pre_mean"),
        pround(mean("rs_post", "rn_post")).alias("rest_post_mean"),
        pround(did).alias("did_estimate"),
    )


QUERIES["did_zone_report"] = did_zone_report

ORACLES["did_zone_report"] = f"""
    WITH span AS (
        SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS cut_us
        FROM events
    ),
    cells AS (
        SELECT event_type AS zone,
               epoch_us(ts) > (SELECT cut_us FROM span) AS post,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1, 2
    ),
    wins AS (
        SELECT zone, post, s, n,
               SUM(s) OVER (PARTITION BY post) AS s_all,
               SUM(n) OVER (PARTITION BY post) AS n_all
        FROM cells
    ),
    wide AS (
        SELECT zone,
               SUM(CASE WHEN NOT post THEN n END) AS n_pre,
               SUM(CASE WHEN post THEN n END) AS n_post,
               SUM(CASE WHEN NOT post THEN s END) AS s_pre,
               SUM(CASE WHEN post THEN s END) AS s_post,
               SUM(CASE WHEN NOT post THEN s_all - s END) AS rs_pre,
               SUM(CASE WHEN post THEN s_all - s END) AS rs_post,
               SUM(CASE WHEN NOT post THEN n_all - n END) AS rn_pre,
               SUM(CASE WHEN post THEN n_all - n END) AS rn_post
        FROM wins GROUP BY 1
    )
    SELECT zone,
           CAST(n_pre AS BIGINT) AS n_pre,
           CAST(n_post AS BIGINT) AS n_post,
           {pround_sql(
               'CAST(s_pre AS DOUBLE) / CAST(n_pre AS DOUBLE) / 100.0'
           )} AS zone_pre_mean,
           {pround_sql(
               'CAST(s_post AS DOUBLE) / CAST(n_post AS DOUBLE) / 100.0'
           )} AS zone_post_mean,
           {pround_sql(
               'CAST(rs_pre AS DOUBLE) / CAST(rn_pre AS DOUBLE) / 100.0'
           )} AS rest_pre_mean,
           {pround_sql(
               'CAST(rs_post AS DOUBLE) / CAST(rn_post AS DOUBLE) / 100.0'
           )} AS rest_post_mean,
           {pround_sql(
               '(CAST(s_post AS DOUBLE) / CAST(n_post AS DOUBLE) / 100.0'
               ' - CAST(s_pre AS DOUBLE) / CAST(n_pre AS DOUBLE) / 100.0)'
               ' - (CAST(rs_post AS DOUBLE) / CAST(rn_post AS DOUBLE) / 100.0'
               ' - CAST(rs_pre AS DOUBLE) / CAST(rn_pre AS DOUBLE) / 100.0)'
           )} AS did_estimate
    FROM wide
    WHERE n_pre > 0 AND n_post > 0 AND rn_pre > 0 AND rn_post > 0
"""


def nowcast_fold_py(
    hours: dict[int, tuple[int, int]],
) -> tuple[int, int, bool, int]:
    """Pure-python NowCast fold over per-hour (cents_sum, count) —
    the ONE transition the streaming twin (streaming/nowcast.py)
    advances, kept next to the batch operator so the integer
    recurrences cannot drift (the ``kalman_step`` discipline).
    Returns (n_hours, wq, eligible, nowcast_cents)."""
    anchor = max(hours)
    win = {
        anchor - h: s // n
        for h, (s, n) in hours.items()
        if anchor - h < NOWCAST_HOURS
    }
    mn, mx = min(win.values()), max(win.values())
    if mx <= 0:
        wq = NOWCAST_W_GRID
    else:
        wq = max((mn * NOWCAST_W_GRID) // mx, NOWCAST_W_GRID // 2)
    top = NOWCAST_HOURS - 1
    num = sum(
        m * wq**a * NOWCAST_W_GRID ** (top - a) for a, m in win.items()
    )
    den = sum(wq**a * NOWCAST_W_GRID ** (top - a) for a in win)
    recent3 = sum(1 for a in win if a <= 2)
    return len(win), wq, recent3 >= 2, num // den


# Getis-Ord G* significance threshold z0 = 1.96 = 49/25, so
# z^2 > z0^2  <=>  625 * num^2 * (M-1) > 2401 * a * b  in exact integers.
GSTAR_Z0_NUM2 = 2401  # 49^2
GSTAR_Z0_DEN2 = 625   # 25^2


def getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord G*_i hot-spot map over the 20x20 sensor grid — the
    OTHER standard local statistic next to the LISA quadrants
    (``local_morans_hotspots``): where Moran asks "is this cell LIKE
    its neighbors", G* asks "does this cell's NEIGHBORHOOD (self
    included) concentrate an unusually large or small share of the
    city-wide mass". A uniformly-high plateau is HH-but-not-G*-hot in
    the interior and G*-hot as a whole; the two maps disagree exactly
    where a dashboard needs both.

    Exactness: cell values are the shared integer means
    ``(sum_cents*128) DIV n``; with W_i = neighbors-present + self and
    nsum_i = their value sum, the z numerator is the exact integer
    ``num = nsum*M - sv*W`` and the hot/cold verdict cross-multiplies
    z^2 against 1.96^2 = 2401/625: hot iff ``num > 0 AND
    625*num^2*(M-1) > 2401*(M*svv - sv^2)*(M*W - W^2)`` — every term a
    DECIMAL(38,0)/HUGEINT integer (num <= ~2.6e13 at 128-scaled cents,
    num^2*625*M <= ~1e32), so no float boundary can flip a verdict.
    The reported z and G* share are the only float divisions (both
    spelled identically in Spark and the oracle, sqrt is IEEE
    correctly-rounded in both engines, then pround).

    Shape: the bounded morans_i_grid machinery verbatim — fact rollup
    to <=400 cells, one 4-offset equi-join (never a distance join),
    one cell-keyed neighbor aggregate, two 1-row broadcasts."""
    ev = table(spark, sf_dir, "events")
    cx = F.expr(f"((user_id * 8191) % 10000) DIV {MORAN_CELL}")
    cy = F.expr(f"((user_id * 524287) % 10000) DIV {MORAN_CELL}")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    cells = (
        ev.groupBy(cx.alias("cx"), cy.alias("cy"))
        .agg(F.sum(cents).alias("s"), F.count(F.lit(1)).alias("n"))
        .select("cx", "cy", F.expr("(s * 128) DIV n").alias("v"))
    )

    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    tot = cells.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("v").alias("sv"),
        F.sum(dec(F.col("v")) * dec(F.col("v"))).alias("svv"),
    )
    a = cells.select(
        "cx",
        "cy",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in ((0, 1), (0, -1), (1, 0), (-1, 0))
                ]
            )
        ).alias("o"),
    )
    b = cells.select(
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
        F.col("v").alias("vb"),
    )
    nb = (
        a.join(
            b,
            (F.col("bx") == F.col("cx") + F.col("o.dx"))
            & (F.col("by") == F.col("cy") + F.col("o.dy")),
        )
        .groupBy("cx", "cy")
        .agg(F.sum("vb").alias("nb_sum"), F.count(F.lit(1)).alias("n_nb"))
    )
    j = (
        cells.join(nb, ["cx", "cy"], "left")
        .select(
            "cx",
            "cy",
            "v",
            F.coalesce(F.col("n_nb"), F.lit(0).cast("long")).alias("n_nb"),
            (
                F.coalesce(F.col("nb_sum"), F.lit(0).cast("long")) + F.col("v")
            ).alias("nsum"),
        )
        .join(F.broadcast(tot))
    )
    w = F.col("n_nb") + 1
    num = dec(F.col("nsum")) * dec(F.col("m")) - dec(F.col("sv")) * dec(w)
    aa = dec(F.col("m")) * F.col("svv") - dec(F.col("sv")) * dec(F.col("sv"))
    bb = dec(F.col("m")) * dec(w) - dec(w) * dec(w)
    lhs = F.lit(GSTAR_Z0_DEN2).cast("decimal(38,0)") * num * num * dec(
        F.col("m") - 1
    )
    rhs = F.lit(GSTAR_Z0_NUM2).cast("decimal(38,0)") * aa * bb
    sig = lhs > rhs
    verdict = (
        F.when((num > 0) & sig, "hot")
        .when((num < 0) & sig, "cold")
        .otherwise("ns")
    )
    z = F.when(
        (aa > 0) & (bb > 0),
        num.cast("double")
        * F.sqrt(F.col("m").cast("double") - 1.0)
        / F.sqrt(aa.cast("double"))
        / F.sqrt(bb.cast("double")),
    )
    gi = F.when(
        F.col("sv") != 0,
        F.col("nsum").cast("double") / F.col("sv").cast("double"),
    )
    return j.select(
        "cx",
        "cy",
        pround(F.col("v").cast("double") / 12800.0).alias("cell_mean"),
        w.cast("long").alias("w_window"),
        pround(gi).alias("gi_share"),
        pround(z).alias("z_score"),
        verdict.alias("verdict"),
    )


QUERIES["getis_ord_hotspots"] = getis_ord_hotspots

ORACLES["getis_ord_hotspots"] = f"""
    WITH cells AS (
        SELECT ((user_id * 8191) % 10000) // {MORAN_CELL} AS cx,
               ((user_id * 524287) % 10000) // {MORAN_CELL} AS cy,
               (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                     AS BIGINT) * 128) // COUNT(*) AS v
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m,
               CAST(SUM(v) AS HUGEINT) AS sv,
               SUM(CAST(v AS HUGEINT) * v) AS svv
        FROM cells
    ),
    offs AS (
        SELECT * FROM (VALUES (0, 1), (0, -1), (1, 0), (-1, 0)) o(dx, dy)
    ),
    nb AS (
        SELECT a.cx, a.cy, SUM(b.v) AS nb_sum,
               CAST(COUNT(*) AS BIGINT) AS n_nb
        FROM cells a
        CROSS JOIN offs o
        JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
        GROUP BY 1, 2
    ),
    j AS (
        SELECT c.cx, c.cy, c.v,
               COALESCE(n.n_nb, 0) AS n_nb,
               CAST(COALESCE(n.nb_sum, 0) + c.v AS HUGEINT) AS nsum,
               t.m, t.sv, t.svv,
               CAST(COALESCE(n.n_nb, 0) + 1 AS HUGEINT) AS w
        FROM cells c
        LEFT JOIN nb n ON n.cx = c.cx AND n.cy = c.cy
        CROSS JOIN tot t
    ),
    terms AS (
        SELECT cx, cy, v, n_nb, nsum, m, sv, w,
               nsum * m - sv * w AS num,
               m * svv - sv * sv AS aa,
               m * w - w * w AS bb
        FROM j
    )
    SELECT cx, cy,
           {pround_sql('CAST(v AS DOUBLE) / 12800.0')} AS cell_mean,
           CAST(w AS BIGINT) AS w_window,
           CASE WHEN sv <> 0 THEN {pround_sql(
               'CAST(nsum AS DOUBLE) / CAST(sv AS DOUBLE)'
           )} END AS gi_share,
           CASE WHEN aa > 0 AND bb > 0 THEN {pround_sql(
               'CAST(num AS DOUBLE) * sqrt(CAST(m AS DOUBLE) - 1.0)'
               ' / sqrt(CAST(aa AS DOUBLE)) / sqrt(CAST(bb AS DOUBLE))'
           )} END AS z_score,
           CASE WHEN num > 0 AND {GSTAR_Z0_DEN2} * num * num * (m - 1)
                     > {GSTAR_Z0_NUM2} * aa * bb THEN 'hot'
                WHEN num < 0 AND {GSTAR_Z0_DEN2} * num * num * (m - 1)
                     > {GSTAR_Z0_NUM2} * aa * bb THEN 'cold'
                ELSE 'ns' END AS verdict
    FROM terms
"""


KNOX_MINUTES = 60      # time-proximity window (minute grid)
KNOX_BLOCK = KNOX_MINUTES + 1  # equi-join block: |dm|<=60 spans <=2 blocks


def knox_spacetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox space-time interaction test — do events cluster in space
    AND time TOGETHER (an incident signature: a crash surges nearby
    sensors for the next hour) beyond what the marginal spatial and
    temporal clusterings explain? Knox (1964): compare the count of
    event pairs close in BOTH dimensions against the independence
    expectation ``N_s·N_t / C(n,2)``.

    Proximity is exact on the engine's grids: spatial = same or
    rook-adjacent 500-unit cell (the morans/dbscan layout), temporal =
    |Δminute| ≤ 60 on the minute grid. All three pair counts are
    computed from KEYED ROLLUPS, never event-level self-joins: ordered
    pair mass Σ c_a·c_b over (cell, minute-block) equi-joins — the
    |Δm| ≤ 60 predicate spans at most TWO 61-minute blocks, so a
    3-literal block-offset explode makes the time dimension an
    EQUI-join too (no range join, no unpartitioned window, no
    BNLJ); unordered counts are (ordered − n)/2 exactly. Counts are
    exact BIGINT/DECIMAL(38,0); the Knox ratio and its >1 verdict are
    the only doubles (identical spelling in the oracle).

    Shape: one fact rollup to (cell × minute) (map-side combinable),
    three bounded equi-joins on rollups (15/3/5 offset copies), three
    1-row aggregates joined by broadcast."""
    ev = table(spark, sf_dir, "events")
    cxe = F.expr(f"((user_id * 8191) % 10000) DIV {MORAN_CELL}")
    cye = F.expr(f"((user_id * 524287) % 10000) DIV {MORAN_CELL}")
    minute = F.expr("unix_timestamp(ts) DIV 60")
    st = ev.groupBy(
        cxe.alias("cx"), cye.alias("cy"), minute.alias("m")
    ).agg(F.count(F.lit(1)).alias("c"))

    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    rook5 = [(0, 0), (0, 1), (0, -1), (1, 0), (-1, 0)]
    # --- pairs close in BOTH: (cell-offset, block-offset) equi-join
    a_st = st.select(
        "cx",
        "cy",
        "m",
        F.col("c").alias("ca"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dx).alias("dx"),
                        F.lit(dy).alias("dy"),
                        F.lit(db).alias("db"),
                    )
                    for dx, dy in rook5
                    for db in (-1, 0, 1)
                ]
            )
        ).alias("o"),
    )
    b_st = st.select(
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
        F.col("m").alias("bm"),
        F.col("c").alias("cb"),
    )
    p_st = (
        a_st.join(
            b_st,
            (F.col("bx") == F.col("cx") + F.col("o.dx"))
            & (F.col("by") == F.col("cy") + F.col("o.dy"))
            & (
                F.expr(f"bm DIV {KNOX_BLOCK}")
                == F.expr(f"m DIV {KNOX_BLOCK}") + F.col("o.db")
            ),
        )
        .filter(F.abs(F.col("bm") - F.col("m")) <= KNOX_MINUTES)
        .agg(F.sum(dec(F.col("ca")) * dec(F.col("cb"))).alias("p_st"))
    )
    # --- pairs close in time only: minute rollup, block equi-join
    mt = st.groupBy("m").agg(F.sum("c").alias("c"))
    a_t = mt.select(
        "m",
        F.col("c").alias("ca"),
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("db"),
    )
    b_t = mt.select(F.col("m").alias("bm"), F.col("c").alias("cb"))
    p_t = (
        a_t.join(
            b_t,
            F.expr(f"bm DIV {KNOX_BLOCK}")
            == F.expr(f"m DIV {KNOX_BLOCK}") + F.col("db"),
        )
        .filter(F.abs(F.col("bm") - F.col("m")) <= KNOX_MINUTES)
        .agg(F.sum(dec(F.col("ca")) * dec(F.col("cb"))).alias("p_t"))
    )
    # --- pairs close in space only: cell rollup, rook-5 equi-join
    ct = st.groupBy("cx", "cy").agg(F.sum("c").alias("c"))
    a_s = ct.select(
        "cx",
        "cy",
        F.col("c").alias("ca"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in rook5
                ]
            )
        ).alias("o"),
    )
    b_s = ct.select(
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
        F.col("c").alias("cb"),
    )
    p_s = a_s.join(
        b_s,
        (F.col("bx") == F.col("cx") + F.col("o.dx"))
        & (F.col("by") == F.col("cy") + F.col("o.dy")),
    ).agg(F.sum(dec(F.col("ca")) * dec(F.col("cb"))).alias("p_s"))
    tot = ev.agg(F.count(F.lit(1)).alias("n"))
    j = (
        tot.join(F.broadcast(p_st))
        .join(F.broadcast(p_t))
        .join(F.broadcast(p_s))
    )
    nn = dec(F.col("n"))
    x_both = (F.col("p_st") - nn) / 2
    n_s = (F.col("p_s") - nn) / 2
    n_t = (F.col("p_t") - nn) / 2
    ratio = F.when(
        (n_s > 0) & (n_t > 0),
        x_both.cast("double")
        * F.col("n").cast("double")
        * (F.col("n").cast("double") - 1.0)
        / 2.0
        / (n_s.cast("double") * n_t.cast("double")),
    )
    return j.select(
        F.col("n").cast("long").alias("n_events"),
        n_s.cast("decimal(38,0)").cast("long").alias("close_space_pairs"),
        n_t.cast("decimal(38,0)").cast("long").alias("close_time_pairs"),
        x_both.cast("decimal(38,0)").cast("long").alias("close_both_pairs"),
        pround(ratio).alias("knox_ratio"),
        F.coalesce(ratio > 1.0, F.lit(False)).alias("interaction"),
    )


QUERIES["knox_spacetime"] = knox_spacetime

ORACLES["knox_spacetime"] = f"""
    WITH st AS (
        SELECT ((user_id * 8191) % 10000) // {MORAN_CELL} AS cx,
               ((user_id * 524287) % 10000) // {MORAN_CELL} AS cy,
               CAST(floor(epoch(ts)) AS BIGINT) // 60 AS m,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    rook AS (
        SELECT * FROM (VALUES (0,0),(0,1),(0,-1),(1,0),(-1,0)) o(dx, dy)
    ),
    blocks AS (SELECT * FROM (VALUES (-1),(0),(1)) b(db)),
    p_st AS (
        SELECT SUM(CAST(a.c AS HUGEINT) * b.c) AS p_st
        FROM st a CROSS JOIN rook o CROSS JOIN blocks k
        JOIN st b
          ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
         AND b.m // {KNOX_BLOCK} = a.m // {KNOX_BLOCK} + k.db
        WHERE abs(b.m - a.m) <= {KNOX_MINUTES}
    ),
    mt AS (SELECT m, CAST(SUM(c) AS BIGINT) AS c FROM st GROUP BY 1),
    p_t AS (
        SELECT SUM(CAST(a.c AS HUGEINT) * b.c) AS p_t
        FROM mt a CROSS JOIN blocks k
        JOIN mt b ON b.m // {KNOX_BLOCK} = a.m // {KNOX_BLOCK} + k.db
        WHERE abs(b.m - a.m) <= {KNOX_MINUTES}
    ),
    ct AS (
        SELECT cx, cy, CAST(SUM(c) AS BIGINT) AS c FROM st GROUP BY 1, 2
    ),
    p_s AS (
        SELECT SUM(CAST(a.c AS HUGEINT) * b.c) AS p_s
        FROM ct a CROSS JOIN rook o
        JOIN ct b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
    ),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM events)
    SELECT CAST(t.n AS BIGINT) AS n_events,
           CAST((s.p_s - t.n) // 2 AS BIGINT) AS close_space_pairs,
           CAST((m2.p_t - t.n) // 2 AS BIGINT) AS close_time_pairs,
           CAST((b2.p_st - t.n) // 2 AS BIGINT) AS close_both_pairs,
           CASE WHEN (s.p_s - t.n) // 2 > 0 AND (m2.p_t - t.n) // 2 > 0
                THEN {pround_sql(
                    'CAST((b2.p_st - t.n) // 2 AS DOUBLE)'
                    ' * CAST(t.n AS DOUBLE)'
                    ' * (CAST(t.n AS DOUBLE) - 1.0) / 2.0'
                    ' / (CAST((s.p_s - t.n) // 2 AS DOUBLE)'
                    '    * CAST((m2.p_t - t.n) // 2 AS DOUBLE))'
                )} END AS knox_ratio,
           COALESCE(
               CASE WHEN (s.p_s - t.n) // 2 > 0 AND (m2.p_t - t.n) // 2 > 0
                    THEN CAST((b2.p_st - t.n) // 2 AS DOUBLE)
                         * CAST(t.n AS DOUBLE)
                         * (CAST(t.n AS DOUBLE) - 1.0) / 2.0
                         / (CAST((s.p_s - t.n) // 2 AS DOUBLE)
                            * CAST((m2.p_t - t.n) // 2 AS DOUBLE)) > 1.0
                    END, FALSE) AS interaction
    FROM tot t CROSS JOIN p_st b2 CROSS JOIN p_t m2 CROSS JOIN p_s s
"""


THETA_K = 64           # KMV sketch size (k smallest hash values)
THETA_MAX = 1 << 60    # md5_long is 15 hex digits = 60 bits


def theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which zones share SENSORS — estimated from mergeable KMV (theta)
    sketches and audited against the exact answer. HLL (the repo's
    `hll_distinct_report` family) unions but cannot INTERSECT;
    KMV/theta sketches can: keep each zone's K smallest sensor-id
    hashes, then |A∩B| ≈ c·M/θ_min where θ_min is the smaller of the
    two K-th-smallest thresholds and c counts common hashes below it.
    This entry reports, per zone pair, the sketch estimate NEXT TO the
    exact overlap (the cms_error_report audit discipline) — the
    measured-error table a team reads before trusting 64-hash sketches
    at 100 TB where the exact pair join is the thing being avoided.

    Determinism/exactness: the hash is the engine's shared 60-bit
    md5_long, the sketch is "K smallest distinct values" (a pure
    rank-pick — no randomness), c and the exact overlap are integers;
    an UNSATURATED zone (fewer than K sensors) has θ = M and its
    estimates collapse to exact counts by construction. The only float
    is the estimate's one division, spelled identically in the oracle.

    Shape: one distinct (zone, sensor) rollup, one zone-keyed rank
    window (spillable sort; only K rows survive per zone), a ≤K·zones
    sketch pair join on the hash value, and a sensor-keyed exact pair
    join (each sensor contributes its own zone-pair square, never a
    global product)."""
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    ev = table(spark, sf_dir, "events")
    du = (
        ev.select(F.col("event_type").alias("zone"), "user_id")
        .distinct()
        .select(
            "zone",
            "user_id",
            md5_long(F.concat(F.lit("theta:"), F.col("user_id").cast("string")))
            .alias("h"),
        )
    )
    wz = Window.partitionBy("zone").orderBy("h")
    ranked = du.select(
        "zone", "h", F.row_number().over(wz).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("zone")).alias("nz"),
    )
    sketch = ranked.filter(F.col("rk") <= THETA_K)
    theta = sketch.groupBy("zone").agg(
        F.when(F.max("nz") >= THETA_K, F.max("h"))
        .otherwise(F.lit(THETA_MAX))
        .alias("theta"),
        F.max("nz").alias("n_distinct"),
    )
    sa = sketch.select(F.col("zone").alias("zone_a"), "h")
    sb = sketch.select(F.col("zone").alias("zone_b"), "h")
    common = (
        sa.join(sb, "h")
        .filter(F.col("zone_a") < F.col("zone_b"))
        .join(
            theta.select(F.col("zone").alias("zone_a"), F.col("theta").alias("ta")),
            "zone_a",
        )
        .join(
            theta.select(F.col("zone").alias("zone_b"), F.col("theta").alias("tb")),
            "zone_b",
        )
        .filter(F.col("h") < F.least(F.col("ta"), F.col("tb")))
        .groupBy("zone_a", "zone_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.min(F.least(F.col("ta"), F.col("tb"))).alias("theta_min"),
        )
    )
    exact = (
        du.select(F.col("zone").alias("zone_a"), "user_id")
        .join(du.select(F.col("zone").alias("zone_b"), "user_id"), "user_id")
        .filter(F.col("zone_a") < F.col("zone_b"))
        .groupBy("zone_a", "zone_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    j = exact.join(common, ["zone_a", "zone_b"], "left")
    est = F.when(
        F.col("c").isNotNull(),
        F.col("c").cast("double")
        * (F.lit(float(THETA_MAX)) / F.col("theta_min").cast("double")),
    ).otherwise(F.lit(0.0))
    return j.select(
        "zone_a",
        "zone_b",
        F.coalesce(F.col("c"), F.lit(0).cast("bigint")).alias(
            "n_common_sketch"
        ),
        "exact_overlap",
        pround(est).alias("est_overlap"),
        pround(
            F.abs(est - F.col("exact_overlap").cast("double"))
            / F.col("exact_overlap").cast("double")
        ).alias("rel_error"),
    )


QUERIES["theta_sketch_overlap"] = theta_sketch_overlap

from smart_city_data_pipeline_spark.functions.hashing import (  # noqa: E402
    md5_long_sql as _md5_sql_theta,
)

ORACLES["theta_sketch_overlap"] = f"""
    WITH du AS (
        SELECT DISTINCT event_type AS zone, user_id
        FROM events
    ),
    hashed AS (
        SELECT zone, user_id,
               {_md5_sql_theta("'theta:' || CAST(user_id AS VARCHAR)")} AS h
        FROM du
    ),
    ranked AS (
        SELECT zone, h,
               row_number() OVER (PARTITION BY zone ORDER BY h) AS rk,
               COUNT(*) OVER (PARTITION BY zone) AS nz
        FROM hashed
    ),
    sketch AS (SELECT * FROM ranked WHERE rk <= {THETA_K}),
    theta AS (
        SELECT zone,
               CASE WHEN MAX(nz) >= {THETA_K} THEN MAX(h)
                    ELSE {THETA_MAX} END AS theta
        FROM sketch GROUP BY 1
    ),
    common AS (
        SELECT a.zone AS zone_a, b.zone AS zone_b,
               CAST(COUNT(*) AS BIGINT) AS c,
               MIN(LEAST(ta.theta, tb.theta)) AS theta_min
        FROM sketch a
        JOIN sketch b ON b.h = a.h AND a.zone < b.zone
        JOIN theta ta ON ta.zone = a.zone
        JOIN theta tb ON tb.zone = b.zone
        WHERE a.h < LEAST(ta.theta, tb.theta)
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT a.zone AS zone_a, b.zone AS zone_b,
               CAST(COUNT(*) AS BIGINT) AS exact_overlap
        FROM du a JOIN du b ON b.user_id = a.user_id AND a.zone < b.zone
        GROUP BY 1, 2
    )
    SELECT e.zone_a, e.zone_b,
           COALESCE(c.c, 0) AS n_common_sketch,
           e.exact_overlap,
           {pround_sql(
               'CASE WHEN c.c IS NOT NULL THEN CAST(c.c AS DOUBLE)'
               f' * ({float(THETA_MAX)!r} / CAST(c.theta_min AS DOUBLE))'
               ' ELSE 0.0 END'
           )} AS est_overlap,
           {pround_sql(
               'abs((CASE WHEN c.c IS NOT NULL THEN CAST(c.c AS DOUBLE)'
               f' * ({float(THETA_MAX)!r} / CAST(c.theta_min AS DOUBLE))'
               ' ELSE 0.0 END) - CAST(e.exact_overlap AS DOUBLE))'
               ' / CAST(e.exact_overlap AS DOUBLE)'
           )} AS rel_error
    FROM exact e
    LEFT JOIN common c ON c.zone_a = e.zone_a AND c.zone_b = e.zone_b
"""
