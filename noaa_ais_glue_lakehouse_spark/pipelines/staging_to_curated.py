"""Staging→curated trajectory pipeline with incremental / recompute /
full modes (SURVEY §2.9 T1-T3, §3.2).

The computational core is ``compute_trajectory``: seeded gap
sessionization (the reference's voyage segmentation,
``transformations/facts/fact_voyage_trajectory.py:108-168``) + segment
haversine + geohash + movement state, all native column expressions.
``run_trajectory_window`` is the day-windowed runner that seeds from the
prior day's state snapshot so voyages crossing the window boundary keep
their ids — the reference's hardest invariant
(``fact_voyage_trajectory.py:310-332``, verified in
``tests/test_pipelines.py`` incremental-vs-full equality).

Scale notes: one shuffle on the entity key covers lag + prefix-sum +
seed propagation (same window partitioning); the window filter prunes
partitions at the scan; the state snapshot is |entities| rows, tiny.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.functions.spatial import geohash_expr, haversine_km
from noaa_ais_glue_lakehouse_spark.operators.cleaning import add_movement_state
from noaa_ais_glue_lakehouse_spark.operators.sampling import (
    recompute_segment_distance,
    sample_trajectory,
)
from noaa_ais_glue_lakehouse_spark.operators.sessionize import (
    latest_per_entity,
    sessionize,
)
from noaa_ais_glue_lakehouse_spark.operators.state import prepare_seeded_union
from noaa_ais_glue_lakehouse_spark.sources.readers import empty_frame
from noaa_ais_glue_lakehouse_spark.sources.writers import (
    read_state_snapshot_by_date,
    write_partitioned_parquet,
    write_state_snapshot,
)

GAP_SECONDS = 3 * 3600  # reference voyage gap rule: >3h starts a new voyage


def compute_trajectory(
    df: DataFrame,
    entity_col: str = "MMSI",
    ts_col: str = "BaseDateTime",
    lat_col: str = "LAT",
    lon_col: str = "LON",
    sog_col: str = "SOG",
    seed_col: str | None = None,
    gap_seconds: float = GAP_SECONDS,
) -> DataFrame:
    """Voyage ids + per-segment distance + geohash + movement state.

    Mirrors ``fact_voyage_trajectory.py:108-168``; geohash is the native
    expression (no UDF) and distances come from the same lag window that
    sessionization uses — one entity-key shuffle total.
    """
    out = sessionize(
        df,
        entity_col,
        ts_col,
        gap_seconds,
        session_col="VoyageID",
        seed_col=seed_col,
    )
    from pyspark.sql import Window

    w = Window.partitionBy(entity_col).orderBy(ts_col)
    prev_lat, prev_lon = F.lag(lat_col).over(w), F.lag(lon_col).over(w)
    out = out.withColumn(
        "SegmentDistanceKM",
        haversine_km(prev_lat, prev_lon, F.col(lat_col), F.col(lon_col)),
    )
    out = out.withColumn(
        "GeoHash", geohash_expr(F.col(lat_col), F.col(lon_col), 6)
    )
    out = add_movement_state(out, sog_col=sog_col)
    return out


def run_trajectory_window(
    spark: SparkSession,
    staging_path: str,
    curated_path: str,
    state_prefix: str,
    start_date: str,
    end_date: str,
    mode: str = "incremental",
    sample: bool = True,
) -> DataFrame:
    """T1/T3 — run one [start_date, end_date] window of the trajectory job.

    - ``incremental``: seed voyage ids from the ``start_date - 1 day``
      state snapshot (first run falls back to empty → ids start at 0).
    - ``recompute``: identical flow; the caller picks an older window to
      rebuild corrupted days — snapshots are dated, so the seed is
      whatever snapshot precedes the window (``docs/05`` semantics).
    - ``full``: ignore state, recompute from scratch.

    Writes the curated window partitioned by year/month/day (dynamic
    overwrite → only the window's partitions are replaced), then
    refreshes the ``end_date`` state snapshot (reference
    ``fact_voyage_trajectory.py:359-364``) from the window it just wrote,
    read back rather than recomputed: sampling always keeps each entity's
    last row per day unchanged, so the snapshot equals one built from the
    unsampled trajectory.
    """
    from noaa_ais_glue_lakehouse_spark.schemas import STATE_SNAPSHOT_SCHEMA

    start = dt.date.fromisoformat(start_date)
    end = dt.date.fromisoformat(end_date)
    lo = dt.datetime.combine(start, dt.time.min)
    hi = dt.datetime.combine(end + dt.timedelta(days=1), dt.time.min)

    staging = spark.read.parquet(staging_path).filter(
        (F.col("BaseDateTime") >= F.lit(lo)) & (F.col("BaseDateTime") < F.lit(hi))
    )

    seed_col = None
    base = staging
    prior_state = None
    if mode in ("incremental", "recompute"):
        seed_date = (start - dt.timedelta(days=1)).isoformat()
        prior_state = read_state_snapshot_by_date(
            spark, state_prefix, seed_date, STATE_SNAPSHOT_SCHEMA
        )
        base = prepare_seeded_union(
            prior_state, staging, session_col="VoyageID", seed_col="SeedVoyageID"
        )
        seed_col = "SeedVoyageID"

    curated = compute_trajectory(base, seed_col=seed_col)
    if seed_col is not None:
        curated = curated.filter(~F.col("is_seed")).drop(
            "is_seed", "SeedVoyageID"
        )

    curated = (
        curated.withColumn("year", F.year("BaseDateTime"))
        .withColumn("month", F.month("BaseDateTime"))
        .withColumn("day", F.dayofmonth("BaseDateTime"))
    )

    out = curated
    if sample:
        out = sample_trajectory(
            curated,
            entity_col="MMSI",
            ts_col="BaseDateTime",
            session_col="VoyageID",
            speed_col="SOG",
            day_col="day",
        )
        out = recompute_segment_distance(
            out, "MMSI", "BaseDateTime", "LAT", "LON"
        )

    written = write_partitioned_parquet(out, curated_path, ["year", "month", "day"])
    # state = each entity's last row of the window, which sampling always
    # keeps unchanged: read back exactly the partitions just published
    # instead of running scan + sessionize + windows a second time. MERGED
    # with the prior snapshot: an entity silent this window keeps its
    # last-known row, otherwise its voyage counter would restart at 0 on
    # reappearance and collide with its historical voyage ids
    window = (
        spark.read.schema(out.schema).option("basePath", curated_path).parquet(*written)
        if written
        else empty_frame(spark, out.schema)
    )
    new_state = latest_per_entity(window, "MMSI", "BaseDateTime").select(
        "MMSI", "BaseDateTime", "LAT", "LON", "VoyageID"
    )
    if prior_state is not None:
        new_state = latest_per_entity(
            new_state.unionByName(prior_state), "MMSI", "BaseDateTime"
        )
    write_state_snapshot(new_state, state_prefix, end_date)
    return out


def run_voyage_summary_monthly(
    spark: SparkSession,
    curated_path: str,
    partials_path: str,
    summary_path: str,
    month: str,
) -> DataFrame:
    """T5 end-to-end — daily partials for ``month`` (YYYY-MM) + monthly
    rebuild, mirroring ``pipelines/voyage_summary_monthly.py`` →
    ``fact_voyage_daily`` / ``fact_monthly_summary``.

    The month's partials are (re)written partitioned by day (dynamic
    overwrite = embarrassingly rerunnable). The final rollup aggregates
    the *full* partials table once per (mmsi, voyageid), so month-spanning
    voyages aggregate over their complete history; the same groupBy also
    flags the voyages seen this month, and a left-semi join on their start
    dates picks the voyages to rewrite. It then writes one row per voyage
    partitioned by voyagestartdate.
    """
    curated = spark.read.parquet(curated_path).filter(
        F.date_format("BaseDateTime", "yyyy-MM") == month
    )
    partials = voyage_daily_partials(curated)
    write_partitioned_parquet(partials, partials_path, ["day"])

    # The write below dynamically overwrites every voyagestartdate partition
    # this month's voyages start on. Other voyages starting on those same
    # dates (touched by earlier/later months) would be deleted with the
    # partition unless they are recomputed too — so keep every voyage that
    # starts on the start date of a voyage seen this month.
    rolled = monthly_voyage_summary(
        spark.read.schema(partials.schema).parquet(partials_path),
        F.bool_or(F.substring("day", 1, 7) == month).alias("_seen"),
    )
    affected = rolled.filter("_seen").select(F.col("voyagestartdate").alias("_start"))
    summary = rolled.join(
        affected, F.col("voyagestartdate") == F.col("_start"), "left_semi"
    ).drop("_seen")
    write_partitioned_parquet(summary, summary_path, ["voyagestartdate"])
    return summary


def voyage_daily_partials(df: DataFrame) -> DataFrame:
    """T5/A1 — per-(mmsi, voyageid, day) partial aggregates.

    Reference: ``transformations/facts/fact_voyage_daily.py:108-135``.
    Map-side-combinable hash aggregation; the 'day' string key matches
    the reference's YYYY-MM-DD grain.
    """
    return (
        df.select(
            F.col("MMSI").alias("mmsi"),
            F.col("VoyageID").alias("voyageid"),
            F.date_format("BaseDateTime", "yyyy-MM-dd").alias("day"),
            F.col("BaseDateTime").alias("t"),
            F.col("SegmentDistanceKM").alias("dist"),
            F.col("SOG").alias("sog"),
            F.col("LAT").alias("lat"),
            F.col("LON").alias("lon"),
        )
        .groupBy("mmsi", "voyageid", "day")
        .agg(
            F.min("t").alias("day_first_time"),
            F.max("t").alias("day_last_time"),
            F.sum("dist").alias("day_distance_km"),
            F.sum("sog").alias("day_sum_sog"),
            F.count(F.lit(1)).alias("day_pointcount"),
            F.sum("lat").alias("day_sum_lat"),
            F.sum("lon").alias("day_sum_lon"),
        )
    )


def monthly_voyage_summary(partials: DataFrame, *extra_aggs) -> DataFrame:
    """T5/A2-A4 — roll daily partials up to one row per (mmsi, voyageid).

    Sum-of-sums / min-of-mins decomposition plus derived metrics,
    mirroring ``transformations/facts/fact_monthly_summary.py:79-136``.
    ``extra_aggs`` ride the same groupBy and trail the output columns.
    """
    rolled = partials.groupBy("mmsi", "voyageid").agg(
        F.min("day_first_time").alias("voyagestart"),
        F.max("day_last_time").alias("voyageend"),
        F.sum("day_distance_km").alias("totaldistancekm"),
        F.sum("day_sum_sog").alias("sum_sog"),
        F.sum("day_pointcount").alias("pointcount"),
        F.sum("day_sum_lat").alias("sum_lat"),
        F.sum("day_sum_lon").alias("sum_lon"),
        *extra_aggs,
    )
    dur_h = (
        F.unix_timestamp("voyageend") - F.unix_timestamp("voyagestart")
    ) / 3600.0
    return rolled.select(
        "mmsi",
        "voyageid",
        "voyagestart",
        "voyageend",
        F.round(dur_h, 6).alias("duration_hours"),
        F.round("totaldistancekm", 6).alias("totaldistancekm"),
        F.round(
            F.when(dur_h > 0, F.col("totaldistancekm") / dur_h), 6
        ).alias("avgspeed"),
        F.round(F.col("sum_lat") / F.col("pointcount"), 6).alias("avglat"),
        F.round(F.col("sum_lon") / F.col("pointcount"), 6).alias("avglon"),
        "pointcount",
        F.to_date("voyagestart").alias("voyagestartdate"),
        *rolled.columns[9:],  # extra_aggs: after the 2 keys and 7 rollups
    )
