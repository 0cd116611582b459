"""GTFS static-timetable ingest (reference src/01_ingest_gtfs.py).

agency ⟕ routes (J1) → case-insensitive operator filter (P3) →
semi-join cascade routes→trips→stop_times→stops (J2) → exact dedupe
(A1) → feed_version-partitioned warehouse overwrite (K4).

The cascade order is also the correctness order (each stage's keys
come from the previous subset), so the cascade runs over the tables
just written: each step semi-joins against this feed's partition of
the warehouse table the step before it wrote, read with its declared
schema (the reference re-reads its silver shards the same way,
01:177,198,222). Every plan runs once -- its write -- and never
recomputes the upstream CSV scans and joins. Every build side is a
small dim so Spark broadcasts; there is no shuffle until each write's
dedupe.
"""

from __future__ import annotations

import csv
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tpg_weather_etl_spark.schemas import (
    GTFS_OPTIONAL_DEFAULTS,
    GTFS_REQUIRED,
    GTFS_ROUTES,
    GTFS_STOP_TIMES,
    GTFS_TRIPS,
)
from tpg_weather_etl_spark.sources.readers import ensure_columns, read_gtfs_csv
from tpg_weather_etl_spark.sources.staging import (
    read_csv_from_zip_member,
)
from tpg_weather_etl_spark.sources.writers import replace_partitions

DEFAULT_OPERATOR_PATTERN = "Transports Publics Genevois"


def detect_feed_version(staged: dict[str, Path], zip_stem: str) -> str:
    """feed_info.txt[feed_version] of the first data row, else the
    filename-stem fallback (F21, ref 01:90-112). Parsed on the driver:
    the staged file is local and one row is all that is needed."""
    if "feed_info" in staged:
        with open(staged["feed_info"], encoding="utf-8-sig",
                  errors="replace", newline="") as fh:
            row = next(csv.DictReader(fh), None)
        if row and row.get("feed_version"):
            return row["feed_version"]
    return zip_stem.rsplit("_", 1)[-1] if "_" in zip_stem else zip_stem


def ingest_gtfs(
    spark: SparkSession,
    gtfs_zip: str | Path,
    staging_dir: str | Path,
    warehouse_dir: str | Path,
    operator_pattern: str = DEFAULT_OPERATOR_PATTERN,
) -> dict[str, int]:
    """Full GTFS pipeline; returns ``{warehouse table: rows written}``
    for gtfs_routes, gtfs_trips, gtfs_stop_times and gtfs_stops."""
    gtfs_zip, staging_dir = Path(gtfs_zip), Path(staging_dir)
    members = ["agency.txt", "routes.txt", "trips.txt",
               "stop_times.txt", "stops.txt", "feed_info.txt"]
    staged: dict[str, Path] = {}
    for m in members:
        try:
            staged[m.removesuffix(".txt")] = read_csv_from_zip_member(
                gtfs_zip, m, staging_dir)
        except OSError:
            continue  # empty-DF-if-missing (ref S1, 01:32-57)

    feed_version = detect_feed_version(staged, gtfs_zip.stem)
    fv = F.lit(feed_version)

    def gtfs(member: str) -> DataFrame:
        return ensure_columns(read_gtfs_csv(spark, staged[member]),
                              GTFS_REQUIRED[member],
                              GTFS_OPTIONAL_DEFAULTS.get(member, ()))

    def write(name: str, df: DataFrame) -> int:
        return replace_partitions(df.dropDuplicates()
                                  .withColumn("feed_version", fv),
                                  Path(warehouse_dir) / name, "feed_version")

    def written(name: str, schema: T.StructType) -> DataFrame:
        """This feed's partition of a warehouse table written above."""
        return (spark.read.schema(schema)
                .parquet(str(Path(warehouse_dir) / name))
                .filter(F.col("feed_version") == fv))

    agency = gtfs("agency")
    # J1: routes ⟕ agency, rename agency_name → operator_name (01:147-150)
    routes = (
        gtfs("routes").join(
            F.broadcast(agency.select("agency_id",
                                      F.col("agency_name").alias("operator_name"))),
            "agency_id", "left")
    )
    # P3: case-insensitive substring operator filter (01:152-155)
    routes = routes.filter(
        F.lower(F.coalesce(F.col("operator_name"), F.lit("")))
        .contains(operator_pattern.lower())
    )

    # J2 cascade: each table restricted to the subset written upstream
    counts = {"gtfs_routes": write("gtfs_routes", routes.select(
        "route_id", "route_short_name", "route_long_name",
        F.col("route_type").cast("int").alias("route_type"),
        "operator_name"))}
    trips = gtfs("trips").join(
        F.broadcast(written("gtfs_routes", GTFS_ROUTES).select("route_id")),
        "route_id", "left_semi")
    counts["gtfs_trips"] = write("gtfs_trips", trips.select(
        "trip_id", "route_id", "service_id",
        F.col("direction_id").cast("int").alias("direction_id"),
        "trip_headsign"))
    stop_times = gtfs("stop_times").join(
        F.broadcast(written("gtfs_trips", GTFS_TRIPS).select("trip_id")),
        "trip_id", "left_semi")
    counts["gtfs_stop_times"] = write("gtfs_stop_times", stop_times.select(
        "trip_id",
        F.col("stop_sequence").cast("int").alias("stop_sequence"),
        "stop_id",
        # >24h clock strings stay TEXT (common.py:126-127)
        F.col("arrival_time").alias("arrival_time_planned"),
        F.col("departure_time").alias("departure_time_planned")))
    stops = gtfs("stops").join(
        F.broadcast(written("gtfs_stop_times", GTFS_STOP_TIMES)
                    .select("stop_id").distinct()),
        "stop_id", "left_semi")
    counts["gtfs_stops"] = write("gtfs_stops", stops.select(
        "stop_id", "stop_name",
        F.col("stop_lat").cast("double").alias("stop_lat"),
        F.col("stop_lon").cast("double").alias("stop_lon"),
        "zone_id", "location_type", "parent_station", "platform_code"))
    return counts
