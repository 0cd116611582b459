"""MeteoSwiss weather ingest (reference src/03_ingest_weather.py).

CSV (semicolon, '-' sentinel nulls) → rename → numeric coercion →
km/h→m/s conversion → drop null-ts rows → exact-dup drop → per-key
median collapse → silver parquet + range-overwrite upsert (K6).
"""

from __future__ import annotations

from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpg_weather_etl_spark.functions.macros import kmh_to_ms
from tpg_weather_etl_spark.operators.dedupe import group_median_dedupe
from tpg_weather_etl_spark.schemas import WEATHER_COLMAP, WEATHER_MEASURES
from tpg_weather_etl_spark.sources.readers import read_semicolon_csv
from tpg_weather_etl_spark.sources.writers import (
    upsert_station_range,
    write_parquet,
)


def normalize_weather(raw: DataFrame) -> DataFrame:
    """Rename → pad missing measures → coerce → convert (ref 03:130-165).

    - '-' sentinels arrive as NULL from the reader (S6)
    - numeric coercion via try-cast: garbage → NULL (F13, 03:147)
    - wind/gust km/h → m/s (F14, 03:150-156)
    - timestamps 'dd.MM.yyyy HH:mm' strict UTC (F2, 03:138)
    - rows with unparseable ts dropped (P7, 03:159)
    """
    df = raw
    for src, dst in WEATHER_COLMAP.items():
        if src in df.columns:
            df = df.withColumnRenamed(src, dst)
    for dst in WEATHER_COLMAP.values():
        if dst not in df.columns:
            df = df.withColumn(dst, F.lit(None).cast("string"))
    num_cols = [c for c in WEATHER_COLMAP.values()
                if c not in ("station_id", "ts_utc")]
    for c in num_cols:
        df = df.withColumn(c, F.expr(f"try_cast(`{c}` AS DOUBLE)"))
    df = (
        df.withColumn(
            "ts_utc", F.try_to_timestamp(F.col("ts_utc"),
                                         F.lit("dd.MM.yyyy HH:mm"))
        )
        .withColumn("wind_ms", kmh_to_ms(F.col("wind_kmh")))
        .withColumn("gust_ms", kmh_to_ms(F.col("gust_kmh")))
        .drop("wind_kmh", "gust_kmh")
        .filter(F.col("ts_utc").isNotNull())
    )
    return df.select("station_id", "ts_utc", *WEATHER_MEASURES)


def dedupe_weather(df: DataFrame) -> DataFrame:
    """Exact-dup drop, then per-(station,ts) median collapse
    (A1 + A3, ref 03:172-217)."""
    exact = df.dropDuplicates()
    return group_median_dedupe(
        exact, key_cols=["station_id", "ts_utc"], measure_cols=WEATHER_MEASURES
    )


def ingest_weather(
    spark: SparkSession,
    csv_paths: Sequence[str | Path],
    silver_path: str | Path,
    warehouse_path: str | Path | None = None,
) -> int:
    """CSV → normalize → dedupe → silver K1 (+ optional K6 upsert).
    Returns the observation rows written to silver."""
    raw = read_semicolon_csv(spark, csv_paths,
                             usecols=list(WEATHER_COLMAP), null_value="-")
    rows = write_parquet(dedupe_weather(normalize_weather(raw)), silver_path)
    if warehouse_path is not None:
        upsert_station_range(spark, warehouse_path,
                             spark.read.parquet(str(silver_path)))
    return rows
