"""CSV / parquet readers (reference S5-S9).

CSV readers take each file's header line on the driver (the staged
files are local there), build an explicit all-string ``StructType``
from it and hand Spark that schema -- never inferSchema (a full extra
pass at scale) and no header-inference job: nothing runs before the
scan itself. Files are mapped to columns by name: files are grouped by
header, each group is read with its own schema, and the groups are
combined with ``unionByName``, so a file that lacks a column gets NULLs
there instead of its neighbours' values shifted into it. Type coercion
happens downstream in the normalize steps, mirroring the reference's
dtype=str reads (02_ingest_istdaten.py:190) with final casts at load
(02:429-445).
"""

from __future__ import annotations

import csv
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _csv_header(path: str | Path, sep: str = ",",
               null_value: str | None = None) -> tuple[str, ...]:
    """Column names of a local CSV file's first non-blank line, as
    Spark's ``header`` option names them: UTF-8 with a leading BOM
    stripped, empty (or ``null_value``) names become ``_c<i>``, and
    names that repeat case-insensitively get their position appended.
    An empty file has no columns."""
    with open(path, encoding="utf-8-sig", errors="replace",
              newline="") as fh:
        row = next((r for r in csv.reader(fh, delimiter=sep) if r), [])
    seen = [n.lower() for n in row]
    return tuple(
        f"_c{i}" if n in ("", null_value)
        else f"{n}{i}" if seen.count(n.lower()) > 1
        else n
        for i, n in enumerate(row))


def _string_schema(cols: Sequence[str]) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType()) for c in cols])


def _empty(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], T.StructType([]))


def read_semicolon_csv(
    spark: SparkSession,
    paths: Sequence[str | Path],
    usecols: Sequence[str] | None = None,
    null_value: str | None = None,
) -> DataFrame:
    """Semicolon CSV, all columns string (ref S5/S6).

    ``paths`` are local files. Each distinct header is read as one
    scan with its own schema; a column absent from some files is NULL
    on their rows. ``usecols`` prunes immediately after parse -- with
    an explicit select Catalyst drops unparsed columns from the CSV
    reader (column pruning X1). ``null_value`` handles the weather '-'
    sentinel (03_ingest_weather.py:77).
    """
    groups: dict[tuple[str, ...], list[str]] = {}
    for p in paths:
        header = _csv_header(p, ";", null_value)
        if header:
            groups.setdefault(header, []).append(str(p))
    if not groups:
        return _empty(spark)
    names = list(dict.fromkeys(c for h in groups for c in h))
    cols = [c for c in usecols if c in names] if usecols else names
    df = None
    for header, group in groups.items():
        reader = (
            spark.read.schema(_string_schema(header))
            .option("sep", ";")
            .option("header", "true")
            .option("encoding", "UTF-8")
            .option("mode", "PERMISSIVE")
        )
        if null_value is not None:
            reader = reader.option("nullValue", null_value)
        part = reader.csv(group).select(*[c for c in cols if c in header])
        df = part if df is None else df.unionByName(
            part, allowMissingColumns=True)
    return df.select(*cols)


def read_gtfs_csv(spark: SparkSession, path: str | Path) -> DataFrame:
    """Comma CSV with header, all-string (GTFS member, ref S1); ``path``
    is a local file. An empty file gives a frame with no columns."""
    header = _csv_header(path)
    if not header:
        return _empty(spark)
    return (
        spark.read.schema(_string_schema(header))
        .option("header", "true")
        .option("encoding", "UTF-8")
        .csv(str(path))
    )


def ensure_columns(
    df: DataFrame,
    required: Sequence[str],
    optional_defaults: Sequence[str] = (),
) -> DataFrame:
    """Schema padding (ref P2, 01_ingest_gtfs.py:60-87).

    Missing required columns raise; missing optional columns are added
    as NULL strings.
    """
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"required columns missing: {missing}")
    for c in optional_defaults:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(T.StringType()))
    return df


def read_jsonl_documents(spark: SparkSession, path: str | Path) -> DataFrame:
    """Batch JSONL (one JSON object per line) documents reader — the
    crawl-dump interchange format, with the explicit schema from the
    streaming twin (streaming/corpus_dedup.py) so corrupt lines
    surface as nulls under PERMISSIVE mode instead of silently
    switching the frame to schema inference (which at 100 TB costs a
    full pre-scan AND lets one malformed shard change column types).
    """
    from tpg_weather_etl_spark.streaming.corpus_dedup import DOC_SCHEMA

    return (
        spark.read.schema(DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .json(str(path))
    )


def read_orc(spark: SparkSession, path: str | Path) -> DataFrame:
    """ORC scan — pushdown/pruning verified in tests/test_ingest."""
    return spark.read.orc(str(path))


def read_media_dir(spark: SparkSession, path: str | Path,
                   pattern: str = "*") -> DataFrame:
    """Raw media files → MEDIA_SCHEMA rows via Spark's binaryFile
    source (the ingestion edge of the multimodal pipeline).

    binaryFile gives (path, modificationTime, length, content) with
    the payload read lazily per task — files are NOT concatenated into
    driver memory, and pathGlobFilter prunes at listing time.
    ``media_id`` is a 60-bit hash of the file path (stable across
    re-ingests), ``kind`` is derived from the extension, and the typed
    metadata columns arrive NULL — they are filled by the decode pass
    (operators/multimodal.extract_features), which is where a real
    pipeline learns width/duration anyway. recursiveFileLookup handles
    the nested layouts object stores produce.
    """
    from pyspark.sql import functions as F

    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    kind = (
        F.when(ext.isin("jpg", "jpeg", "png", "ppm", "gif", "bmp"), "image")
        .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
        .when(ext.isin("mp4", "mkv", "webm", "avi", "rawv"), "video")
        .otherwise("other")
    )
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
        .load(str(path))
        .select(
            F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10)
            .cast("long").alias("media_id"),
            kind.alias("kind"),
            F.col("content"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        )
    )
