"""Parquet sinks & upserts (reference K1-K7).

The reference's transactional DELETE+INSERT upserts against DuckDB
become partition-layout operations on a parquet lake:

- K2/K5 month-wise overwrite → ``partitionBy("month")`` written by
  ``replace_partitions``: only the months present in the incoming
  batch are replaced, atomically per partition — the index-drop/
  checkpoint-suppression tuning of the reference
  (02_ingest_istdaten.py:459-473) has no analogue because there is
  nothing to maintain.
- K4 feed_version overwrite → same sink on ``feed_version=``.
- K6 per-station time-range overwrite (03_ingest_weather.py:245-286)
  has no partition alignment, so it is expressed as the reference's
  own algebra: anti-join the existing table against the incoming
  (station, [tmin,tmax]) bounds, union the incoming rows, rewrite.

At cluster scale K6 would be a Delta/Iceberg ``MERGE``/replaceWhere;
the anti-join form here is engine-pure and produces the identical
table state.

Overwrite scope is a per-write option, never session conf: K2/K4/K5
go through ``replace_partitions`` (dynamic partition overwrite set on
the writer), every other parquet sink through ``write_parquet``
(static: the whole target is replaced). No writer touches session
conf, so the result does not depend on how the session was created.

Both return the number of rows written. The count is an
``Observation`` on the written DataFrame, filled in by the write job
itself, so callers never re-run a plan just to report its size.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tpg_weather_etl_spark.functions.time import month_key


def _write_counted(df: DataFrame, path: str | Path,
                   partition_by: str | list[str] | None,
                   overwrite_mode: str) -> int:
    """Overwrite ``path`` with ``df`` as parquet and return the rows
    written. zstd matches the reference gold outputs
    (10_build_features.py:294)."""
    rows = Observation()
    w = (df.observe(rows, F.count(F.lit(1)).alias("n")).write
         .mode("overwrite")
         .option("compression", "zstd")
         .option("partitionOverwriteMode", overwrite_mode))
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(str(path))
    return rows.get["n"]


def write_parquet(df: DataFrame, path: str | Path,
                  partition_by: str | list[str] | None = None) -> int:
    """Parquet sink (K1/K3) that replaces the whole target, including
    partitions absent from ``df``. Returns the rows written."""
    return _write_counted(df, path, partition_by, "static")


def replace_partitions(df: DataFrame, path: str | Path,
                       partition_by: str | list[str]) -> int:
    """Partitioned parquet sink that replaces only the partition values
    present in ``df``; every other partition under ``path`` survives
    (K2/K4/K5). Returns the rows written."""
    return _write_counted(df, path, partition_by, "dynamic")


def write_month_partitioned(
    df: DataFrame,
    path: str | Path,
    date_col: str = "service_date",
) -> int:
    """Hive-style ``month=YYYY-MM/`` sink (K2+K5). Only months present
    in ``df`` are replaced. Returns the rows written."""
    return replace_partitions(df.withColumn("month", month_key(F.col(date_col))),
                       path, "month")


def export_csv(df: DataFrame, path: str | Path,
               single_file: bool = True) -> None:
    """K7: CSV export (dashboard download, app/streamlit_app.py:219-225).

    ``single_file`` coalesces to one partition — only for small,
    human-facing extracts; bulk exports keep natural partitioning.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", "true").csv(str(path))


def upsert_station_range(
    spark: SparkSession,
    target_path: str | Path,
    incoming: DataFrame,
    station_col: str = "station_id",
    ts_col: str = "ts_utc",
) -> None:
    """K6: per-station time-window overwrite.

    DELETE existing rows inside each incoming station's [min,max] ts
    range, then INSERT all incoming rows — as one read-modify-write.
    """
    target_path = str(target_path)
    fs, p = _hadoop_fs(spark, target_path)
    # Only a missing path starts a new table: an unreadable one must
    # raise, not be overwritten with the incoming batch alone.
    if not fs.exists(p):
        write_parquet(incoming, target_path)
        return
    incoming = incoming.cache()
    try:
        existing = spark.read.parquet(target_path)
        bounds = incoming.groupBy(station_col).agg(
            F.min(ts_col).alias("__tmin"), F.max(ts_col).alias("__tmax")
        )
        kept = (
            existing.join(
                F.broadcast(bounds),
                on=(
                    (existing[station_col] == bounds[station_col])
                    & existing[ts_col].between(F.col("__tmin"),
                                               F.col("__tmax"))
                ),
                how="left_anti",
            )
        )
        merged = kept.unionByName(incoming).localCheckpoint()
        write_parquet(merged, target_path)
    finally:
        incoming.unpersist()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (and optionally sort-ordered) managed table.

    The co-located-join scale path: two tables bucketed on the same
    keys with the same bucket count join/aggregate with ZERO Exchange
    — each task reads matching bucket files from both sides. At 100 TB
    this converts every recurring fact⋈fact join on the bucket key
    from a full corpus shuffle into a local merge, which is the single
    biggest cost lever a warehouse layout owns (the write pays the
    shuffle once; every downstream query skips it).

    Bucketing requires the table-catalog path (``saveAsTable``) —
    plain ``.parquet(path)`` writes cannot carry bucket metadata.
    """
    w = (df.write.mode(mode)
         .option("compression", "zstd")
         .bucketBy(num_buckets, *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def managed_table_location(spark: SparkSession, table: str) -> str:
    """Filesystem location ``saveAsTable`` would use for a managed
    table — warehouse dir + (``<db>.db/``)? + lowercased table name.
    Needed to detect ORPHANED locations: data on disk whose catalog
    entry died with a previous session (in-memory catalog) or a crash
    between write and catalog commit.

    Unqualified names resolve against the session's CURRENT database
    (``spark.catalog.currentDatabase()``), exactly as ``saveAsTable``
    does — after ``USE mydb`` a bare ``t`` lives under
    ``<wh>/mydb.db/t``, not ``<wh>/t`` (ADVICE r13)."""
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    parts = table.split(".")
    name = parts[-1].lower()
    if len(parts) > 1:
        db = parts[0].lower()
    else:
        try:
            db = spark.catalog.currentDatabase().lower()
        except Exception:
            db = "default"
    if db != "default":
        return f"{wh}/{db}.db/{name}"
    return f"{wh}/{name}"


def _hadoop_fs(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def repair_orphaned_table(
    spark: SparkSession,
    table: str,
    bucket_cols: list[str] | None = None,
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> bool:
    """Re-register a managed-table location that lost its catalog
    entry, instead of letting the next ``saveAsTable`` die with
    ``LOCATION_ALREADY_EXISTS``.

    Why this exists: with an in-memory catalog, EVERY new session
    forgets every managed table it ever wrote — the data under
    ``spark-warehouse/<table>`` survives, the catalog entry does not.
    A restart of an incremental-dedup stream (streaming/
    corpus_dedup.py) then (a) crashes on append and, worse, (b) would
    anti-join against ``seen=None`` and re-admit every duplicate the
    orphaned store already suppressed. Registering the existing data
    as the table restores both the append path and replay idempotency.

    Policy:
    - table already in catalog → no-op (False);
    - location absent → no-op (False);
    - location present, holding ONLY marker entries (``_temporary``,
      ``_SUCCESS``, dotfiles — a crash before the first job commit) →
      clear the location so the next write bootstraps cleanly (False);
    - location present with top-level committed parquet → ``CREATE
      TABLE … USING parquet [CLUSTERED BY … INTO n BUCKETS] LOCATION``
      with the schema read from the files (True). ``LOCATION`` makes
      the registered table external — the data outlives DROP TABLE,
      which is the correct durability for a dedup store;
    - location present with NON-marker entries this flat-layout helper
      cannot classify (subdirectories — e.g. a partitioned table's
      ``month=…`` dirs — or non-parquet files) → raise. Deleting here
      (the pre-round-14 behavior) could destroy a partitioned table's
      committed data that merely lives one level down; a helper scoped
      to flat bucketed stores must refuse what it can't prove is
      uncommitted debris.

    Bucket spec is declared, not inferred: pass the SAME
    ``bucket_cols``/``num_buckets`` the store was written with.
    Spark's bucketed scan derives bucket ids from the committed file
    names, so a spec mismatch fails loudly at read ("Invalid bucket
    file"), never silently mis-buckets. An unreadable location with
    committed files (corrupt footers) propagates — same contract as
    ``_path_exists`` in the streaming store: only provable absence may
    skip state."""
    if spark.catalog.tableExists(table):
        return False
    loc = managed_table_location(spark, table)
    fs, p = _hadoop_fs(spark, loc)
    if not fs.exists(p):
        return False
    statuses = fs.listStatus(p)
    committed = [s.getPath().getName() for s in statuses
                 if s.getPath().getName().endswith(".parquet")
                 and not s.getPath().getName().startswith(("_", "."))]
    if not committed:
        unclassified = [s.getPath().getName() for s in statuses
                        if not s.getPath().getName().startswith(("_", "."))]
        if unclassified:
            raise ValueError(
                f"refusing to clear {loc}: no top-level committed "
                f"parquet, but non-marker entries exist "
                f"({sorted(unclassified)[:5]}…). This helper only "
                f"repairs FLAT bucketed layouts; a partitioned or "
                f"foreign layout must be registered or cleared by "
                f"its owner, not recursively deleted as debris.")
        fs.delete(p, True)
        return False
    schema = spark.read.parquet(loc).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)
    clustered = ""
    if bucket_cols:
        bcols = ", ".join(f"`{c}`" for c in bucket_cols)
        sorted_by = ""
        if sort_cols:
            scols = ", ".join(f"`{c}`" for c in sort_cols)
            sorted_by = f" SORTED BY ({scols})"
        clustered = (f" CLUSTERED BY ({bcols}){sorted_by}"
                     f" INTO {num_buckets} BUCKETS")
    spark.sql(f"CREATE TABLE {table} ({cols}) USING parquet"
              f"{clustered} LOCATION '{loc}'")
    return True


def compact_parquet(
    spark: SparkSession,
    path: str | Path,
    target_file_mb: int = 512,
) -> int:
    """Rewrite a parquet directory into ~``target_file_mb`` files —
    the small-files maintenance op every streaming/append lake needs
    (thousands of KB-sized files turn scans into open/seek storms and
    blow up driver file listings).

    Sizes from the on-disk footprint, not row counts, so compaction is
    schema-agnostic. Returns the new file count. At cluster scale the
    same routine runs per partition directory; a transactional format
    (Delta/Iceberg OPTIMIZE) replaces the staging rename.
    """
    path = Path(path)
    total_bytes = sum(f.stat().st_size
                      for f in path.rglob("*.parquet"))
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(str(path))
    staging = path.with_name(path.name + "__compacting")
    write_parquet(df.repartition(n_files), staging)
    import shutil
    backup = path.with_name(path.name + "__precompact")
    path.rename(backup)
    staging.rename(path)
    shutil.rmtree(backup)
    return n_files


def write_sorted(
    df: DataFrame,
    path: str | Path,
    sort_cols: list[str],
    num_partitions: int | None = None,
) -> None:
    """Globally range-sorted parquet output: ``repartitionByRange`` +
    ``sortWithinPartitions`` gives a total order across files (file i
    holds keys below file i+1, rows sorted inside) WITHOUT funneling
    through one task the way ``coalesce(1).orderBy`` would.

    Why it matters at scale: sorted layout gives parquet min/max row-
    group statistics real pruning power — a key-range scan touches one
    file instead of all of them (the poor man's clustered index).
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    write_parquet(df.repartitionByRange(n, *sort_cols)
                  .sortWithinPartitions(*sort_cols), path)


ZORDER_BITS = 8   # per-dimension resolution: 2^8 buckets → 16-bit key


def zorder_key(df: DataFrame, cols: list[str],
               bits: int = ZORDER_BITS) -> Column:
    """Morton (Z-order) key over two numeric columns.

    Each column is bucketed into 2^bits rank buckets via
    approxQuantile boundaries (a bounded driver-side list — rank
    bucketing, unlike width_bucket's uniform split, stays balanced
    under skew), then the bucket ids' bits interleave into one
    integer. Sorting by that integer clusters rows that are close in
    BOTH dimensions into the same files/row-groups — the multi-column
    locality a single-column sort cannot give.
    """
    if len(cols) != 2:
        raise ValueError("zorder_key supports exactly two columns")
    n_buckets = 1 << bits
    bucket_exprs = []
    for c in cols:
        qs = df.selectExpr(f"CAST({c} AS DOUBLE) AS v").approxQuantile(
            "v", [i / n_buckets for i in range(1, n_buckets)], 0.001
        )
        bounds = F.array(*[F.lit(float(b)) for b in qs])
        # bucket = #boundaries strictly below the value (0..2^bits-1)
        bucket_exprs.append(
            F.aggregate(
                bounds, F.lit(0),
                lambda acc, b: acc + (F.col(c).cast("double") > b)
                .cast("int"),
            )
        )
    a, b = bucket_exprs
    z = F.lit(0)
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)),
                                    2 * i + 1))
            .bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)),
                                   2 * i))
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str | Path,
    cols: list[str],
    num_partitions: int | None = None,
) -> None:
    """Z-order clustered parquet output: range-partition and sort by
    the Morton key of two columns, so parquet min/max statistics
    prune scans filtered on EITHER (or both) dimensions —
    ``write_sorted`` gives that power on the leading column only.
    The layout technique behind lakehouse OPTIMIZE ZORDER BY,
    expressed as plain Spark."""
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    z = zorder_key(df, cols)
    write_parquet(df.withColumn("__z", z)
                  .repartitionByRange(n, "__z")
                  .sortWithinPartitions("__z")
                  .drop("__z"), path)


def refresh_months(
    spark: SparkSession,
    source: DataFrame,
    gold_path: str | Path,
    build: "callable",
    months: list[str] | None = None,
    date_col: str = "service_date",
) -> list[str]:
    """Incremental gold maintenance: rebuild ONLY the given months of
    a month-partitioned aggregate (default: the months present in
    ``source``) and dynamic-overwrite exactly those partitions.

    ``build`` maps a month-filtered source DataFrame to its gold rows
    (the same function a full rebuild uses — incremental refresh must
    never have its own aggregation logic to drift). At 100 TB this is
    the difference between touching one month's partitions and
    recomputing the lake; correctness holds because monthly aggregates
    depend only on that month's rows (partition-aligned computation).
    Returns the refreshed month keys.
    """
    src_m = source.withColumn("month", month_key(F.col(date_col)))
    if months is None:
        months = [r.month for r in src_m.select("month").distinct().collect()]
    subset = src_m.filter(F.col("month").isin(months)).drop("month")
    out = build(subset).withColumn("month", month_key(F.col(date_col)))
    replace_partitions(out, gold_path, "month")
    return sorted(months)


def write_orc(df: DataFrame, path: str | Path, mode: str = "overwrite",
              compression: str = "zlib") -> None:
    """ORC sink — the second columnar format Spark writes natively.
    Same role as the parquet gold sink (predicate pushdown, column
    pruning, stripe-level min/max skipping) for warehouses
    standardized on ORC/Hive."""
    df.write.mode(mode).option("compression", compression).orc(str(path))
