"""Ingest pipeline tests over synthetic raw fixtures (FIXTURES.md)."""

from __future__ import annotations

import uuid
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from tpg_weather_etl_spark.ingest.gtfs import detect_feed_version, ingest_gtfs
from tpg_weather_etl_spark.ingest.istdaten import (
    dedupe_istdaten,
    normalize_istdaten,
)
from tpg_weather_etl_spark.ingest.weather import (
    dedupe_weather,
    normalize_weather,
)
from tpg_weather_etl_spark.sources.readers import (
    ensure_columns,
    read_gtfs_csv,
    read_semicolon_csv,
)
from tpg_weather_etl_spark.sources.staging import (
    month_from_filename,
    stage_zip_members,
    zip_list_members,
)
from tpg_weather_etl_spark.sources.writers import (
    upsert_station_range,
    write_month_partitioned,
)
from tpg_weather_etl_spark.schemas import (
    GTFS_ROUTES,
    GTFS_STOP_TIMES,
    GTFS_STOPS,
    GTFS_TRIPS,
    IST_COLMAP,
    WEATHER_COLMAP,
)

IST_HEADER = ";".join(IST_COLMAP.keys())


def _ist_csv(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text("\n".join([IST_HEADER] + [";".join(r) for r in rows]),
                 encoding="utf-8")
    return p


def _ist_row(date="01.02.2024", fahrt="t1", op="TPG", prod="Bus", line="12",
             stop_name="Gare", stop="8501", a_sched="01.02.2024 08:00:00",
             a_est="01.02.2024 08:02:00", a_st="REAL",
             d_sched="01.02.2024 08:01:00", d_est="01.02.2024 08:03:00",
             d_st="REAL", pt="0", extra="0", cancel="0"):
    return [date, fahrt, op, prod, line, stop_name, stop, a_sched, a_est,
            a_st, d_sched, d_est, d_st, pt, extra, cancel]


def test_istdaten_normalize_filters_and_casts(spark, tmp_path):
    rows = [
        _ist_row(),
        _ist_row(op="SBB"),                      # filtered: operator
        _ist_row(prod="Zug"),                    # filtered: product
        _ist_row(prod="", a_st="", pt="true", cancel="garbage"),
    ]
    p = _ist_csv(tmp_path, "2024-02-01_istdaten.csv", rows)
    raw = read_semicolon_csv(spark, [p], usecols=list(IST_COLMAP))
    out = normalize_istdaten(raw).collect()
    assert len(out) == 2  # TPG Bus + TPG empty-product
    by_prod = {r.product_id: r for r in out}
    assert by_prod["Bus"].arrival_sched_ts.hour == 8
    assert by_prod["Bus"].service_date.month == 2  # day-first parse
    empty = by_prod[None]
    assert empty.arrival_status == "PROGNOSE"  # null → default
    assert empty.pass_through is True          # "true"
    assert empty.is_cancelled is False         # garbage → False


def test_istdaten_priority_dedupe(spark, tmp_path):
    # same business key, different statuses → REAL wins over PROGNOSE
    rows = [
        _ist_row(a_st="PROGNOSE", d_st="PROGNOSE", a_est="01.02.2024 08:09:00"),
        _ist_row(a_st="REAL", d_st="REAL", a_est="01.02.2024 08:02:00"),
        # different stop → separate key, survives
        _ist_row(stop="9999"),
    ]
    p = _ist_csv(tmp_path, "x.csv", rows)
    out = dedupe_istdaten(
        normalize_istdaten(read_semicolon_csv(spark, [p],
                                              usecols=list(IST_COLMAP)))
    ).collect()
    assert len(out) == 2
    winner = [r for r in out if r.stop_code == "8501"][0]
    assert winner.arrival_status == "REAL"


def test_istdaten_dedupe_deterministic_on_exact_ties(spark, tmp_path):
    rows = [_ist_row(stop_name="A"), _ist_row(stop_name="B")]
    p = _ist_csv(tmp_path, "x.csv", rows)
    df = normalize_istdaten(read_semicolon_csv(spark, [p],
                                               usecols=list(IST_COLMAP)))
    winners = {dedupe_istdaten(df).collect()[0].stop_name for _ in range(3)}
    assert winners == {"A"}  # H2: tiebreak on stop_name asc, stable


@pytest.mark.parametrize("session_mode", ["static", "dynamic"])
def test_month_partitioned_overwrite_only_touches_present_months(
        spark, tmp_path, session_mode):
    # The sink's scope must not depend on the session it is handed (an
    # externally created session may carry either overwrite mode), and
    # the write must leave that session setting as it found it.
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, session_mode)
    try:
        out = tmp_path / "silver"
        d1 = spark.createDataFrame(
            [("2024-01-05", 1), ("2024-02-05", 2)],
            "service_date string, v int",
        ).withColumn("service_date", F.to_date("service_date"))
        write_month_partitioned(d1, out)
        # second batch: only february, new value → january must survive
        d2 = spark.createDataFrame(
            [("2024-02-20", 99)], "service_date string, v int"
        ).withColumn("service_date", F.to_date("service_date"))
        write_month_partitioned(d2, out)
        assert spark.conf.get(key) == session_mode
    finally:
        spark.conf.set(key, prev)
    got = {(r.month, r.v) for r in spark.read.parquet(str(out)).collect()}
    assert got == {("2024-01", 1), ("2024-02", 99)}


WX_HEADER = ";".join(WEATHER_COLMAP.keys())


def _wx_csv(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text("\n".join([WX_HEADER] + [";".join(r) for r in rows]),
                 encoding="utf-8")
    return p


def _wx_row(st="GVE", ts="01.02.2024 08:00", temp="5.2", rain="0.1",
            wind="36", gust="72", wdir="180", hum="80", pres="1013",
            rad="100", sun="5", dew="2.0"):
    return [st, ts, temp, rain, wind, gust, wdir, hum, pres, rad, sun, dew]


def test_weather_normalize(spark, tmp_path):
    rows = [
        _wx_row(),
        _wx_row(ts="bogus"),          # dropped: unparseable ts
        _wx_row(temp="-", rain="-"),  # '-' sentinel → NULL
    ]
    p = _wx_csv(tmp_path, "w.csv", rows)
    raw = read_semicolon_csv(spark, [p], usecols=list(WEATHER_COLMAP),
                             null_value="-")
    out = normalize_weather(raw).collect()
    assert len(out) == 2
    first = [r for r in out if r.temp_c is not None][0]
    assert first.wind_ms == pytest.approx(10.0)   # 36 km/h → 10 m/s
    assert first.gust_ms == pytest.approx(20.0)
    nulled = [r for r in out if r.temp_c is None][0]
    assert nulled.rain_mm is None


def test_weather_median_collapse_even_group(spark, tmp_path):
    rows = [_wx_row(temp="1.0"), _wx_row(temp="2.0"),
            _wx_row(temp="4.0"), _wx_row(temp="8.0")]
    p = _wx_csv(tmp_path, "w.csv", rows)
    out = dedupe_weather(normalize_weather(
        read_semicolon_csv(spark, [p], usecols=list(WEATHER_COLMAP),
                           null_value="-"))).collect()
    assert len(out) == 1
    assert out[0].temp_c == pytest.approx(3.0)  # interpolating median


def test_weather_range_upsert(spark, tmp_path):
    tgt = tmp_path / "obs"
    old = spark.createDataFrame(
        [("GVE", "2024-01-01 08:00:00", 1.0),
         ("GVE", "2024-01-01 09:00:00", 2.0),
         ("XYZ", "2024-01-01 08:00:00", 9.0)],
        "station_id string, ts_utc string, temp_c double",
    ).withColumn("ts_utc", F.to_timestamp("ts_utc"))
    upsert_station_range(spark, tgt, old)
    new = spark.createDataFrame(
        [("GVE", "2024-01-01 08:00:00", 100.0)],
        "station_id string, ts_utc string, temp_c double",
    ).withColumn("ts_utc", F.to_timestamp("ts_utc"))
    upsert_station_range(spark, tgt, new)
    got = {(r.station_id, r.ts_utc.hour, r.temp_c)
           for r in spark.read.parquet(str(tgt)).collect()}
    # GVE@08 replaced; GVE@09 outside incoming range → survives; XYZ intact
    assert got == {("GVE", 8, 100.0), ("GVE", 9, 2.0), ("XYZ", 8, 9.0)}


def test_weather_range_upsert_refuses_unreadable_target(spark, tmp_path):
    """Only a missing target may start a new table: a torn part file
    must fail the upsert, not let the batch replace the station rows
    already on disk."""
    tgt = tmp_path / "obs"
    old = spark.createDataFrame(
        [("AAA", "2024-01-01 08:00:00", 1.0)],
        "station_id string, ts_utc string, temp_c double",
    ).withColumn("ts_utc", F.to_timestamp("ts_utc"))
    upsert_station_range(spark, tgt, old.coalesce(1))
    (valid,) = tgt.glob("part-*.parquet")
    # sorts before the valid part, so schema inference reads it first
    (tgt / "part-0-torn.parquet").write_bytes(b"PAR1\x00\x01torn")
    new = spark.createDataFrame(
        [("BBB", "2024-01-01 08:00:00", 2.0)],
        "station_id string, ts_utc string, temp_c double",
    ).withColumn("ts_utc", F.to_timestamp("ts_utc"))
    with pytest.raises(Py4JJavaError, match="part-0-torn"):
        upsert_station_range(spark, tgt, new)
    assert valid.exists()


def _gtfs_zip(tmp_path):
    z = tmp_path / "gtfs_2024-02.zip"
    files = {
        # members are staged as raw bytes: the BOM reaches the reader
        "agency.txt": "\ufeffagency_id,agency_name\n"
                      "tpg,Transports Publics Genevois (TPG)\n"
                      "sbb,Swiss Federal Railways\n",
        "routes.txt": "route_id,route_type,route_short_name,agency_id\n"
                      "r1,3,12,tpg\nr2,2,IC1,sbb\nr3,0,18,tpg\n",
        "trips.txt": "trip_id,route_id,service_id\n"
                     "t1,r1,s1\nt2,r2,s1\nt3,r3,s1\n",
        "stop_times.txt": "trip_id,stop_sequence,stop_id,arrival_time,departure_time\n"
                          "t1,1,s_a,08:00:00,08:01:00\n"
                          "t1,2,s_b,25:10:00,25:11:00\n"   # >24h stays text
                          "t2,1,s_c,09:00:00,09:01:00\n",
        "stops.txt": "stop_id,stop_name,stop_lat,stop_lon\n"
                     "s_a,Gare,46.2,6.1\ns_b,Stand,46.3,6.2\n"
                     "s_c,Zürich,47.4,8.5\n",
        "feed_info.txt": "feed_version\n2024-02-15\n",
    }
    with zipfile.ZipFile(z, "w") as zf:
        for name, content in files.items():
            zf.writestr(name, content)
    return z


GTFS_WAREHOUSE = {"gtfs_routes": GTFS_ROUTES, "gtfs_trips": GTFS_TRIPS,
                  "gtfs_stop_times": GTFS_STOP_TIMES,
                  "gtfs_stops": GTFS_STOPS}


def test_gtfs_cascade_and_feed_version(spark, tmp_path):
    z = _gtfs_zip(tmp_path)
    counts = ingest_gtfs(spark, z, tmp_path / "staging", tmp_path / "wh")
    wh = {name: spark.read.schema(schema)
          .parquet(str(tmp_path / "wh" / name)).collect()
          for name, schema in GTFS_WAREHOUSE.items()}
    assert counts == {name: len(rows) for name, rows in wh.items()}
    assert {r.route_id for r in wh["gtfs_routes"]} == {"r1", "r3"}  # operator filter, case-insensitive
    assert {r.trip_id for r in wh["gtfs_trips"]} == {"t1", "t3"}
    sts = wh["gtfs_stop_times"]
    assert {r.trip_id for r in sts} == {"t1"}
    assert "25:10:00" in {r.arrival_time_planned for r in sts}  # text >24h
    assert {r.stop_id for r in wh["gtfs_stops"]} == {"s_a", "s_b"}
    # the declared schema keeps the partition value TEXT, not a DATE
    assert {r.feed_version for rows in wh.values() for r in rows} \
        == {"2024-02-15"}
    # warehouse written with feed_version= partition dirs
    assert (tmp_path / "wh" / "gtfs_routes" /
            "feed_version=2024-02-15").exists()


def test_gtfs_cascade_reads_only_its_own_feed(spark, tmp_path):
    """A second feed in the same warehouse neither leaks into nor is
    touched by the cascade of the first."""
    older = _gtfs_zip(tmp_path)
    with zipfile.ZipFile(older) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    members["trips.txt"] += b"t9,r2,s1\n"
    members["feed_info.txt"] = b"feed_version\n2024-01-01\n"
    newer = tmp_path / "gtfs_2024-01.zip"
    with zipfile.ZipFile(newer, "w") as zf:
        for name, content in members.items():
            zf.writestr(name, content)
    wh = tmp_path / "wh"
    ingest_gtfs(spark, older, tmp_path / "s1", wh)
    counts = ingest_gtfs(spark, newer, tmp_path / "s2", wh,
                         operator_pattern="swiss federal")
    trips = spark.read.schema(GTFS_TRIPS).parquet(str(wh / "gtfs_trips"))
    by_feed = {}
    for r in trips.collect():
        by_feed.setdefault(r.feed_version, set()).add(r.trip_id)
    assert by_feed == {"2024-02-15": {"t1", "t3"},
                       "2024-01-01": {"t2", "t9"}}
    assert counts["gtfs_stop_times"] == 1       # t2's one stop time
    stops = spark.read.schema(GTFS_STOPS).parquet(str(wh / "gtfs_stops"))
    assert {r.stop_id for r in stops.filter("feed_version = '2024-01-01'")
            .collect()} == {"s_c"}


def test_gtfs_reader_header_edge_cases(spark, tmp_path):
    """The header read on the driver names and fills the columns as
    Spark's own header parsing does."""
    cases = {
        "plain": b"agency_id,agency_name\ntpg,TPG\n",
        "bom": b"\xef\xbb\xbfagency_id,agency_name\ntpg,TPG\n",
        "quoted": b'"agency_id","agency, name"\ntpg,"T,PG"\n',
        "unnamed_and_repeated": b"a,,A,b\n1,2,3,4\n",
    }
    for name, data in cases.items():
        p = tmp_path / f"{name}.txt"
        p.write_bytes(data)
        want = spark.read.option("header", "true").csv(str(p))
        got = read_gtfs_csv(spark, p)
        assert got.columns == want.columns, name
        assert got.collect() == want.collect(), name
    assert read_gtfs_csv(spark, tmp_path / "bom.txt").columns \
        == ["agency_id", "agency_name"]
    empty = tmp_path / "empty.txt"
    empty.write_bytes(b"")
    with pytest.raises(ValueError, match="agency_id"):
        ensure_columns(read_gtfs_csv(spark, empty),
                       ["agency_id", "agency_name"])


def test_semicolon_csv_maps_columns_by_name_in_every_file(spark, tmp_path):
    """A file that lacks a middle column keeps each value under its own
    name and has NULL in the absent column, whichever file comes
    first."""
    full = tmp_path / "a_full.csv"
    full.write_text("st;temp;sun;dew\nGVE;1.0;5;-0.5\n", encoding="utf-8")
    short = tmp_path / "b_short.csv"
    short.write_text("st;temp;dew\nCOI;2.0;-0.7\n", encoding="utf-8")
    for paths in ([full, short], [short, full]):
        df = read_semicolon_csv(spark, paths, null_value="-")
        assert df.columns == (["st", "temp", "sun", "dew"]
                              if paths[0] is full
                              else ["st", "temp", "dew", "sun"])
        rows = {r.st: r.asDict() for r in df.collect()}
        assert rows == {
            "GVE": {"st": "GVE", "temp": "1.0", "sun": "5", "dew": "-0.5"},
            "COI": {"st": "COI", "temp": "2.0", "sun": None, "dew": "-0.7"},
        }
        pruned = read_semicolon_csv(spark, paths, usecols=["dew", "sun"])
        assert pruned.columns == ["dew", "sun"]
        assert sorted(pruned.collect(), key=lambda r: r.dew) == \
            [("-0.5", "5"), ("-0.7", None)]


def _jobs(spark, fn):
    """(result, Spark jobs ``fn`` ran) -- counted through a job group."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_readers_and_cli_run_no_extra_jobs(spark, tmp_path, capsys):
    """Headers are read on the driver and the CLI reports the counts
    its writes observed: no job runs outside the writes themselves."""
    from tpg_weather_etl_spark.cli import main

    z = _gtfs_zip(tmp_path)
    with zipfile.ZipFile(z) as zf:
        zf.extractall(tmp_path / "raw")
    raw = tmp_path / "raw"
    ist = _ist_csv(tmp_path, "ist.csv", [_ist_row()])
    assert _jobs(spark, lambda: read_gtfs_csv(spark, raw / "stops.txt"))[1] \
        == 0
    assert _jobs(spark, lambda: read_semicolon_csv(
        spark, [ist], usecols=list(IST_COLMAP)))[1] == 0
    staged = {"feed_info": raw / "feed_info.txt"}
    assert _jobs(spark, lambda: detect_feed_version(staged, "x_y")) \
        == ("2024-02-15", 0)

    counts, lib_jobs = _jobs(spark, lambda: ingest_gtfs(
        spark, z, tmp_path / "staging", tmp_path / "wh"))
    rc, cli_jobs = _jobs(spark, lambda: main(
        ["--data-root", str(tmp_path / "data"), "ingest-gtfs",
         "--zip", str(z)]))
    assert rc == 0
    assert cli_jobs == lib_jobs
    printed = capsys.readouterr().out.splitlines()
    assert printed == [f"{name}: {n} rows" for name, n in counts.items()]


def test_staging_zip_and_encoding(tmp_path):
    z = tmp_path / "ist_2024-02-01.zip"
    latin = "BETRIEBSTAG;STOP\n01.02.2024;Genève\n".encode("latin-1")
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("2024-02-01_istdaten.csv", latin)
        zf.writestr("readme.txt", "ignore me")
    assert zip_list_members(z) == ["2024-02-01_istdaten.csv"]
    staged = stage_zip_members(z, tmp_path / "stage")
    assert len(staged) == 1
    assert "Genève" in staged[0].read_text(encoding="utf-8")
    assert month_from_filename(staged[0].name) == "2024-02"
    assert month_from_filename("nodate.csv") is None


def test_istdaten_dedupe_est_priority_is_arrival_coalesce(spark, tmp_path):
    # ref 02:290: the est-ts priority key is
    # arrival_est.combine_first(depart_est) — arrival-preferred
    # coalesce, NOT the max of the two. X has the later depart_est but
    # the earlier arrival_est; under coalesce semantics Y must win.
    rows = [
        _ist_row(stop_name="X", a_est="01.02.2024 08:02:00",
                 d_est="01.02.2024 08:10:00"),
        _ist_row(stop_name="Y", a_est="01.02.2024 08:05:00",
                 d_est="01.02.2024 08:06:00"),
    ]
    p = _ist_csv(tmp_path, "x.csv", rows)
    out = dedupe_istdaten(
        normalize_istdaten(read_semicolon_csv(spark, [p],
                                              usecols=list(IST_COLMAP)))
    ).collect()
    assert len(out) == 1
    assert out[0].stop_name == "Y"


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    from tpg_weather_etl_spark.sources.writers import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).withColumnRenamed("id", "k") \
            .withColumn("va", F.col("k") * 2)
        b = spark.range(0, 1000).withColumnRenamed("id", "k") \
            .withColumn("vb", F.col("k") % 7)
        write_bucketed(a, "t_bucket_a", ["k"], num_buckets=8, sort_cols=["k"])
        write_bucketed(b, "t_bucket_b", ["k"], num_buckets=8, sort_cols=["k"])
        joined = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
        # aggregation on the bucket key also skips the shuffle
        agg = spark.table("t_bucket_a").groupBy("k").sum("va")
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_month_partitioned_scan_prunes_partitions(spark, tmp_path):
    import datetime as _dt
    from tpg_weather_etl_spark.sources.writers import write_month_partitioned

    rows = [(i, _dt.date(2024, 1 + (i % 3), 1 + i % 27), float(i))
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, service_date date, v double")
    out = str(tmp_path / "mp")
    write_month_partitioned(df, out)
    scan = spark.read.parquet(out).filter(F.col("month") == "2024-02")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the month predicate must become a PartitionFilter on the scan —
    # at 100 TB this is the difference between reading one month's
    # directory and reading the lake
    assert "PartitionFilters: [isnotnull(month" in plan, plan
    assert scan.count() == sum(1 for _, d, _v in rows if d.month == 2)


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from tpg_weather_etl_spark.sources.writers import compact_parquet

    out = tmp_path / "frag"
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(str(out))  # 64 shards
    n_before = len(list(out.rglob("*.parquet")))
    assert n_before >= 64
    before = sorted(r.id for r in spark.read.parquet(str(out)).collect())
    compact_parquet(spark, out, target_file_mb=512)
    n_after = len(list(out.rglob("*.parquet")))
    assert n_after <= 2
    after = sorted(r.id for r in spark.read.parquet(str(out)).collect())
    assert before == after


def test_write_sorted_total_order_across_files(spark, tmp_path):
    from tpg_weather_etl_spark.sources.writers import write_sorted

    out = tmp_path / "sorted"
    df = spark.range(0, 5000).withColumn(
        "k", (F.col("id") * 2654435761) % 100000)
    write_sorted(df.select("k", "id"), out, ["k", "id"], num_partitions=8)
    files = sorted(out.glob("part-*.parquet"))
    assert len(files) > 1
    # per-file [min,max] ranges must not overlap → total order
    ranges = []
    for f in files:
        ks = [r.k for r in spark.read.parquet(str(f)).collect()]
        assert ks == sorted(ks)          # sorted inside the file
        if ks:
            ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2                # disjoint across files


def test_merge_schema_reads_evolved_shards(spark, tmp_path):
    out = tmp_path / "evolving"
    spark.createDataFrame([(1, "a")], "id long, name string") \
        .write.parquet(str(out / "day=1"))
    spark.createDataFrame([(2, "b", 9.5)],
                          "id long, name string, score double") \
        .write.parquet(str(out / "day=2"))
    df = spark.read.option("mergeSchema", "true").parquet(str(out))
    rows = {r.id: r for r in df.collect()}
    assert set(df.columns) >= {"id", "name", "score"}
    assert rows[1].score is None        # padded for the old shard
    assert rows[2].score == 9.5


def test_ignore_corrupt_files_skips_poison_shard(spark, tmp_path):
    out = tmp_path / "mixed"
    out.mkdir()
    spark.range(0, 10).write.parquet(str(out / "good"))
    (out / "good" / "zzz-poison.parquet").write_bytes(b"not a parquet file")
    read = (spark.read
            .option("ignoreCorruptFiles", "true")
            .parquet(str(out / "good")))
    assert read.count() == 10


def test_narrow_projection_prunes_read_schema(spark):
    from tpg_weather_etl_spark.sources.tables import read_table

    df = read_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m, plan
    # the scan must read ONLY the projected columns — at 100 TB the
    # text column is ~99% of the bytes and must not leave the footer
    assert "text" not in m[0], m[0]
    assert "doc_id" in m[0] and "lang" in m[0]


def test_refresh_months_equals_full_rebuild(spark, tmp_path):
    import datetime as _dt
    from tpg_weather_etl_spark.sources.writers import (
        refresh_months, write_month_partitioned)

    def build(df):
        return df.groupBy("service_date").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("v_sum"))

    def mkrows(seed, n):
        return [(i, _dt.date(2024, 1 + (i + seed) % 3, 1 + i % 27),
                 float(i * seed)) for i in range(n)]

    v1 = spark.createDataFrame(mkrows(1, 200),
                               "id long, service_date date, v double")
    gold = tmp_path / "gold"
    write_month_partitioned(build(v1), gold, date_col="service_date")

    # february gets corrected data → refresh only that month
    v2_feb = spark.createDataFrame(
        [(i, _dt.date(2024, 2, 1 + i % 27), float(i * 7))
         for i in range(300)],
        "id long, service_date date, v double")
    full_v2 = v1.filter(F.month("service_date") != 2).unionByName(v2_feb)
    refreshed = refresh_months(spark, v2_feb, gold, build,
                               date_col="service_date")
    assert refreshed == ["2024-02"]

    got = spark.read.parquet(str(gold)).drop("month")
    want = build(full_v2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_aqe_splits_skewed_join(spark):
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot key carrying ~95% of the left side
        # pad is incompressible so the hot partition's shuffle bytes
        # actually exceed the skew threshold (constant keys compress
        # to nothing on their own)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"))
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        joined = left.join(right, "k").select("k", "pad")
        # execute THIS dataframe so its own AdaptiveSparkPlan finalizes
        # (a .write would run a separate query execution)
        assert len(joined.collect()) == 190_050
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # AQE must mark the hot partition split on the final plan —
        # the runtime answer to hot keys the static planner can't see
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_month_join(spark, tmp_path):
    import datetime as _dt
    from tpg_weather_etl_spark.sources.writers import write_month_partitioned

    rows = [(i, _dt.date(2024, 1 + (i % 6), 1 + i % 27), float(i))
            for i in range(2000)]
    fact = spark.createDataFrame(
        rows, "id long, service_date date, v double")
    out = str(tmp_path / "fact")
    write_month_partitioned(fact, out)

    dim = spark.createDataFrame(
        [("2024-02", "febfeature"), ("2099-01", "unused")],
        "month string, feature string")
    # DPP requires a selective predicate on the dim side
    joined = (spark.read.parquet(out)
              .join(dim.filter(F.col("feature") == "febfeature"), "month")
              .select("id", "feature"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the dim filter must reach the fact scan as a runtime partition
    # filter (DPP) — at 100 TB this reads one month, not the lake
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == sum(1 for _, d, _v in rows if d.month == 2)


def test_zorder_layout_clusters_both_dimensions(spark, tmp_path):
    """Z-order vs single-column sort: with a leading-column sort, each
    file spans (nearly) the full range of the SECOND column; the
    Morton layout confines files in BOTH dimensions, which is what
    lets parquet min/max stats prune two-dimensional slices."""
    import glob

    from tpg_weather_etl_spark.sources.tables import read_table
    from tpg_weather_etl_spark.sources.writers import (
        write_sorted,
        write_zordered,
    )

    e = read_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "user_id", "value").filter("value IS NOT NULL")
    zdir, sdir = tmp_path / "zorder", tmp_path / "sorted"
    write_zordered(e, zdir, ["user_id", "value"], num_partitions=64)
    write_sorted(e, sdir, ["user_id"], num_partitions=64)

    def mean_value_span(d):
        spans = []
        for f in glob.glob(str(d / "part-*.parquet")):
            row = spark.read.parquet(f).agg(
                F.min("value"), F.max("value")).collect()[0]
            spans.append(row[1] - row[0])
        return sum(spans) / len(spans)

    z_span, s_span = mean_value_span(zdir), mean_value_span(sdir)
    # rows preserved
    assert spark.read.parquet(str(zdir)).count() == e.count()
    # the user_id-sorted layout leaves value unclustered (each file
    # spans ~the full value range no matter how many files); at 64
    # files the Morton key gives ~3 bits per dimension, so per-file
    # value spans shrink to ~1/8 of the range
    assert z_span < 0.3 * s_span, (z_span, s_span)


def test_read_jsonl_documents_fixed_schema_and_corrupt_lines(spark, tmp_path):
    """JSONL reader: explicit schema (no inference pre-scan), corrupt
    lines become null rows instead of failures or type flips."""
    import json

    from tpg_weather_etl_spark.sources.readers import read_jsonl_documents

    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join([
        json.dumps({"doc_id": 1, "text": "alpha beta", "lang": "en",
                    "source": "web", "n_chars": 10}),
        "{ this is not json",
        json.dumps({"doc_id": 2, "text": "gamma", "lang": "fr",
                    "source": "books", "n_chars": 5}),
    ]))
    df = read_jsonl_documents(spark, p)
    assert [f.name for f in df.schema.fields] == \
        ["doc_id", "text", "lang", "source", "n_chars"]
    rows = df.collect()
    assert len(rows) == 3
    good = {r.doc_id for r in rows if r.doc_id is not None}
    assert good == {1, 2}


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    from tpg_weather_etl_spark.sources.readers import read_orc
    from tpg_weather_etl_spark.sources.tables import read_table
    from tpg_weather_etl_spark.sources.writers import write_orc

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    out = tmp_path / "docs_orc"
    write_orc(docs, out)
    back = read_orc(spark, out)
    assert back.schema == docs.schema
    assert back.count() == docs.count()
    # predicate pushdown + column pruning reach the ORC scan
    q = back.filter(F.col("doc_id") < 10).select("doc_id", "source")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(doc_id,10)" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan, plan
