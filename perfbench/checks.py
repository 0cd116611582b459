"""Correctness checks: DuckDB references over the files the engine wrote.

Each check returns a list of problems (empty = pass). The transit
references replay the reference pipeline's feature SQL (strict weather
join on the dominant station, 10-minute bins) and its by-stop-line
aggregate over the engine's own silver and warehouse parquet, and the
results are compared order-insensitively with ``EXCEPT ALL`` both ways,
doubles rounded to 6 decimals.
"""

from __future__ import annotations

import datetime as dt
import math
from pathlib import Path

import duckdb

WEATHER = ["temp_c", "rain_mm", "wind_ms", "gust_ms", "wind_dir_deg",
           "humidity", "pressure_hpa", "global_rad_wm2", "sunshine_min",
           "dewpoint_c"]

REF_FEATURES_SQL = """
WITH base AS (
  SELECT service_date, operator_abbr, product_id, line_text, stop_name,
         stop_code, arrival_sched_ts, arrival_est_ts, depart_sched_ts,
         depart_est_ts
  FROM ist_events
  WHERE operator_abbr = 'TPG'
    AND (product_id IN ('Bus','Tram') OR product_id IS NULL)
    AND (arrival_sched_ts IS NOT NULL OR depart_sched_ts IS NOT NULL)
),
enriched AS (
  SELECT base.*,
    COALESCE(depart_sched_ts, arrival_sched_ts) AS sched_ts,
    COALESCE(depart_est_ts, arrival_est_ts) AS est_ts,
    (depart_sched_ts IS NULL AND arrival_sched_ts IS NOT NULL)
      AS coalesce_sched_from_arrival,
    (depart_est_ts IS NULL AND arrival_est_ts IS NOT NULL)
      AS coalesce_est_from_arrival,
    ((depart_sched_ts IS NULL AND arrival_sched_ts IS NOT NULL)
      OR (depart_est_ts IS NULL AND arrival_est_ts IS NOT NULL))
      AS any_coalesce_from_arrival,
    CASE WHEN COALESCE(depart_sched_ts, arrival_sched_ts) IS NOT NULL
          AND COALESCE(depart_est_ts, arrival_est_ts) IS NOT NULL
         THEN DATE_DIFF('second',
                CAST(COALESCE(depart_sched_ts, arrival_sched_ts) AS TIMESTAMP),
                CAST(COALESCE(depart_est_ts, arrival_est_ts) AS TIMESTAMP))
    END AS delay_sec,
    CASE WHEN depart_sched_ts IS NOT NULL AND depart_est_ts IS NOT NULL
         THEN DATE_DIFF('second', CAST(depart_sched_ts AS TIMESTAMP),
                        CAST(depart_est_ts AS TIMESTAMP))
    END AS depart_only_delay_sec,
    (TIMESTAMP '1970-01-01' + INTERVAL (FLOOR(DATE_DIFF('minute',
        TIMESTAMP '1970-01-01',
        COALESCE(depart_sched_ts, arrival_sched_ts)) / 10) * 10) MINUTE)
      AS sched_bin
  FROM base
)
SELECT e.service_date, e.line_text, e.stop_name, e.stop_code,
       e.arrival_sched_ts, e.arrival_est_ts, e.depart_sched_ts,
       e.depart_est_ts, e.sched_ts, e.est_ts,
       e.coalesce_sched_from_arrival, e.coalesce_est_from_arrival,
       e.any_coalesce_from_arrival, e.delay_sec,
       CAST(e.delay_sec AS DOUBLE) / 60.0 AS delay_min,
       e.depart_only_delay_sec, e.sched_bin,
       w.temp_c, w.rain_mm, w.wind_ms, w.gust_ms, w.wind_dir_deg,
       w.humidity, w.pressure_hpa, w.global_rad_wm2, w.sunshine_min,
       w.dewpoint_c
FROM enriched e
LEFT JOIN weather_obs w ON w.ts_utc = e.sched_bin AND w.station_id = '{station}'
"""

REF_GOLD_SQL = """
WITH base AS (
  SELECT line_text, stop_code,
         COALESCE(stop_name, CAST(stop_code AS VARCHAR)) AS stop_name,
         sched_bin, delay_min, any_coalesce_from_arrival, {weather}
  FROM ref_features
  WHERE sched_bin IS NOT NULL
)
SELECT line_text, stop_code,
       line_text || '·' || CAST(stop_code AS VARCHAR) AS stop_key,
       MAX(stop_name) AS stop_name, sched_bin,
       CAST(COUNT(*) AS BIGINT) AS n_trips,
       CAST(AVG(delay_min) AS DOUBLE) AS delay_avg_min,
       MEDIAN(delay_min) AS delay_p50_min,
       QUANTILE(delay_min, 0.9) AS delay_p90_min,
       AVG(CAST(delay_min >= 2 AS DOUBLE)) AS share_late_ge2,
       AVG(CAST(any_coalesce_from_arrival AS DOUBLE)) AS share_coalesce,
       AVG(temp_c) AS temp_c_mean, AVG(rain_mm) AS rain_mm_mean,
       MAX(rain_mm) AS rain_mm_max, AVG(wind_ms) AS wind_ms_mean,
       AVG(gust_ms) AS gust_ms_mean, AVG(wind_dir_deg) AS wind_dir_deg_mean,
       AVG(humidity) AS humidity_mean, AVG(pressure_hpa) AS pressure_hpa_mean,
       AVG(global_rad_wm2) AS global_rad_wm2_mean,
       AVG(sunshine_min) AS sunshine_min_mean,
       AVG(dewpoint_c) AS dewpoint_c_mean
FROM base
GROUP BY 1, 2, 3, 5
"""

# feature_training_row DDL: column order and Spark types
TRAINING_ROW_DDL = [
    ("row_id", "bigint"), ("service_date", "date"), ("route_id", "string"),
    ("line_text", "string"), ("stop_id", "string"), ("stop_name", "string"),
    ("ts_event", "timestamp"), ("target_late2m_15", "boolean"),
    ("target_late2m_30", "boolean"), ("delay_depart_sec", "int"),
    ("med_delay_7d_sec", "int"), ("med_delay_14d_sec", "int"),
    ("med_delay_28d_sec", "int"), ("dow", "int"), ("hour", "int"),
    ("minute_bin", "int"), ("is_holiday", "boolean"),
    ("sin_hour", "double"), ("cos_hour", "double"), ("temp_c", "double"),
    ("rain_mm", "double"), ("wind_ms", "double"), ("gust_ms", "double"),
    ("rain_mm_lag10", "double"), ("rain_mm_lag20", "double"),
    ("wind_ms_lag10", "double"), ("wind_ms_lag20", "double"),
]


def _pq(path: Path, hive: bool = False) -> str:
    opts = ", hive_partitioning = true" if hive else ""
    return f"read_parquet('{path}/**/*.parquet'{opts})"


def _rounded(con, table: str) -> str:
    cols = []
    for name, typ, *_ in con.execute(f"DESCRIBE {table}").fetchall():
        if typ in ("DOUBLE", "FLOAT"):
            cols.append(f"round({name}, 6) AS {name}")
        else:
            cols.append(name)
    return f"SELECT {', '.join(cols)} FROM {table}"


def _same_rows(con, got: str, want: str, label: str) -> list[str]:
    n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
    if n_got != n_want:
        return [f"{label}: {n_got} rows, reference has {n_want}"]
    g, w = _rounded(con, got), _rounded(con, want)
    extra = con.execute(f"SELECT count(*) FROM ({g} EXCEPT ALL {w})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({w} EXCEPT ALL {g})").fetchone()[0]
    if extra or missing:
        return [f"{label}: {extra} rows not in reference, {missing} "
                f"reference rows missing"]
    return []


def transit_outputs(root: Path, ledger: dict, staged_rows: int) -> tuple[list[str], dict]:
    """Check one pass's data root against the ledger and the reference
    SQL. Returns (problems, row counts)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    problems: list[str] = []
    con.execute(f"CREATE VIEW ist_events AS SELECT * FROM "
                f"{_pq(root / 'silver' / 'ist', hive=True)}")
    con.execute(f"CREATE VIEW weather_obs AS SELECT * FROM "
                f"{_pq(root / 'warehouse' / 'weather_obs')}")
    for name in ("features_events", "features_by_stop_line",
                 "feature_training_row"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"{_pq(root / 'gold' / name)}")
    count = lambda t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]  # noqa: E731

    ist = ledger["ist"]
    rows = {"rows_in": staged_rows, "rows_out": count("ist_events")}
    rows["rows_rejected"] = rows["rows_in"] - rows["rows_out"]
    for k in ("rows_in", "rows_out", "rows_rejected"):
        if rows[k] != ist[k]:
            problems.append(f"ledger: {k} = {rows[k]}, generator planted "
                            f"{ist[k]}")
    if count("weather_obs") != ledger["weather"]["rows_out"]:
        problems.append(f"ledger: weather_obs has {count('weather_obs')} rows,"
                        f" expected {ledger['weather']['rows_out']}")
    gtfs = ledger["gtfs"]
    for table, key in (("gtfs_routes", "routes"), ("gtfs_trips", "trips"),
                       ("gtfs_stop_times", "stop_times"),
                       ("gtfs_stops", "stops")):
        n = count(_pq(root / "warehouse" / table))
        if n != gtfs[key]:
            problems.append(f"ledger: {table} has {n} rows, expected "
                            f"{gtfs[key]}")

    con.execute("CREATE TABLE ref_features AS "
                + REF_FEATURES_SQL.format(station=ledger["dominant_station"]))
    con.execute("CREATE TABLE ref_gold AS "
                + REF_GOLD_SQL.format(weather=", ".join(WEATHER)))
    feat_cols = [r[0] for r in con.execute("DESCRIBE ref_features").fetchall()]
    gold_cols = [r[0] for r in con.execute("DESCRIBE ref_gold").fetchall()]
    con.execute(f"CREATE VIEW got_features AS SELECT {', '.join(feat_cols)} "
                f"FROM features_events")
    con.execute(f"CREATE VIEW got_gold AS SELECT {', '.join(gold_cols)} "
                f"FROM features_by_stop_line")
    problems += _same_rows(con, "got_features", "ref_features",
                           "features_events")
    problems += _same_rows(con, "got_gold", "ref_gold",
                           "features_by_stop_line")
    if count("features_events") != ist["features_rows"]:
        problems.append(f"ledger: features_events has "
                        f"{count('features_events')} rows, expected "
                        f"{ist['features_rows']}")
    if count("feature_training_row") != ist["features_rows"]:
        problems.append(f"feature_training_row has "
                        f"{count('feature_training_row')} rows, expected "
                        f"{ist['features_rows']}")
    con.close()
    return problems, rows


def training_row_schema(spark_schema) -> list[str]:
    got = [(f.name, f.dataType.simpleString()) for f in spark_schema.fields]
    if got != TRAINING_ROW_DDL:
        return [f"feature_training_row schema {got} != DDL {TRAINING_ROW_DDL}"]
    return []


# -- dashboard panels ----------------------------------------------------

def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


class PanelOracle:
    """DuckDB answers for the KPI and option panels over the gold files."""

    def __init__(self, gold_root: Path):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"CREATE VIEW fe AS SELECT * FROM "
                         f"{_pq(gold_root / 'features_events')}")
        self.con.execute(f"CREATE VIEW g AS SELECT *, CAST(sched_bin AS DATE)"
                         f" AS date FROM "
                         f"{_pq(gold_root / 'features_by_stop_line')}")

    def close(self) -> None:
        self.con.close()

    def kpis(self) -> dict:
        full = " AND ".join(f"{c} IS NOT NULL" for c in WEATHER)
        r = self.con.execute(f"""
          SELECT COUNT(*),
            SUM(CASE WHEN depart_sched_ts IS NOT NULL
                      AND depart_est_ts IS NOT NULL THEN 1 ELSE 0 END),
            AVG(CAST(any_coalesce_from_arrival AS DOUBLE)) * 100,
            SUM(CASE WHEN sched_ts IS NULL OR est_ts IS NULL
                     THEN 1 ELSE 0 END),
            SUM(CASE WHEN {full} THEN 1 ELSE 0 END)
          FROM fe""").fetchone()
        return dict(zip(("rows_total", "both_depart_present",
                         "pct_any_coalesce", "unusable",
                         "full_weather_rows"), r))

    def coalescing(self) -> list[tuple[str, int]]:
        r = self.con.execute("""
          SELECT SUM(CAST(coalesce_sched_from_arrival AS BIGINT)),
                 SUM(CAST(coalesce_est_from_arrival AS BIGINT)),
                 SUM(CAST(any_coalesce_from_arrival AS BIGINT)),
                 SUM(CASE WHEN depart_sched_ts IS NOT NULL
                           AND depart_est_ts IS NOT NULL THEN 1 ELSE 0 END)
          FROM fe""").fetchone()
        return list(zip(("coalesce_sched_from_arrival",
                         "coalesce_est_from_arrival",
                         "any_coalesce_from_arrival",
                         "both_depart_present"), r))

    def line_options(self) -> list[str]:
        return [r[0] for r in self.con.execute(
            "SELECT DISTINCT line_text FROM g WHERE line_text IS NOT NULL "
            "ORDER BY 1").fetchall()]

    def stop_options(self, lines: list[str]) -> set:
        where = (f"WHERE line_text IN ({', '.join(repr(x) for x in lines)})"
                 if lines else "")
        return set(self.con.execute(
            f"SELECT DISTINCT stop_key, stop_name FROM g {where}").fetchall())

    def kpi_row(self, lines, stop_keys, date_range) -> dict:
        conds = ["TRUE"]
        if lines:
            conds.append(f"line_text IN ({', '.join(repr(x) for x in lines)})")
        if stop_keys:
            conds.append(f"stop_key IN ({', '.join(repr(x) for x in stop_keys)})")
        if date_range:
            conds.append(f"date BETWEEN DATE '{date_range[0]}' "
                         f"AND DATE '{date_range[1]}'")
        r = self.con.execute(f"""
          SELECT SUM(n_trips), AVG(delay_avg_min), AVG(delay_p90_min),
                 AVG(share_late_ge2)
          FROM g WHERE {' AND '.join(conds)}""").fetchone()
        return dict(zip(("trips", "avg_delay_min", "p90_delay_min",
                         "share_late_ge2"), r))

    def check(self, panel: str, args: tuple, got) -> list[str]:
        """Compare one recorded panel result with DuckDB."""
        if panel == "kpis":
            want = self.kpis()
            bad = [k for k in want if not _close(got.get(k), want[k])]
        elif panel == "coalescing":
            want = self.coalescing()
            bad = [m for (m, c, _), (m2, c2) in zip(got, want)
                   if m != m2 or c != (c2 or 0)]
            if len(got) != len(want):
                bad.append("length")
        elif panel == "line_options":
            want = self.line_options()
            bad = [] if got == want else ["lines"]
        elif panel == "stop_options":
            want = self.stop_options(list(args[0]))
            bad = [] if set(got) == want else ["stops"]
        elif panel == "kpi_row":
            want = self.kpi_row(*args)
            bad = [k for k in want if not _close(got.get(k), want[k])]
        else:
            return []
        return [f"panel {panel}{args}: {bad} differ from DuckDB"] if bad else []



# -- gate queries ------------------------------------------------------

def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


class GateOracle:
    """DuckDB over the generated gate tables."""

    TABLES = ["lineitem", "events", "documents", "embeddings"]

    def __init__(self, data_dir: Path):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in self.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, sql: str, cols: list[str], rows: list) -> list[str]:
        res = self.con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return [f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}"]
        if len(rows) != len(orows):
            return [f"{name}: {len(rows)} rows, oracle {len(orows)}"]
        got, want = _canon_rows(cols, rows), _canon_rows(ocols, orows)
        ndiff = sum(a != b for a, b in zip(got, want))
        return [f"{name}: {ndiff}/{len(got)} rows differ from oracle"] if ndiff else []
