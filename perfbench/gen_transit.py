"""Seeded raw-file generator for the transit workloads.

Writes what the CLI ingests -- one GTFS zip, IstDaten ZIP archives of
daily semicolon CSVs, and one MeteoSwiss CSV per weather station -- plus
``ledger.json``, which records every planted row and the row counts the
pipeline must produce from them.

The files are timetable-consistent: lines -> stop sequences -> trips at a
fixed headway, and every (service day, trip, stop) of the timetable is
one IstDaten row, so GTFS and IstDaten describe the same service.

Planted scenarios (FIXTURES.md): priority duplicates and exact
duplicates, SBB and ``Zug`` rows, rows with both scheduled times empty,
day-first timestamps with and without seconds, GTFS clocks past 24:00,
``-`` sentinels, even-count weather duplicate groups, gaps in the 10-min
weather grid, unparseable timestamps, a latin-1 encoded archive member,
a weather file missing a measure column, and archive members that the
stager must skip.

Same ``seed`` gives byte-identical files (zip members carry a fixed
timestamp).
"""

from __future__ import annotations

import datetime as dt
import json
import random
import zipfile
from pathlib import Path

DAYS = 28
FIRST_DAY = dt.date(2024, 2, 19)      # a Monday; the span crosses Feb -> Mar
SERVICE_START_MIN = 5 * 60            # first departure 05:00
SERVICE_END_MIN = 24 * 60 + 30        # last departure 24:30 (GTFS clock)
STOPS_PER_LINE = 12
TRIPS_PER_DIR = 2                     # trips per line and direction a day
LINES = [("12", "Tram"), ("14", "Tram"), ("18", "Tram"),
         ("3", "Bus"), ("8", "Bus"), ("D", "Bus")]
STATIONS = ("GVE", "COI")             # GVE has the fuller grid -> dominant

STOP_NAMES = [
    "Genève-Cornavin", "Plainpalais", "Bel-Air", "Carouge-Marché",
    "Lancy-Pont-Rouge", "Bachet-de-Pesay", "Rive", "Molard", "Stand",
    "Jonction", "Palettes", "Acacias", "Pont-d'Arve", "Augustins",
    "Place-de-Neuve", "Cirque", "Coutance", "Gare-des-Eaux-Vives",
    "Terrassière", "Chêne-Bourg", "Moillesulaz", "Thônex-Vallard",
    "Petit-Lancy", "Onex-Cité", "Bernex-P+R", "Meyrin-Gravière",
    "CERN", "Servette", "Vieusseux", "Balexert", "Nations", "Sécheron",
    "Vernier", "Lignon", "Aïre", "Châtelaine", "Vermont", "Grottes",
    "Saint-Jean", "Délices",
]

IST_HEADER = [
    "BETRIEBSTAG", "FAHRT_BEZEICHNER", "BETREIBER_ID", "BETREIBER_ABK",
    "PRODUKT_ID", "LINIEN_ID", "LINIEN_TEXT", "ZUSATZFAHRT_TF",
    "FAELLT_AUS_TF", "BPUIC", "HALTESTELLEN_NAME", "ANKUNFTSZEIT",
    "AN_PROGNOSE", "AN_PROGNOSE_STATUS", "ABFAHRTSZEIT", "AB_PROGNOSE",
    "AB_PROGNOSE_STATUS", "DURCHFAHRT_TF",
]
WX_HEADER = ["station_abbr", "reference_timestamp", "tre200s0", "rre150z0",
             "fu3010z0", "fu3010z1", "dkl010z0", "ure200s0", "prestas0",
             "gre000z0", "sre000z0", "tde200s0"]
WX_DROPPED_COLUMN = "sre000z0"        # absent from the second station's file

_ZIP_TIME = (1980, 1, 1, 0, 0, 0)
_GARBAGE_TS = "31.02.2024 25:61"


def _day(d: dt.date) -> str:
    return d.strftime("%d.%m.%Y")


def _ts(t: dt.datetime, seconds: bool) -> str:
    return t.strftime("%d.%m.%Y %H:%M:%S" if seconds else "%d.%m.%Y %H:%M")


def _clock(minutes: int) -> str:
    return f"{minutes // 60:02d}:{minutes % 60:02d}:00"


class _Zip:
    """Zip writer whose bytes depend only on what is added: every member
    carries the same fixed timestamp."""

    def __init__(self, path: Path):
        self._zf = zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED)

    def add(self, name: str, data: bytes) -> None:
        info = zipfile.ZipInfo(name, _ZIP_TIME)
        info.compress_type = zipfile.ZIP_DEFLATED
        self._zf.writestr(info, data)

    def close(self) -> None:
        self._zf.close()


def _timetable(rng: random.Random):
    """Lines, their stop sequences, and ``TRIPS_PER_DIR`` trips per
    direction at a fixed headway over the service day."""
    codes = [8587000 + 10 * i for i in range(len(STOP_NAMES))]
    headway = (SERVICE_END_MIN - SERVICE_START_MIN) // TRIPS_PER_DIR
    lines = []
    for li, (name, product) in enumerate(LINES):
        seq = rng.sample(range(len(codes)), STOPS_PER_LINE)
        hops = [rng.randint(1, 3) for _ in range(STOPS_PER_LINE - 1)]
        trips = []
        for direction in (0, 1):
            stops = seq if direction == 0 else seq[::-1]
            legs = hops if direction == 0 else hops[::-1]
            offset = rng.randint(0, headway - 1)
            for k in range(TRIPS_PER_DIR):
                start = SERVICE_START_MIN + offset + k * headway
                times, t = [], start
                for s in range(STOPS_PER_LINE):
                    times.append(t)
                    if s < STOPS_PER_LINE - 1:
                        t += legs[s]
                trip_id = f"{name}-{direction}-{k:03d}"
                trips.append((trip_id, direction, stops, times))
        lines.append({"route_id": f"R{li:02d}", "name": name,
                      "product": product, "trips": trips})
    return codes, lines, headway


def _gtfs(path: Path, codes, lines) -> dict:
    agency = "agency_id,agency_name\nTPG,Transports Publics Genevois (TPG)\n" \
             "UNI,Unireso Partner Rail\n"
    routes = ["route_id,agency_id,route_short_name,route_long_name,route_type"]
    trips = ["route_id,service_id,trip_id,trip_headsign,direction_id"]
    stop_times = ["trip_id,arrival_time,departure_time,stop_id,stop_sequence"]
    n_past_24 = 0
    for line in lines:
        rtype = 0 if line["product"] == "Tram" else 3
        routes.append(f"{line['route_id']},TPG,{line['name']},"
                      f"Ligne {line['name']},{rtype}")
        for trip_id, direction, stops, times in line["trips"]:
            trips.append(f"{line['route_id']},WD,{trip_id},"
                         f"{STOP_NAMES[stops[-1]]},{direction}")
            for seq, (s, t) in enumerate(zip(stops, times), start=1):
                n_past_24 += t >= 24 * 60
                stop_times.append(f"{trip_id},{_clock(t)},{_clock(t)},"
                                  f"{codes[s]},{seq}")
    # another operator's route and trip, and a route with no agency:
    # the operator filter and the semi-join cascade must drop them
    routes.append("X1,UNI,L1,Léman Express,2")
    routes.append("X2,,N9,Orphan night line,3")
    trips.append("X1,WD,X1-0-000,Annemasse,0")
    stop_times.append(f"X1-0-000,06:00:00,06:00:00,{codes[0]},1")
    stops = ["stop_id,stop_name,stop_lat,stop_lon,location_type"]
    for i, code in enumerate(codes):
        stops.append(f"{code},\"{STOP_NAMES[i]}\",{46.17 + i * 0.002:.4f},"
                     f"{6.10 + i * 0.003:.4f},0")
    stops.append("8599999,Unserved stop,46.3000,6.3000,0")
    z = _Zip(path)
    for name, body in (
        ("agency.txt", agency),
        ("routes.txt", "\n".join(routes) + "\n"),
        ("trips.txt", "\n".join(trips) + "\n"),
        ("stop_times.txt", "\n".join(stop_times) + "\n"),
        ("stops.txt", "\n".join(stops) + "\n"),
        ("feed_info.txt", "feed_publisher_name,feed_version\nTPG,2024-02-19\n"),
    ):
        z.add(name, body.encode("utf-8"))
    z.close()
    n_trips = sum(len(line["trips"]) for line in lines)
    return {"routes": len(lines), "trips": n_trips,
            "stop_times": n_trips * STOPS_PER_LINE,
            "stops": len({s for line in lines for t in line["trips"]
                          for s in t[2]}),
            "clocks_past_24h": n_past_24}


_STATUS_HIGH = ("REAL", "REAL", "REAL", "IST")
_STATUS_OTHER = ("GESCHAETZT", "PROGNOSE", "", "UNBEKANNT")
_BOOL_FALSE = ("false", "0", "", "False", "garbage")


def _ist_rows(rng: random.Random, codes, lines, day: dt.date, led: dict):
    """All IstDaten rows of one service day, planted rows included."""
    out = []
    base_dt = dt.datetime.combine(day, dt.time())
    for line in lines:
        for trip_id, _direction, stops, times in line["trips"]:
            fahrt = f"85:849:{trip_id}"
            product = line["product"] if rng.random() > 0.02 else ""
            trip_delay = rng.gauss(60, 90)
            for s, (stop, t) in enumerate(zip(stops, times)):
                sched = base_dt + dt.timedelta(minutes=t)
                delay = int(trip_delay + rng.gauss(0, 40) + 6 * s)
                est = sched + dt.timedelta(seconds=delay)
                first, last = s == 0, s == STOPS_PER_LINE - 1
                a_sched = "" if first else _ts(sched, seconds=False)
                d_sched = "" if last else _ts(sched, seconds=False)
                a_est = "" if first else _ts(est, seconds=True)
                d_est = "" if last else _ts(est + dt.timedelta(seconds=20),
                                            seconds=True)
                if rng.random() < 0.03:       # no estimate at all
                    a_est = d_est = ""
                    led["no_estimate"] += 1
                if rng.random() < 0.002 and not first:
                    a_est = _GARBAGE_TS        # unparseable -> NULL
                    led["unparseable_est"] += 1
                if rng.random() < 0.002:
                    a_sched = d_sched = ""     # survives ingest, not features
                    led["both_sched_null"] += 1
                name = STOP_NAMES[stop] if rng.random() > 0.01 else ""
                status = rng.choice(_STATUS_HIGH) if rng.random() < 0.9 \
                    else rng.choice(_STATUS_OTHER)
                row = [_day(day), fahrt, "85:849", "TPG", product,
                       f"85:849:{line['name']}", line["name"],
                       rng.choice(_BOOL_FALSE),
                       "true" if rng.random() < 0.004 else rng.choice(_BOOL_FALSE),
                       str(codes[stop]), name, a_sched, a_est, status,
                       d_sched, d_est, status, rng.choice(_BOOL_FALSE)]
                out.append(row)
                led["base_rows"] += 1
                if rng.random() < 0.02 and status in _STATUS_HIGH:
                    # same key, lower status rank: dedupe keeps `row`
                    dup = list(row)
                    dup[13] = dup[16] = "PROGNOSE"
                    if dup[12]:
                        dup[12] = _ts(est + dt.timedelta(minutes=5), True)
                    out.append(dup)
                    led["priority_duplicates"] += 1
                if rng.random() < 0.01:
                    out.append(list(row))
                    led["exact_duplicates"] += 1
    # rows the operator / product filters reject
    for i in range(max(1, len(out) // 100)):
        t = base_dt + dt.timedelta(minutes=360 + 7 * i)
        code = str(codes[i % len(codes)])
        if i % 2 == 0:
            out.append([_day(day), f"85:11:{i}", "85:11", "SBB", "Bus",
                        "85:11:S", "S1", "false", "false", code, "Genève",
                        _ts(t, False), _ts(t, True), "REAL", _ts(t, False),
                        _ts(t, True), "REAL", "false"])
            led["sbb_rows"] += 1
        else:
            out.append([_day(day), f"85:849:Z{i}", "85:849", "TPG", "Zug",
                        "85:849:Z", "Z", "false", "false", code, "Genève",
                        _ts(t, False), _ts(t, True), "REAL", _ts(t, False),
                        _ts(t, True), "REAL", "false"])
            led["zug_rows"] += 1
    rng.shuffle(out)
    return out


def _ist_archives(out_dir: Path, rng: random.Random, codes, lines) -> dict:
    led = {k: 0 for k in ("base_rows", "priority_duplicates",
                          "exact_duplicates", "sbb_rows", "zug_rows",
                          "both_sched_null", "unparseable_est",
                          "no_estimate")}
    led["rows_in"] = 0
    led["archives"] = []
    week = None
    z = None
    for d in range(DAYS):
        day = FIRST_DAY + dt.timedelta(days=d)
        if d % 7 == 0:
            if z is not None:
                z.close()
            week = d // 7
            name = f"ist_{day.isoformat()}_w{week}.zip"
            led["archives"].append(name)
            z = _Zip(out_dir / name)
            z.add("LIESMICH.txt", b"not an istdaten member\n")
        rows = _ist_rows(rng, codes, lines, day, led)
        led["rows_in"] += len(rows)
        text = ";".join(IST_HEADER) + "\n" + "".join(
            ";".join(r) + "\n" for r in rows)
        # the second week's members are latin-1 (accented stop names);
        # the stager decodes utf-8-sig first and falls back to latin-1
        data = (text.encode("latin-1") if week == 1
                else text.encode("utf-8-sig"))
        z.add(f"{day.isoformat()}_istdaten.csv", data)
    z.close()
    rejected = (led["priority_duplicates"] + led["exact_duplicates"]
                + led["sbb_rows"] + led["zug_rows"])
    led["rows_rejected"] = rejected
    led["rows_out"] = led["rows_in"] - rejected
    led["features_rows"] = led["rows_out"] - led["both_sched_null"]
    return led


def _weather(out_dir: Path, rng: random.Random) -> dict:
    led = {"stations": list(STATIONS), "grid_gaps": 0, "dash_sentinels": 0,
           "duplicate_groups_even": 0, "duplicate_groups_odd": 0,
           "exact_duplicates": 0, "unparseable_ts": 0, "rows_raw": 0,
           "rows_out": 0, "dropped_column": WX_DROPPED_COLUMN}
    t0 = dt.datetime.combine(FIRST_DAY, dt.time())
    steps = (DAYS + 1) * 24 * 6
    for si, station in enumerate(STATIONS):
        header = [c for c in WX_HEADER if si == 0 or c != WX_DROPPED_COLUMN]
        gap_p = 0.005 if si == 0 else 0.08
        lines = []
        for k in range(steps):
            if rng.random() < gap_p:
                led["grid_gaps"] += 1
                continue
            t = t0 + dt.timedelta(minutes=10 * k)
            hour = t.hour + t.minute / 60

            def values():
                temp = 4 + 5 * ((hour - 6) / 12 if 6 <= hour <= 18
                                else 0) + rng.gauss(0, 1.5) - 3 * si
                rain = max(0.0, rng.gauss(-0.6, 0.5))
                wind = max(0.0, rng.gauss(10, 5))
                v = [f"{temp:.1f}", f"{rain:.1f}", f"{wind:.1f}",
                     f"{wind * 1.6:.1f}", str(rng.randint(0, 359)),
                     f"{rng.uniform(50, 95):.1f}",
                     f"{rng.uniform(960, 975):.1f}",
                     str(rng.randint(0, 400)), str(rng.randint(0, 10)),
                     f"{temp - 3:.1f}"]
                if si:
                    del v[WX_HEADER.index(WX_DROPPED_COLUMN) - 2]
                for i in range(len(v)):
                    if rng.random() < 0.01:
                        v[i] = "-"
                        led["dash_sentinels"] += 1
                return v

            ts = t.strftime("%d.%m.%Y %H:%M")
            lines.append([station, ts, *values()])
            led["rows_out"] += 1
            r = rng.random()
            if r < 0.01:
                lines.append([station, ts, *values()])
                led["duplicate_groups_even"] += 1
            elif r < 0.013:
                lines.append([station, ts, *values()])
                lines.append([station, ts, *values()])
                led["duplicate_groups_odd"] += 1
            elif r < 0.018:
                lines.append(list(lines[-1]))
                led["exact_duplicates"] += 1
            if rng.random() < 0.002:
                lines.append([station, _GARBAGE_TS, *values()])
                led["unparseable_ts"] += 1
        led["rows_raw"] += len(lines)
        body = ";".join(header) + "\n" + "".join(
            ";".join(r) + "\n" for r in lines)
        (out_dir / f"ogd-smn_{station.lower()}_t_recent.csv").write_bytes(
            body.encode("utf-8"))
    return led


def generate(out_dir: Path, seed: int) -> dict:
    """Write one input set into ``out_dir`` and return its ledger."""
    out_dir = Path(out_dir)
    (out_dir / "ist").mkdir(parents=True, exist_ok=True)
    (out_dir / "weather").mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    codes, lines, headway = _timetable(rng)
    ledger = {
        "seed": seed, "days": DAYS,
        "first_day": FIRST_DAY.isoformat(), "headway_min": headway,
        "dominant_station": STATIONS[0],
        "line_stops": {line["name"]: [codes[s] for s in line["trips"][0][2]]
                       for line in lines},
        "gtfs": _gtfs(out_dir / "gtfs_tpg_2024-02-19.zip", codes, lines),
        "ist": _ist_archives(out_dir / "ist", rng, codes, lines),
        "weather": _weather(out_dir / "weather", rng),
    }
    (out_dir / "ledger.json").write_text(
        json.dumps(ledger, indent=1, sort_keys=True) + "\n")
    return ledger

