"""Command-line entry points mirroring the reference's scripts:

  reference                              this engine
  -------------------------------------  ----------------------------------
  python src/01_ingest_gtfs.py --zip Z   python -m tpg_weather_etl_spark.cli ingest-gtfs --zip Z
  python src/02_ingest_istdaten.py       ... ingest-istdaten --glob 'data/raw/ist/*.csv'
  python src/03_ingest_weather.py        ... ingest-weather --glob 'data/raw/weather/*.csv'
  python src/10_build_features.py        ... build-features [--asof] [--station-id GVE]
  python src/11_build_features_by_stop_line.py  ... build-features-by-stop-line
  (documented, missing in reference)     ... build-training-rows

Directory layout defaults to the reference's medallion layout under
--data-root: raw → silver (parquet) → warehouse (parquet tables) →
gold (parquet).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

from pyspark.sql import functions as F


def _spark():
    from tpg_weather_etl_spark.session import get_spark
    s = get_spark(app_name="tpg_weather_etl_spark.cli")
    s.sparkContext.setLogLevel("WARN")
    return s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="tpg_weather_etl_spark")
    ap.add_argument("--data-root", default="data", help="medallion root dir")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("ingest-gtfs")
    g.add_argument("--zip", required=True)
    g.add_argument("--operator", default="Transports Publics Genevois")

    i = sub.add_parser("ingest-istdaten")
    i.add_argument("--glob", action="append", required=True)
    i.add_argument("--operator-abbr", default="TPG")

    w = sub.add_parser("ingest-weather")
    w.add_argument("--glob", action="append", required=True)

    f = sub.add_parser("build-features")
    f.add_argument("--asof", action="store_true")
    f.add_argument("--station-id", default=None)

    sub.add_parser("build-features-by-stop-line")
    sub.add_parser("build-training-rows")

    c = sub.add_parser(
        "curate-corpus",
        help="documents table → Gopher-quality filter → near-dup "
             "dedup (MinHash clusters, longest-doc keeper) → curated "
             "corpus parquet + stage counts",
    )
    c.add_argument("--input", required=True,
                   help="dir containing documents.parquet")
    c.add_argument("--out", required=True)

    args = ap.parse_args(argv)
    root = Path(args.data_root)
    spark = _spark()

    if args.cmd == "ingest-gtfs":
        from tpg_weather_etl_spark.ingest.gtfs import ingest_gtfs
        counts = ingest_gtfs(spark, args.zip, root / "staging" / "gtfs",
                             root / "warehouse",
                             operator_pattern=args.operator)
        for name, n in counts.items():
            print(f"{name}: {n} rows")

    elif args.cmd == "ingest-istdaten":
        from tpg_weather_etl_spark.ingest.istdaten import ingest_istdaten
        from tpg_weather_etl_spark.sources.staging import (
            expand_globs,
            stage_zip_members,
        )
        paths: list[Path] = []
        for p in expand_globs(args.glob):
            if p.suffix.lower() == ".zip":
                paths.extend(stage_zip_members(p, root / "staging" / "ist"))
            else:
                paths.append(p)
        if not paths:
            print("no input files", file=sys.stderr)
            return 2
        n = ingest_istdaten(spark, paths, root / "silver" / "ist",
                            operator_abbr=args.operator_abbr)
        print(f"ist_events: {n} rows")

    elif args.cmd == "ingest-weather":
        from tpg_weather_etl_spark.ingest.weather import ingest_weather
        from tpg_weather_etl_spark.sources.staging import expand_globs
        paths = expand_globs(args.glob)
        if not paths:
            print("no input files", file=sys.stderr)
            return 2
        n = ingest_weather(spark, paths, root / "silver" / "weather",
                           warehouse_path=root / "warehouse" / "weather_obs")
        print(f"weather_obs: {n} rows")

    elif args.cmd == "build-features":
        from tpg_weather_etl_spark.features.events import (
            build_features_events,
            qc_features_events,
        )
        from tpg_weather_etl_spark.sources.writers import write_parquet
        events = spark.read.parquet(str(root / "silver" / "ist"))
        weather = spark.read.parquet(str(root / "warehouse" / "weather_obs"))
        mapping_path = root / "warehouse" / "stop_to_station"
        mapping = (spark.read.parquet(str(mapping_path))
                   if mapping_path.exists() else None)
        feats = build_features_events(events, weather,
                                      station_id=args.station_id,
                                      stop_to_station=mapping,
                                      asof=args.asof)
        write_parquet(feats, root / "gold" / "features_events")
        print("QC:", qc_features_events(
            spark.read.parquet(str(root / "gold" / "features_events"))))

    elif args.cmd == "build-features-by-stop-line":
        from tpg_weather_etl_spark.features.by_stop_line import (
            build_features_by_stop_line,
            qc_features_by_stop_line,
        )
        from tpg_weather_etl_spark.sources.writers import write_parquet
        feats = spark.read.parquet(str(root / "gold" / "features_events"))
        agg = build_features_by_stop_line(feats)
        write_parquet(agg, root / "gold" / "features_by_stop_line")
        print("QC:", qc_features_by_stop_line(
            spark.read.parquet(str(root / "gold" / "features_by_stop_line"))))

    elif args.cmd == "build-training-rows":
        from tpg_weather_etl_spark.features.training_row import (
            build_training_rows,
        )
        from tpg_weather_etl_spark.sources.writers import write_parquet
        feats = spark.read.parquet(str(root / "gold" / "features_events"))
        weather = spark.read.parquet(str(root / "warehouse" / "weather_obs"))
        rows = build_training_rows(feats, weather)
        n = write_parquet(rows, root / "gold" / "feature_training_row")
        print(f"feature_training_row: {n} rows")

    elif args.cmd == "curate-corpus":
        # the end-to-end training-data curation pipeline, composed
        # from the gate operators: quality gate (Gopher rules) and
        # near-dup dedup (MinHash-LSH clusters, longest-doc keeper)
        # reduce to doc_id sets, so the full documents only flow once
        # — two left_semi joins over the scan, cluster-sized sides
        import json as _json

        from tpg_weather_etl_spark.queries_ml import q_dedup_apply
        from tpg_weather_etl_spark.queries_text import q_gopher_quality
        from tpg_weather_etl_spark.sources.tables import read_table
        from tpg_weather_etl_spark.sources.writers import write_parquet

        d = read_table(spark, args.input, "documents")
        n_in = d.count()
        quality_ids = (q_gopher_quality(spark, args.input)
                       .filter(F.col("keep")).select("doc_id"))
        dedup_ids = q_dedup_apply(spark, args.input).select("doc_id")
        curated = (d.join(quality_ids, "doc_id", "left_semi")
                    .join(dedup_ids, "doc_id", "left_semi"))
        out_dir = Path(args.out)
        n_out = write_parquet(curated, out_dir / "curated_documents")
        stats = {
            "docs_in": n_in,
            "quality_pass": quality_ids.count(),
            "dedup_survivors": dedup_ids.count(),
            "curated": n_out,
        }
        print(_json.dumps(stats))

    return 0


if __name__ == "__main__":
    raise SystemExit(main())
