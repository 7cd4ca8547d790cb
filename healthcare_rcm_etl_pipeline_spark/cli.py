"""Command-line entry points — the workflow parity with the reference's
``python scd_implementation.py`` / ``python load.py`` / BigQuery-console
steps (README.md:121-140 of the reference):

    python -m healthcare_rcm_etl_pipeline_spark pipeline \
        --source /root/reference --staging /tmp/staging --run-date 2025-08-03
    python -m healthcare_rcm_etl_pipeline_spark analytics \
        --staging /tmp/staging [--query hq9_patient_lifetime_value]
    python -m healthcare_rcm_etl_pipeline_spark query q09_top20_customers \
        --sf-dir /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import os
import sys

from healthcare_rcm_etl_pipeline_spark.session import get_spark


def _cmd_pipeline(args) -> int:
    from healthcare_rcm_etl_pipeline_spark.plans import analytics
    from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline

    spark = get_spark(app_name="hrcm-pipeline")
    star = run_pipeline(
        spark,
        reference_root=args.source,
        staging_dir=args.staging,
        run_date=args.run_date,
    )
    stats = star.get(analytics.STAR_STATS_KEY)
    for name, df in star.items():
        if name == analytics.STAR_STATS_KEY:
            continue
        print(f"{name}: {df.count()} rows")
    if stats:
        print(f"staging-time stats: {stats}")
    return 0


def _cmd_analytics(args) -> int:
    from healthcare_rcm_etl_pipeline_spark.plans import analytics
    from healthcare_rcm_etl_pipeline_spark.sources import sinks

    spark = get_spark(app_name="hrcm-analytics")
    star = {}
    for name in analytics.STAR_TABLES:
        path = os.path.join(args.staging, name)
        star[name] = (
            sinks.read_versioned(spark, path)
            if name == "dim_patients"
            else spark.read.parquet(path)
        )
    # staging-time stats: one count per growing dim for the whole session,
    # so every query build below plans size-aware with zero count jobs
    analytics.attach_star_stats(star)
    names = [args.query] if args.query else sorted(analytics.HEALTHCARE_QUERIES)
    for name in names:
        print(f"== {name}")
        analytics.HEALTHCARE_QUERIES[name](star).show(args.rows, truncate=False)
    return 0


def _cmd_query(args) -> int:
    from healthcare_rcm_etl_pipeline_spark.plans.queries import QUERIES

    spark = get_spark(app_name="hrcm-query")
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; available: {', '.join(sorted(QUERIES))}")
        return 2
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.rows, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="healthcare_rcm_etl_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("pipeline", help="run the full ETL + SCD2 batch pipeline")
    pp.add_argument(
        "--source", default=None,
        help="reference source tree (default: $HRCM_REFERENCE_ROOT, then the "
        "reference checkout)",
    )
    pp.add_argument("--staging", default=None)
    pp.add_argument("--run-date", default="2025-08-03")
    pp.set_defaults(fn=_cmd_pipeline)

    pa = sub.add_parser("analytics", help="run healthcare Q1-Q11 over staged output")
    pa.add_argument("--staging", required=True)
    pa.add_argument("--query", default=None)
    pa.add_argument("--rows", type=int, default=20)
    pa.set_defaults(fn=_cmd_analytics)

    pq = sub.add_parser("query", help="run a registered testdata query by name")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pq.add_argument("--rows", type=int, default=20)
    pq.add_argument("--explain", action="store_true")
    pq.set_defaults(fn=_cmd_query)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
