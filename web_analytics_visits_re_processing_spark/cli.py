"""CLI mirroring the reference's ``--input`` / ``--output``
(``main.py:167-207``), minus the hardwired GCP deployment flags —
``--master`` replaces ``--runner`` (local[*] vs a cluster URL).

    python -m web_analytics_visits_re_processing_spark.cli \
        --input data/feed*.tsv --output out/ [--gap-seconds 1800]
        [--encoding ISO-8859-1] [--format csv|parquet|json]
        [--keep-duplicate-visitors] [--strict-reference-mode]

A run that launches the driver JVM stops its session and that JVM
before it returns, so the JVM's class-data archive is written and
published (``session``). A session the caller already runs is left up.
"""

from __future__ import annotations

import argparse
import sys

from pyspark import SparkContext

from web_analytics_visits_re_processing_spark.pipeline import run_visits_pipeline
from web_analytics_visits_re_processing_spark.session import get_spark, stop_jvm


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="hit-log path/glob (TSV, opt. .gz)")
    p.add_argument("--output", required=True, help="output dir (hits/ visits/ visitors/)")
    p.add_argument("--gap-seconds", type=int, default=1800)
    p.add_argument("--encoding", default="UTF-8")
    p.add_argument("--format", default="csv", choices=["csv", "parquet", "json"])
    p.add_argument("--master", default=None, help="Spark master (default: env/cluster)")
    p.add_argument("--keep-duplicate-visitors", action="store_true",
                   help="faithful mode: one visitors row per hit (main.py:157-160)")
    p.add_argument("--strict-reference-mode", action="store_true",
                   help="also drop rows the reference's parser would")
    args = p.parse_args(argv)

    launches_jvm = SparkContext._gateway is None
    spark = get_spark(app_name="visits-pipeline", master=args.master)
    try:
        counts = run_visits_pipeline(
            spark,
            input_path=args.input,
            output_path=args.output,
            gap_seconds=args.gap_seconds,
            encoding=args.encoding,
            dedup_visitors=not args.keep_duplicate_visitors,
            output_format=args.format,
            strict_reference_mode=args.strict_reference_mode,
        )
    finally:
        if launches_jvm:
            stop_jvm()
    for name, n in counts.items():
        print(f"{name}: {n} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
