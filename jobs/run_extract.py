"""spark-submit entry point (north rule: ships via --py-files).

Usage:
    python tools/make_pyfiles.py                       # build dist/yomitoku_spark.zip
    spark-submit --master 'local[*]' --driver-memory 4g \
        --driver-java-options -XX:+ExplicitGCInvokesConcurrent \
        --py-files dist/yomitoku_spark.zip \
        jobs/run_extract.py --input /path/transcripts --output /path/out \
        [--resume] [--n-buckets 256]

With --resume the job uses the bucket-wave checkpoint runner
(idempotent per-wave overwrite + per-bucket lineage/metrics state table);
without it, a straight extract → ordered write. First prints one JSON
line: the master and every engine setting in effect (session.get_spark).
"""

from __future__ import annotations

import argparse


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--n-buckets", type=int, default=256)
    ap.add_argument("--partitions", type=int, default=0)
    args = ap.parse_args()

    from yomitoku_spark.plans.checkpoint import run_resumable
    from yomitoku_spark.plans.pipeline import extract
    from yomitoku_spark.session import conf_line, get_spark
    from yomitoku_spark.sources.tables import read_transcripts, salt_repartition, write_result

    spark = get_spark(app="yomitoku_extract")
    print(conf_line(spark))
    tdf = read_transcripts(spark, args.input, args.format)
    if args.partitions:
        tdf = salt_repartition(tdf, args.partitions)

    if args.resume:
        n = run_resumable(tdf, args.output, n_buckets=args.n_buckets)
        print(f"processed {n} buckets (resumable run) -> {args.output}")
    else:
        write_result(extract(tdf), args.output)
        print(f"wrote {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
