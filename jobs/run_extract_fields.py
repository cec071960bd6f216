"""spark-submit entry point for rule-based structured extraction — the
``yomitoku_extract`` analog (reference entry point 3, SURVEY §3.3:
cli/main.py → extractor/rule_pipeline.run_rule_extraction).

Usage:
    python tools/make_pyfiles.py
    spark-submit --master 'local[*]' --driver-memory 4g \
        --driver-java-options -XX:+ExplicitGCInvokesConcurrent \
        --py-files dist/yomitoku_spark.zip \
        jobs/run_extract_fields.py \
        --cells /path/cells --schema schema.yaml --output /path/out \
        [--paragraphs /path/paragraphs] [--words /path/words]

``--cells`` is a parquet layout-cells table (doc_id, cell_id, role,
x1..y2, contents); paragraphs/words are optional side tables with the
matching shapes. The YAML schema lists scalar fields (cell_id / bbox /
description / merge_values / separator / regex — the full cascade of
rule_pipeline.py:141-262). Output: one parquet row per
(doc_id, field) with value/source/confidence.
"""

from __future__ import annotations

import argparse


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cells", required=True)
    ap.add_argument("--schema", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--paragraphs", default=None)
    ap.add_argument("--words", default=None)
    args = ap.parse_args()

    from yomitoku_spark.operators.kv_graph import parse_kv_items
    from yomitoku_spark.semantic import extract_scalar_fields, load_schema
    from yomitoku_spark.session import conf_line, get_spark

    spark = get_spark(app="yomitoku_extract_fields")
    print(conf_line(spark))

    cells = spark.read.parquet(args.cells)
    empty_paras = spark.createDataFrame(
        [], "doc_id long, par_id string, x1 int, y1 int, x2 int, y2 int, contents string"
    )
    empty_words = spark.createDataFrame(
        [], "doc_id long, word_id string, x1 int, y1 int, x2 int, y2 int, content string"
    )
    paragraphs = spark.read.parquet(args.paragraphs) if args.paragraphs else empty_paras
    words = spark.read.parquet(args.words) if args.words else empty_words

    fields = load_schema(args.schema)
    out = extract_scalar_fields(cells, parse_kv_items(cells), paragraphs, words, fields)
    out.repartitionByRange("doc_id", "field").sortWithinPartitions(
        "doc_id", "field"
    ).write.mode("overwrite").parquet(args.output)
    spark.stop()


if __name__ == "__main__":
    main()
