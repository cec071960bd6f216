"""Reference-parity command line (the `yomitoku` CLI analog,
reference cli/main.py:290-585) over the Spark engine.

    python -m yomitoku_spark.cli INPUT -o OUTDIR [-f md|html|csv|json]
        [--pages 1,2,5-10] [--combine] [--per-file] [--encoding utf-8]
        [--master local[*]]

Mapping from the reference's flags to the turn-grain engine:

* INPUT — transcripts table path (parquet dir), the analog of the
  reference's image/PDF input path;
* ``-f/--format`` — md (default) / html / csv / json, rendered by the
  SAME block pipeline as the ``export_formats`` oracle row;
* ``--pages`` — the reference's page-range filter (``1,2,5-10`` set +
  range grammar, cli/main.py:94-102) applied to ``turn_idx``;
* ``--combine`` — the reference's multi-page merge (cli/main.py:24-59):
  one output per conversation, turns joined in turn order;
* ``--ignore_line_break`` — the reference's paragraph newline-strip
  (cli/main.py → export convert_* ``ignore_line_break``), applied at
  export_blocks to paragraph bodies in every format; default off is
  the oracle-checked rendering;
* ``--encoding`` — validated against the reference's accepted set
  (cli/main.py:82-91), used for --per-file writes;
* sink: by default ONE distributed parquet dataset of
  (conv_id, turn_idx, content) — the 100 TB path; ``--per-file``
  reproduces the reference's file-per-document layout
  (``{conv}_{turn}.{ext}``) by streaming results through the driver —
  fine for the small corpora the single-node reference serves.
"""

from __future__ import annotations

import argparse
import os


def validate_encoding(encoding: str) -> bool:
    """Reference validate_encoding (cli/main.py:82-91)."""
    if encoding not in ["utf-8", "utf-8-sig", "shift-jis", "euc-jp", "cp932"]:
        raise ValueError(f"Invalid encoding: {encoding}")
    return True


def parse_pages(pages_str: str) -> list[int]:
    """Reference parse_pages (cli/main.py:94-102): '1,2,5-10' grammar."""
    pages: set[int] = set()
    for part in pages_str.split(","):
        if "-" in part:
            start, end = map(int, part.split("-"))
            pages.update(range(start, end + 1))
        else:
            pages.add(int(part))
    return sorted(pages)


FORMATS = {"md": "markdown", "markdown": "markdown", "html": "html",
           "csv": "csv", "json": "json"}
EXT = {"markdown": "md", "html": "html", "csv": "csv", "json": "json"}


def render(spark, input_path: str, fmt: str, pages: list[int] | None,
           combine: bool, ignore_line_break: bool = False):
    """Build the output DataFrame (conv_id, turn_idx, content) — or
    (conv_id, content) when combining — for one format."""
    from pyspark.sql import functions as F

    from yomitoku_spark.plans.export import export_blocks
    from yomitoku_spark.plans.pipeline import blocks
    from yomitoku_spark.sources.tables import read_transcripts

    col = FORMATS[fmt]
    tdf = read_transcripts(spark, input_path)
    if pages is not None:
        tdf = tdf.filter(F.col("turn_idx").isin(pages))
    out = export_blocks(blocks(tdf), ignore_line_break=ignore_line_break).select(
        "conv_id", "turn_idx", F.col(col).alias("content")
    )
    if not combine:
        return out
    # multi-page merge (reference merge_all_pages, cli/main.py:24-59):
    #   json -> a LIST of per-page payloads (one valid JSON array document);
    #   csv  -> rows extended (per-turn CSV strings joined with '\n');
    #   md   -> pages joined with '\n'.
    #   html -> reference joins full documents with '\n'; deliberate
    #           deviation here: we merge BODY content under ONE wrapper so
    #           the combined output stays a single well-formed document.
    body = F.col("content")
    if col == "html":
        body = F.regexp_replace(
            F.regexp_replace(body, "^<html><body>", ""), "</body></html>$", ""
        )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("turn_idx", "body"))),
        lambda s: s["body"],
    )
    merged = (
        F.concat(F.lit("["), F.array_join(ordered, ","), F.lit("]"))
        if col == "json"
        else F.array_join(ordered, "\n")
    )
    agg = (
        out.select("conv_id", "turn_idx", body.alias("body"))
        .groupBy("conv_id")
        .agg(merged.alias("content"))
    )
    if col == "html":
        agg = agg.withColumn(
            "content", F.concat(F.lit("<html><body>"), "content", F.lit("</body></html>"))
        )
    return agg


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="yomitoku_spark")
    ap.add_argument("input", help="transcripts table path (parquet)")
    ap.add_argument("-o", "--outdir", required=True)
    ap.add_argument("-f", "--format", default="md", choices=sorted(FORMATS))
    ap.add_argument("--pages", default=None, help="e.g. 1,2,5-10 (turn_idx)")
    ap.add_argument("--combine", action="store_true")
    ap.add_argument("--per-file", action="store_true",
                    help="reference-style file-per-document output")
    ap.add_argument("--ignore_line_break", action="store_true",
                    help="drop newlines inside paragraphs (reference flag)")
    ap.add_argument("--encoding", default="utf-8")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    validate_encoding(args.encoding)

    from yomitoku_spark.session import get_spark

    spark = get_spark(app="yomitoku_cli", master=args.master)
    pages = parse_pages(args.pages) if args.pages else None
    out = render(spark, args.input, args.format, pages, args.combine,
                 args.ignore_line_break)

    ext = EXT[FORMATS[args.format]]
    if args.per_file:
        os.makedirs(args.outdir, exist_ok=True)
        n = 0
        for r in out.toLocalIterator():
            name = (
                f"{r['conv_id']}.{ext}"
                if args.combine
                else f"{r['conv_id']}_{r['turn_idx']}.{ext}"
            )
            with open(os.path.join(args.outdir, name), "w",
                      encoding=args.encoding) as f:
                f.write(r["content"] + "\n")
            n += 1
        print(f"wrote {n} files -> {args.outdir}")
    else:
        out.write.mode("overwrite").parquet(args.outdir)
        print(f"wrote dataset -> {args.outdir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
