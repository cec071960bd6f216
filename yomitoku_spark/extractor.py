"""Declarative field extraction — the ``yomitoku_extract`` surface.

The reference's rule-based extractor (entry point 3, SURVEY.md §3.3)
takes a YAML ExtractionSchema (extractor/schema.py:7-58) and resolves
each field through a priority cascade of lookups
(extractor/rule_pipeline.py:141-262): KV key match → cell content →
paragraph substring → regex, first hit wins, then a named normalizer.

Here the same schema compiles to DataFrame operations:

* per-turn KV items and table cells are recovered from the extraction
  pipeline's blocks as COLUMN EXPRESSIONS (split/explode/regexp over
  the rendered markdown — the normalized intermediate is the contract);
* each field becomes an ordered ``coalesce`` of per-source picks, each
  pick an aggregation keyed by (conv_id, turn_idx) with explicit
  tiebreaks (the reference relies on Python's stable iteration order;
  Spark must order explicitly — SURVEY.md §7.3);
* normalizers resolve from :mod:`yomitoku_spark.functions.normalize`.

Example schema (YAML or dict)::

    fields:
      - name: invoice_no
        keys: ["invoice no", "order id"]
        normalize: digits
      - name: issue_date
        keys: ["date", "due date"]
        regex: "\\d{4}年\\d{1,2}月\\d{1,2}日"
        normalize: date_iso
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from yomitoku_spark.functions.normalize import NORMALIZERS
from yomitoku_spark.plans.pipeline import blocks, emit


@dataclass
class FieldSpec:
    name: str
    keys: list[str] = field(default_factory=list)  # KV key substrings (normalized)
    regex: str | None = None  # fallback regex over extracted_text, group 0
    normalize: str = "identity"

    def __post_init__(self):
        if self.normalize not in NORMALIZERS:
            raise ValueError(f"unknown normalizer {self.normalize!r} for {self.name}")


@dataclass
class ExtractionSchema:
    fields: list[FieldSpec]

    @classmethod
    def from_dict(cls, d: dict) -> "ExtractionSchema":
        return cls([FieldSpec(**f) for f in d["fields"]])

    @classmethod
    def from_yaml(cls, text_or_path: str) -> "ExtractionSchema":
        import os

        import yaml

        if os.path.exists(text_or_path):
            with open(text_or_path) as f:
                d = yaml.safe_load(f)
        else:
            d = yaml.safe_load(text_or_path)
        return cls.from_dict(d)


def _norm_key(col) -> F.Column:
    return F.regexp_replace(F.lower(col), "[ 　\t]", "")


def kv_items(blocks: DataFrame) -> DataFrame:
    """Recover kv_items(conv_id, turn_idx, kv_idx, key, value) from kept
    kv blocks ('- **Key**: Value' lines) — split/explode/regexp only."""
    kv = blocks.filter((F.col("kind") == "kv") & F.col("keep"))
    lines = kv.select(
        "conv_id",
        "turn_idx",
        "order",
        F.posexplode(F.split("rendered", "\n")).alias("kv_idx", "line"),
    )
    pat = r"^- \*\*(.+?)\*\*: (.*)$"
    return lines.select(
        "conv_id",
        "turn_idx",
        "order",
        "kv_idx",
        F.regexp_extract("line", pat, 1).alias("key"),
        F.regexp_extract("line", pat, 2).alias("value"),
    ).filter(F.col("key") != "")


def table_cells(blocks: DataFrame) -> DataFrame:
    """Recover cells(conv_id, turn_idx, table_order, row, col, text)
    from kept table blocks (normalized pipe tables). Row 0 is the
    header; the separator row is skipped (reference cell model:
    schemas/document_analyzer.py:55-79)."""
    tb = blocks.filter((F.col("kind") == "table") & F.col("keep"))
    rows = tb.select(
        "conv_id",
        "turn_idx",
        F.col("order").alias("table_order"),
        F.posexplode(F.split("rendered", "\n")).alias("line_idx", "line"),
    ).filter(F.col("line_idx") != 1)  # drop the |---| separator row
    rows = rows.withColumn(
        "row", F.when(F.col("line_idx") == 0, 0).otherwise(F.col("line_idx") - 1)
    )
    cells = rows.select(
        "conv_id",
        "turn_idx",
        "table_order",
        "row",
        F.posexplode(
            F.slice(
                F.split("line", r"\|"),
                2,
                F.greatest(F.size(F.split("line", r"\|")) - 2, F.lit(0)),
            )
        ).alias("col", "raw"),
    )
    return cells.withColumn("text", F.trim("raw")).drop("raw")


def _field_from_kv(kv: DataFrame, spec: FieldSpec) -> DataFrame:
    """Best KV match per turn: earliest matching key substring (by the
    schema's key-priority order, then block order, then line index)."""
    if not spec.keys:
        return None
    prio = F.lit(None).cast("int")
    nk = _norm_key(F.col("key"))
    for i, k in enumerate(reversed(spec.keys)):
        prio = F.when(nk.contains(_norm_key(F.lit(k))), F.lit(len(spec.keys) - 1 - i)).otherwise(prio)
    cand = kv.withColumn("prio", prio).filter(F.col("prio").isNotNull())
    w = W.partitionBy("conv_id", "turn_idx").orderBy("prio", "order", "kv_idx")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("conv_id", "turn_idx", F.col("value").alias(f"__kv_{spec.name}"))
    )


def extract_fields(transcripts: DataFrame, schema: ExtractionSchema) -> DataFrame:
    """Compile the schema into a per-turn field table:
    (conv_id, turn_idx, <field> ...) with the KV→regex cascade and
    normalizers applied."""
    blk = blocks(transcripts)
    result = emit(blk, transcripts)
    kv = kv_items(blk)
    out = result.select("conv_id", "turn_idx", "extracted_text")
    for spec in schema.fields:
        kvf = _field_from_kv(kv, spec)
        if kvf is not None:
            out = out.join(kvf, ["conv_id", "turn_idx"], "left")
        raw = F.col(f"__kv_{spec.name}") if kvf is not None else F.lit(None).cast("string")
        if spec.regex:
            rx = F.regexp_extract("extracted_text", spec.regex, 0)
            raw = F.coalesce(raw, F.nullif(rx, F.lit("")))
        out = out.withColumn(spec.name, NORMALIZERS[spec.normalize](raw))
        if kvf is not None:
            out = out.drop(f"__kv_{spec.name}")
    return out.drop("extracted_text")
