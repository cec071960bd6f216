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
* the schema is data: every field's keys form one broadcast table
  (field, prio, normalized key) that the KV items join once on
  substring, and ONE aggregation keyed by (conv_id, turn_idx) picks
  every field's value — the match with the least (key prio, block
  order, line index); the reference relies on Python's stable
  iteration order, Spark must order explicitly (SURVEY.md §7.3). So
  the block kernel runs once, or twice when a field has a regex,
  whatever the schema width;
* each field is the ``coalesce`` of its KV pick and its regex over
  ``extracted_text``;
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


def read_yaml(text_or_path: str):
    """Parse a YAML file (read as UTF-8, whatever the locale) or, when
    no such file exists, the YAML text itself."""
    import os

    import yaml

    if os.path.exists(text_or_path):
        with open(text_or_path, encoding="utf-8") as f:
            return yaml.safe_load(f)
    return yaml.safe_load(text_or_path)


def check_field_names(names: list[str], reserved: tuple[str, ...] = (), key=str) -> None:
    """Reject a schema whose field names, compared by ``key``, repeat or
    take a reserved output column name."""
    seen = set()
    for n in names:
        if key(n) in seen or key(n) in reserved:
            raise ValueError(f"field name {n!r} is duplicated or reserved")
        seen.add(key(n))


@dataclass
class ExtractionSchema:
    fields: list[FieldSpec]

    def __post_init__(self):
        # lower-cased: Spark resolves column names case-insensitively
        check_field_names([f.name for f in self.fields], ("conv_id", "turn_idx"), key=str.lower)

    @classmethod
    def from_dict(cls, d: dict) -> "ExtractionSchema":
        return cls([FieldSpec(**f) for f in d["fields"]])

    @classmethod
    def from_yaml(cls, text_or_path: str) -> "ExtractionSchema":
        return cls.from_dict(read_yaml(text_or_path))


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


def extract_fields(transcripts: DataFrame, schema: ExtractionSchema) -> DataFrame:
    """Compile the schema into a per-turn field table:
    (conv_id, turn_idx, <field> ...) with the KV→regex cascade and
    normalizers applied."""
    blk = blocks(transcripts)
    out = emit(blk, transcripts).select("conv_id", "turn_idx", "extracted_text")
    keyed = [i for i, spec in enumerate(schema.fields) if spec.keys]
    if keyed:
        # one row per (field index, key priority, key); the pivot names
        # each field's pick column by its index, so no field name can
        # clash with the join keys or extracted_text
        keys = [(i, p, k) for i in keyed for p, k in enumerate(schema.fields[i].keys)]
        kdf = blk.sparkSession.createDataFrame(keys, "fi int, prio int, key string")
        kdf = kdf.select("fi", "prio", _norm_key(F.col("key")).alias("nkey"))
        kv = kv_items(blk)
        hits = kv.join(F.broadcast(kdf), _norm_key(kv["key"]).contains(F.col("nkey")))
        picks = (
            hits.groupBy("conv_id", "turn_idx")
            .pivot("fi", keyed)
            .agg(F.min_by("value", F.struct("prio", "order", "kv_idx")))
        )
        out = out.join(picks, ["conv_id", "turn_idx"], "left")
    cols = []
    for i, spec in enumerate(schema.fields):
        raw = F.col(str(i)) if spec.keys else F.lit(None).cast("string")
        if spec.regex:
            rx = F.regexp_extract("extracted_text", spec.regex, 0)
            raw = F.coalesce(raw, F.nullif(rx, F.lit("")))
        cols.append(NORMALIZERS[spec.normalize](raw).alias(spec.name))
    return out.select("conv_id", "turn_idx", *cols)
