"""The extraction pipeline — fused fast path + staged inspectable path.

Both implement the spec in :mod:`yomitoku_spark.spec` and must match the
pure-Python oracle byte-for-byte per ``(conv_id, turn_idx)``. Both get
their blocks from one function, :func:`_ordered_blocks`: per-turn
``segment_turn``, block columns built once per Arrow batch, then each
block's emit order — batch-wide ``layout_order`` for layout turns
(reference: reading_order.py:14-223), document order for the rest.

**Fused path** (:func:`extract`): ONE ``mapInArrow`` stage over the
transcripts scan — segment, featurize, classify, reading-order, emit all
inside a single Arrow batch (:func:`extract_batch`: the ordered blocks,
then numpy keep rule and Arrow assembly).
Zero shuffles; embarrassingly parallel over turns. This is the plan you
want at 10^12 turns: throughput scales
linearly with executors because no stage exchanges data (the reference's
analog is its per-page loop, cli/main.py:538-549 — we parallelize
across pages/turns instead of within one).

**Staged path** (:func:`extract_staged`): the same semantics decomposed
into Catalyst-visible stages so features/decisions are queryable:

- :func:`blocks`      — ONE ``mapInArrow`` block stage (payload →
  long-form block rows with their ``order``), then ``featurize`` and
  ``classify``; the queryable intermediate every block consumer reads
- ``featurize``       — pure column expressions (link density etc. —
  jusText/Readability-style block features; whole-stage codegen)
- ``classify``        — pure column expressions (keep/drop; the analog
  of the reference's meta-role filter, document_analyzer.py:552-568)
- ``emit``            — one hash aggregation per turn: ordered
  collect_list → array_join (reference content concatenation:
  document_analyzer.py:233-235, export_markdown.py)
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yomitoku_spark import spec
from yomitoku_spark.operators.reading_order import layout_order
from yomitoku_spark.plans.segment import BLOCK_FIELDS, BLOCKS_SCHEMA, segment_turn
from yomitoku_spark.plans.worker import freeze_worker_heap, install_zip_stat_shim

RESULT_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, extracted_text string, "
    "spans array<struct<start:int,end:int,kind:string>>, "
    "blocks_kept int, blocks_dropped int, chars_emitted int"
)

RESULT_COLUMNS = [
    "conv_id", "turn_idx", "ts", "extracted_text", "spans",
    "blocks_kept", "blocks_dropped", "chars_emitted",
]

_EMPTY_SPANS = "CAST(array() AS array<struct<start:int,end:int,kind:string>>)"


# ------------------------------------------------------------------
# shared vectorized keep rule (numpy mirror of the classify() column
# expressions — the single CASE both paths implement)
# ------------------------------------------------------------------


def _keep_mask(c: dict) -> np.ndarray:
    """Keep/drop per block over the batch's block columns ``c``."""
    content, visible, kind = c["content_len"], c["visible_len"], c["kind"]
    ok_dens = c["link_chars"] / np.maximum(visible, 1) <= spec.MAX_LINK_DENSITY
    keep = np.select(
        [
            c["boiler"] | c["meta"],
            c["source"] == "layout",
            kind == spec.KIND_HEADING,
            kind == spec.KIND_TABLE,
            kind == spec.KIND_LIST,
            kind == spec.KIND_KV,
            kind == spec.KIND_CODE,
        ],
        [
            False,
            content > 0,
            (content >= spec.MIN_HEADING_CHARS) & ok_dens,
            content > 0,
            (content > 0) & ok_dens,
            True,
            True,
        ],
        default=(visible >= spec.MIN_PARA_CHARS) & ok_dens,
    )
    return keep.astype(bool)


# ------------------------------------------------------------------
# ordered blocks — the one block stage both paths run per Arrow batch
# ------------------------------------------------------------------

_NUMERIC = {
    "block_id": np.int64, "start": np.int32, "end": np.int32,
    "content_len": np.int64, "link_chars": np.int64, "visible_len": np.int64,
    "boiler": bool, "meta": bool, "vertical": bool,
    "x1": np.int64, "y1": np.int64, "x2": np.int64, "y2": np.int64,
}


def _ordered_blocks(rb: pa.RecordBatch):
    """Segment every turn of ``rb`` and give each block its emit order.

    Returns the per-turn block counts, the raw per-field block columns
    ``cols``, and the numpy columns ``c``: the ``_NUMERIC`` fields plus
    ``kind``, ``source``, ``turn`` (the block's row in ``rb``) and
    ``order`` — ``layout_order`` over the batch's layout turns,
    ``block_id`` for every other turn."""
    n = rb.num_rows
    per_turn = [
        segment_turn(tx, tl)
        for tx, tl in zip(rb.column("text").to_pylist(), rb.column("tool").to_pylist())
    ]
    counts = np.fromiter(map(len, per_turn), dtype=np.int64, count=n)
    raw = list(zip(*chain.from_iterable(per_turn))) or [()] * len(BLOCK_FIELDS)
    cols = dict(zip(BLOCK_FIELDS, raw))
    c = {f: np.asarray(cols[f], dtype=dt) for f, dt in _NUMERIC.items()}
    c["kind"] = np.asarray(cols["kind"], dtype=object)
    c["source"] = np.asarray(cols["source"], dtype=object)
    c["turn"] = turn = np.repeat(np.arange(n), counts)

    c["order"] = order = c["block_id"].copy()
    lay = c["source"] == "layout"
    if lay.any():
        boxes = np.stack([c["x1"], c["y1"], c["x2"], c["y2"]], axis=1)[lay]
        roles = np.asarray(cols["role"], dtype=object)[lay]
        order[lay] = layout_order(turn[lay], roles, c["vertical"][lay], boxes)
    return counts, cols, c


def _arrow_stage(kernel):
    """The ``mapInArrow`` function that applies ``kernel`` to every batch."""

    def run(batches):
        # on the Python worker; each acts once per process
        install_zip_stat_shim()
        freeze_worker_heap()
        for rb in batches:
            yield kernel(rb)

    return run


def _turns(transcripts: DataFrame, *extra) -> DataFrame:
    return transcripts.select(
        F.col("conv_id").cast("string"), F.col("turn_idx").cast("int"), "text", "tool", *extra
    )


# ------------------------------------------------------------------
# fused path
# ------------------------------------------------------------------

_SPAN_FIELDS = [
    pa.field("start", pa.int32()), pa.field("end", pa.int32()), pa.field("kind", pa.string())
]


def extract_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """One Arrow batch of turns → one batch of results (RESULT_SCHEMA).

    The ordered blocks come from :func:`_ordered_blocks`; the keep rule
    runs in numpy, the kept blocks are put in (turn, order) by one
    ``lexsort``, and the output is assembled as Arrow arrays over
    per-turn offsets."""
    n = rb.num_rows
    counts, cols, c = _ordered_blocks(rb)
    turn, order = c["turn"], c["order"]
    kept = np.flatnonzero(_keep_mask(c))
    kept = kept[np.lexsort((order[kept], turn[kept]))]
    n_kept = np.bincount(turn[kept], minlength=n)
    offsets = pa.array(np.r_[0, np.cumsum(n_kept)].astype(np.int32))
    take = pa.array(kept)
    rendered = pa.array(cols["rendered"], pa.string()).take(take)
    spans = pa.StructArray.from_arrays(
        [pa.array(c["start"][kept]), pa.array(c["end"][kept]),
         pa.array(cols["kind"], pa.string()).take(take)],
        fields=_SPAN_FIELDS,
    )
    text = pc.binary_join(pa.ListArray.from_arrays(offsets, rendered), spec.BLOCK_JOINER)
    return pa.RecordBatch.from_arrays(
        [
            rb.column("conv_id"),
            rb.column("turn_idx"),
            rb.column("ts"),
            text,
            pa.ListArray.from_arrays(offsets, spans),
            pa.array(n_kept.astype(np.int32)),
            pa.array((counts - n_kept).astype(np.int32)),
            pc.utf8_length(text),
        ],
        names=RESULT_COLUMNS,
    )


def extract(transcripts: DataFrame) -> DataFrame:
    """Fused extraction: transcripts → result, one Arrow stage, no shuffle.

    The unit of work is the TURN: rebalance a skewed scan first with
    :func:`yomitoku_spark.sources.tables.salt_repartition`."""
    return _turns(transcripts, F.col("ts").cast("timestamp")).mapInArrow(
        _arrow_stage(extract_batch), schema=RESULT_SCHEMA
    )


# ------------------------------------------------------------------
# staged path
# ------------------------------------------------------------------

_BLOCK_COLUMNS = ["conv_id", "turn_idx", *BLOCK_FIELDS, "order"]


def _blocks_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """One Arrow batch of turns → its block rows (``BLOCKS_SCHEMA`` +
    ``order int``); ``conv_id``/``turn_idx`` taken by each block's turn."""
    _, cols, c = _ordered_blocks(rb)
    turn = pa.array(c["turn"])
    arrays = [rb.column("conv_id").take(turn), rb.column("turn_idx").take(turn)]
    for f in _BLOCK_COLUMNS[2:]:
        v = c.get(f)
        if v is None or v.dtype == object:
            arrays.append(pa.array(cols[f], pa.string()))
        else:
            arrays.append(pa.array(v, pa.bool_() if v.dtype == bool else pa.int32()))
    return pa.RecordBatch.from_arrays(arrays, names=_BLOCK_COLUMNS)


def blocks(transcripts: DataFrame) -> DataFrame:
    """S2–S5: transcripts → one row per block with its emit ``order``,
    features and keep decision (``BLOCKS_SCHEMA`` + order + featurize +
    classify columns). One ``mapInArrow`` stage, no shuffle."""
    ordered = _turns(transcripts).mapInArrow(
        _arrow_stage(_blocks_batch), schema=BLOCKS_SCHEMA + ", order int"
    )
    return classify(featurize(ordered))


def featurize(blocks: DataFrame) -> DataFrame:
    """S3: block features as pure column expressions (codegen'd JVM-side).

    link_density / text_density are the jusText-/Readability-style
    priors the classifier thresholds on."""
    return (
        blocks.withColumn(
            "link_density",
            F.col("link_chars") / F.greatest(F.col("visible_len"), F.lit(1)),
        )
        .withColumn(
            "text_density",
            F.col("content_len") / F.greatest(F.col("end") - F.col("start"), F.lit(1)),
        )
        .withColumn("word_count", F.size(F.split(F.trim(F.col("rendered")), r"\s+")))
    )


def classify(blocks: DataFrame) -> DataFrame:
    """S4: keep/drop — one CASE expression (analog of the reference's
    meta-role / noise filters, document_analyzer.py:552-568, 248-253)."""
    ok_dens = F.col("link_density") <= spec.MAX_LINK_DENSITY
    keep = (
        F.when(F.col("boiler") | F.col("meta"), F.lit(False))
        .when(F.col("source") == "layout", F.col("content_len") > 0)
        .when(
            F.col("kind") == spec.KIND_HEADING,
            (F.col("content_len") >= spec.MIN_HEADING_CHARS) & ok_dens,
        )
        .when(F.col("kind") == spec.KIND_TABLE, F.col("content_len") > 0)
        .when(F.col("kind") == spec.KIND_LIST, (F.col("content_len") > 0) & ok_dens)
        .when(F.col("kind") == spec.KIND_KV, F.lit(True))
        .when(F.col("kind") == spec.KIND_CODE, F.lit(True))
        .otherwise(
            (F.col("visible_len") >= spec.MIN_PARA_CHARS) & ok_dens
        )
    )
    return blocks.withColumn("keep", keep)


def emit(blocks: DataFrame, transcripts: DataFrame) -> DataFrame:
    """S7: per-turn ordered concatenation + spans + metrics.

    One hash aggregation (map-side partial → final), then a left join
    back to the turn spine so empty turns still emit a row. collect_list
    skips the NULLs that when(keep,...) produces for dropped blocks, so
    kept-content assembly and kept/dropped metrics share one shuffle."""
    bs = F.array_sort(
        F.collect_list(
            F.when(
                F.col("keep"),
                F.struct("order", "rendered", "start", "end", "kind"),
            )
        )
    )
    agg = blocks.groupBy("conv_id", "turn_idx").agg(
        bs.alias("bs"),
        F.sum(F.col("keep").cast("int")).alias("k"),
        F.sum((~F.col("keep")).cast("int")).alias("d"),
    )
    agg = agg.select(
        "conv_id",
        "turn_idx",
        F.array_join(F.transform("bs", lambda b: b["rendered"]), spec.BLOCK_JOINER).alias(
            "et"
        ),
        F.transform(
            "bs",
            lambda b: F.struct(
                b["start"].alias("start"), b["end"].alias("end"), b["kind"].alias("kind")
            ),
        ).alias("sp"),
        "k",
        "d",
    )
    spine = transcripts.select("conv_id", "turn_idx", "ts")
    res = spine.join(agg, ["conv_id", "turn_idx"], "left")
    return res.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "ts",
        F.coalesce(F.col("et"), F.lit("")).alias("extracted_text"),
        F.coalesce(F.col("sp"), F.expr(_EMPTY_SPANS)).alias("spans"),
        F.coalesce(F.col("k"), F.lit(0)).cast("int").alias("blocks_kept"),
        F.coalesce(F.col("d"), F.lit(0)).cast("int").alias("blocks_dropped"),
        F.length(F.coalesce(F.col("et"), F.lit(""))).cast("int").alias("chars_emitted"),
    )


def extract_staged(transcripts: DataFrame) -> DataFrame:
    return emit(blocks(transcripts), transcripts)
