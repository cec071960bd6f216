"""Structured-Streaming surface.

The reference is strictly batch (SURVEY.md §2.8) and the north rule
requires batch + resumability, not streaming — but a transcripts table
that grows by appends is naturally consumed incrementally, so the same
extraction pipeline is exposed over ``readStream``:

* :func:`stream_extract` — file-source stream of transcript parquet →
  the SAME fused ``mapInArrow`` extraction (stateless, so it runs
  unmodified under the streaming planner) → append sink.
* :func:`event_rates` — watermarked sliding-window aggregation over the
  events table shape (late-data tolerant), the standard streaming-agg
  pattern.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yomitoku_spark.datagen import TRANSCRIPTS_SCHEMA
from yomitoku_spark.plans.pipeline import extract


def read_transcripts_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Incremental extraction over an append-only transcripts directory.
    Exactly-once via the streaming checkpoint + file sink commit log."""
    stream = read_transcripts_stream(spark, input_dir)
    result = extract(stream)
    writer = (
        result.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def event_rates(events_stream: DataFrame, window: str = "5 minutes", slide: str = "1 minute") -> DataFrame:
    """Watermarked windowed rates per event_type (late data ≤ 10 min)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1000).cast("bigint")).alias("value_milli"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n",
            "value_milli",
        )
    )


def stream_exact_dedup(turns_stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Dedup-on-ingest: streaming exact-dedup keeper over an
    append-only turns stream, keyed by the SAME normalized-text md5
    digest as the batch ``exact_dedup``/``corpus_build`` keeper.

    ``applyInPandasWithState`` per digest: the first time a digest is
    seen its (conv_id, turn_idx)-minimal row in that micro-batch is
    emitted as the keeper; every later arrival is dropped, with the
    seen-flag carried across micro-batches and restarts by the
    streaming checkpoint. Equals the batch keeper rule (min
    (conv_id, turn_idx) per digest) whenever ingestion is
    (conv_id, turn_idx)-ordered — the append shape; under arbitrary
    arrival order it keeps the earliest ARRIVAL instead, the standard
    on-ingest semantics. State is one int per distinct digest — the
    streaming analog of the digest-hash aggregation, so it scales with
    distinct content, not stream length."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from yomitoku_spark.operators.dedup import normalized_text

    s = turns_stream.select(
        "conv_id",
        "turn_idx",
        F.col(text_col).alias("text"),
        F.md5(normalized_text(F.col(text_col))).alias("digest"),
    )
    out_schema = "digest string, conv_id string, turn_idx int"
    state_schema = "seen int"

    def fn(key, pdfs, state):
        if state.exists:
            for _ in pdfs:  # drain: this digest already has its keeper
                pass
        else:
            rows = pd.concat(list(pdfs)).sort_values(["conv_id", "turn_idx"])
            first = rows.iloc[0]
            state.update((1,))
            yield pd.DataFrame(
                {
                    "digest": [key[0]],
                    "conv_id": [first["conv_id"]],
                    "turn_idx": [int(first["turn_idx"])],
                }
            )

    return s.groupBy("digest").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_simhash_near_dup(
    turns_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_bits: int = 15,
) -> DataFrame:
    """NEAR-dup detection on ingest (the r5 stretch item): SimHash-band
    state via ``applyInPandasWithState``, pinned to the batch
    ``simhash_near_pairs`` rule — 60-bit md5-vote SimHash, ⌈60/15⌉ = 4
    bands, candidate pair iff one band matches, refined to exact
    Hamming ≤ bands−1.

    Plan: the stateless :func:`~yomitoku_spark.operators.dedup.simhash64`
    Arrow stage runs unmodified under the streaming planner; each doc
    then explodes into its 4 (band, key) rows and the stream groups by
    band bucket. State per bucket = the (id, simhash) members seen so
    far (two arrays — the streaming analog of the banded index side).
    A new arrival compares against the bucket members (exact XOR
    popcount), emits every (min_id, max_id, hamming ≤ 3) pair, and
    joins the bucket. Within a micro-batch rows process in id order, so
    intra-batch pairs are found too.

    Semantics vs batch: the DISTINCT emitted pair set equals the batch
    pair set over the same replayed appends, regardless of arrival
    order (every qualifying pair shares ≥ 1 band, and the earlier
    member is always in that bucket's state — or earlier in the same
    batch — when the later one arrives). A pair sharing several bands
    is emitted once per shared band; consumers dedup, as the batch
    pipeline's DISTINCT does. State scales with corpus size per bucket
    — the banded-index footprint, not stream length."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from yomitoku_spark.operators.dedup import SIMHASH_BITS, simhash64

    n_bands = -(-SIMHASH_BITS // prefix_bits)
    max_hamming = n_bands - 1
    mask = (1 << prefix_bits) - 1

    sh = simhash64(turns_stream, id_col, text_col)
    banded = sh.select(
        "id",
        "simhash",
        F.explode(F.array(*[F.lit(r) for r in range(n_bands)])).alias("band"),
    ).withColumn(
        "key",
        # shiftrightunsigned's python wrapper only takes literal shift
        # amounts; the SQL form accepts the per-row band expression
        F.expr(f"shiftrightunsigned(simhash, band * {prefix_bits})").bitwiseAND(
            F.lit(mask)
        ),
    )

    out_schema = "id_a bigint, id_b bigint, hamming int"
    state_schema = "ids array<bigint>, hashes array<bigint>"

    def fn(key, pdfs, state):
        if state.exists:
            ids, hashes = state.get
            ids, hashes = list(ids), list(hashes)
        else:
            ids, hashes = [], []
        out_a, out_b, out_h = [], [], []
        known = set(ids)
        rows = pd.concat(list(pdfs)).sort_values("id")
        for rid, rhash in zip(rows["id"], rows["simhash"]):
            rid, rhash = int(rid), int(rhash)
            if rid in known:
                # re-delivered id: the batch rule joins on a.id < b.id,
                # so a duplicate arrival must neither emit a (id, id, 0)
                # self-pair nor register twice in the bucket state
                continue
            for oid, ohash in zip(ids, hashes):
                d = (rhash ^ ohash).bit_count()
                if d <= max_hamming:
                    out_a.append(min(rid, oid))
                    out_b.append(max(rid, oid))
                    out_h.append(d)
            ids.append(rid)
            hashes.append(rhash)
            known.add(rid)
        state.update((ids, hashes))
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "hamming": out_h})

    return banded.groupBy("band", "key").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_sessionize(events_stream: DataFrame, gap_sec: int = 3600) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    ``applyInPandasWithState`` — the arbitrary-state surface Spark
    offers where built-in windows can't express the semantics (a
    session break depends on the PREVIOUS event, not a fixed window).

    State per user = (last event epoch-second, running session_no),
    carried across micro-batches and across restarts via the streaming
    checkpoint. Within a micro-batch events are processed in
    (ts, event_id) order; the operator assumes event-time-ordered
    appends per user across batches (the append-only transcripts/events
    ingestion shape), matching the batch ``sessionize`` query exactly —
    tests pin stream == batch across a two-run restart."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, event_id bigint, session_no bigint"
    state_schema = "last_sec bigint, session_no bigint"

    def fn(key, pdfs, state):
        user = key[0]
        if state.exists:
            last_sec, sess = state.get
        else:
            last_sec, sess = None, 0
        frames = [pdf for pdf in pdfs]
        rows = pd.concat(frames).sort_values(["ts", "event_id"])
        out_e, out_s = [], []
        for ts, eid in zip(rows["ts"], rows["event_id"]):
            # whole-second truncation, same as the batch query's
            # date_trunc('second', ...) gap rule
            sec = int(pd.Timestamp(ts).value // 1_000_000_000)
            if last_sec is None or sec - last_sec > gap_sec:
                sess += 1
            last_sec = sec
            out_e.append(int(eid))
            out_s.append(int(sess))
        state.update((last_sec, sess))
        yield pd.DataFrame(
            {"user_id": [user] * len(out_e), "event_id": out_e, "session_no": out_s}
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def _stateful_sketch(d, group_col, cells, out_col, init, step) -> DataFrame:
    """The stateful half every stream sketch shares: one BIGINT of
    state per occupied (group, *cells) key, ``init`` before its first
    row. ``step(state, pdfs)`` returns the new state and the value to
    emit; an emitted ``None`` leaves the state as it was and emits no
    row."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ", ".join([f"{group_col} string"] + [f"{c} bigint" for c in [*cells, out_col]])

    def fn(key, pdfs, state):
        cur = int(state.get[0]) if state.exists else init
        new, out = step(cur, pdfs)
        if out is None:
            return
        state.update((new,))
        row = {c: [int(k)] for c, k in zip(cells, key[1:])}
        yield pd.DataFrame({group_col: [key[0]], **row, out_col: [out]})

    return d.groupBy(group_col, *cells).applyInPandasWithState(
        fn, out_schema, f"{out_col} bigint", "append", GroupStateTimeout.NoTimeout
    )


def _count_step(cur, pdfs):
    """Counter sketches merge by SUM: add the batch's row count to the
    state and emit that delta."""
    add = sum(len(pdf) for pdf in pdfs)
    return cur + add, add or None


def _merge_step(col, op):
    """Idempotent sketches merge by ``op`` (MAX, bit-or): fold the
    batch's ``col`` into the state and emit the state when it changed."""

    def step(cur, pdfs):
        new = cur
        for pdf in pdfs:
            for v in pdf[col]:
                new = op(new, int(v))
        return new, new if new != cur else None

    return step


def stream_hll_registers(
    values_stream: DataFrame,
    value_col: str = "tok",
    group_col: str = "source",
    p: int = 8,
) -> DataFrame:
    """Streaming distinct-count sketch: per-(group, bucket) HLL
    register state via ``applyInPandasWithState``, pinned to the batch
    register rule (`functions.sketch.hll_registers`).

    The stateless hash→(bucket, rho) front half is the SAME column
    plan as the batch build (`sketch.hll_bucket_rho`); the stateful
    half keeps one int (the register's running MAX rho) per occupied
    (group, bucket) and emits a row only when a register RISES — so
    max-folding everything emitted so far (`sketch.hll_merge`) equals
    the batch register table over everything ingested so far, at any
    point in the stream and across checkpointed restarts. State is
    bounded by 2^p rows per group no matter how many values arrive —
    the streaming analog of the map-side-combined register exchange.
    """
    from yomitoku_spark.functions.sketch import hll_bucket_rho

    d = hll_bucket_rho(values_stream, F.col(value_col), [group_col], p=p)
    return _stateful_sketch(d, group_col, ["bucket"], "rho", -1, _merge_step("rho", max))


def stream_bloom_filter(
    values_stream: DataFrame,
    value_col: str = "tok",
    group_col: str = "source",
    m_bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Streaming membership sketch: per-(group, word) packed Bloom
    word state via ``applyInPandasWithState``, pinned to the batch
    build (`functions.sketch.bloom_build`).

    The stateless hash→(word, mask) front half is the SAME column
    plan as the batch build (`sketch._bloom_cells`); the stateful
    half keeps one BIGINT (the word's running bit_or) per occupied
    (group, word) and emits a row only when new bits are SET — so
    bit_or-folding everything emitted (`sketch.bloom_merge`) equals
    the batch filter over everything ingested so far, at any point in
    the stream and across checkpointed restarts. State is bounded by
    m_bits/32 rows per group no matter how many values arrive: unlike
    `stream_exact_dedup` (one int per DISTINCT value), this is
    dedup/decontamination state with a FIXED footprint — no false
    negatives ever, false-positive rate set by m and k."""
    from yomitoku_spark.functions.sketch import _bloom_cells

    src = values_stream.select(group_col, F.col(value_col).alias("v"))
    d = _bloom_cells(src, "v", m_bits, k).select(group_col, "word", "mask")
    return _stateful_sketch(d, group_col, ["word"], "bits", 0, _merge_step("mask", operator.or_))


def stream_q_buckets(
    values_stream: DataFrame,
    value_col: str = "v",
    group_col: str = "source",
    sub_bits: int = 5,
) -> DataFrame:
    """Streaming quantile sketch: per-(group, bucket) count state via
    ``applyInPandasWithState``, pinned to the batch bucket rule
    (`functions.sketch.q_build`).

    The stateless value→bucket front half is the SAME column plan as
    the batch build (`sketch.q_bucket_rows`); the stateful half keeps
    one BIGINT (the bucket's running count) per occupied (group,
    bucket) and emits each micro-batch's DELTA — the quantile sketch
    merges by SUM (counter semantics, unlike the idempotent HLL MAX /
    Bloom bit_or), so sum-folding everything emitted so far
    (`sketch.q_merge`) equals the batch bucket table over everything
    ingested so far, at any point in the stream and across
    checkpointed restarts. State is bounded by (64 - s)·2^s rows per
    group no matter how many values arrive, and any quantile is
    available mid-stream by folding + `sketch.q_quantiles`."""
    from yomitoku_spark.functions.sketch import q_bucket_rows

    d = q_bucket_rows(values_stream, F.col(value_col), [group_col], sub_bits)
    return _stateful_sketch(d, group_col, ["bucket"], "cnt", 0, _count_step)


def stream_cm_counters(
    values_stream: DataFrame,
    value_col: str = "tok",
    group_col: str = "source",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Streaming count-min sketch: per-(group, row, bucket) counter
    state via ``applyInPandasWithState``, pinned to the batch build
    (`functions.sketch.cm_build`) — the fifth and last sketch family
    member's stream twin.

    The stateless hash→(row, bucket) front half is the SAME column
    plan as the batch build (`sketch.cm_cells`); the stateful half
    keeps one BIGINT (the cell's running count) per occupied cell and
    emits each micro-batch's DELTA — count-min merges by SUM (counter
    semantics, like the quantile buckets), so sum-folding everything
    emitted so far (`sketch.cm_merge`) equals the batch sketch over
    everything ingested so far, at any point and across checkpointed
    restarts. State is bounded by depth·width rows per group."""
    from yomitoku_spark.functions.sketch import cm_cells

    d = cm_cells(values_stream, F.col(value_col), [group_col], depth, width)
    return _stateful_sketch(d, group_col, ["row", "bucket"], "cnt", 0, _count_step)
