"""Corpus-curation operators: repetition quality, exact-substring
duplicate spans, deterministic mixture sampling, and sequence packing.

These are the training-data curation stages a 100 TB pipeline runs
AFTER extraction (the reference stops at per-document export;
quality gating at corpus scale is the natural extension of its
is_noise / boilerplate filters, reference document_analyzer.py:69-113).
Published lineage, public:

* repetition filters — the Gopher / MassiveText quality rules
  (Rae et al. 2021, appendix A1.1): fraction of a document covered by
  its most-frequent word n-gram, and fraction covered by duplicated
  n-grams;
* exact-substring duplicate spans — Lee et al. 2022 ("Deduplicating
  Training Data Makes Language Models Better"): maximal spans repeated
  across documents, here at word-k-gram granularity so the whole
  computation is one hash aggregation + one semi join instead of a
  suffix array;
* deterministic mixture sampling — hash-bucket stratified sampling
  (the standard way to hit per-source mixture weights reproducibly on
  an arbitrarily large corpus: no RNG state, any subset of the data
  decides membership locally);
* sequence packing — concat-then-chunk with per-document lineage
  (each doc's (chunk, offset) span in the packed token stream), the
  layout LM training jobs consume.

All four are pure DataFrame plans (no Python in the hot path) and are
expressed integer-exact so DuckDB referees can hash-match them.

Shuffle accounting at scale:

* repetition: one explode + one hash aggregation per n-gram family,
  all keyed by (doc_id, gram) — partial aggregation applies, and no
  join ever leaves the doc_id grain;
* substring spans: the only corpus-wide exchange is the gram hash
  aggregation; the duplicated-gram set is orders of magnitude smaller
  than the corpus, so the join back is a bucketed semi join (Spark
  picks broadcast when it fits);
* mixture sampling: embarrassingly parallel (a filter);
* packing: one range exchange per packing stream (window cumsum over
  an ordered partition — Spark's two-pass prefix sum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from yomitoku_spark.functions.textstats import hash64, token_count, tokens
from yomitoku_spark.session import fan_out


def _grams(t: Column, n: int) -> Column:
    """Sliding word n-grams of the token array (1-based positions;
    empty when the doc has fewer than n tokens). The size guard
    matters: Spark's sequence(1, 0) DESCENDS ([1, 0]), so an unguarded
    short doc would call slice(start=0) and fail at runtime."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )
    return F.when(F.size(t) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition scores, integer permille per document:

    * ``top2_permille`` / ``top3_permille`` — tokens covered by the
      most frequent word 2-/3-gram (count x n / n_tokens, capped at
      1000; ties -> lexicographically smallest gram);
    * ``dup5_cover_permille`` — distinct token positions covered by
      any word 5-gram that occurs at least twice WITHIN the document.

    One plan per n-gram family: explode -> hash agg keyed by
    (doc, gram) -> per-doc fold; partial aggregation applies and
    nothing leaves the document grain, so the shuffles stay narrow at
    any corpus size.
    """
    t = tokens(F.lower(F.col(text_col)))
    # NOT fanned out (unlike the gram-hash operators below): this
    # operator's four consumers each re-shuffle narrow doc-grain rows
    # anyway, and the extra repartition exchange per consumer measured
    # SLOWER at sf0.1 (1.25 s -> 2.2 s) — the gram maps here are
    # cheaper than a per-consumer exchange.
    base = df.select(
        F.col(id_col), token_count(F.col(text_col)).alias("n_tokens"), t.alias("t")
    )

    def top_perm(n: int, out: str) -> DataFrame:
        g = base.select(
            id_col, "n_tokens", F.explode(_grams(F.col("t"), n)).alias("gram")
        )
        cnt = g.groupBy(id_col, "n_tokens", "gram").agg(F.count(F.lit(1)).alias("cnt"))
        return (
            cnt.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("gram"))
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                id_col,
                F.least(
                    F.lit(1000),
                    F.floor(F.lit(1000 * n) * F.col("cnt") / F.col("n_tokens")),
                )
                .cast("bigint")
                .alias(out),
            )
        )

    # duplicated-5-gram coverage: occurrences of within-doc repeated
    # 5-grams cover token positions [i, i+4]; count distinct covered.
    g5 = base.select(
        id_col, "n_tokens", F.posexplode(_grams(F.col("t"), 5)).alias("i0", "gram")
    )
    dup_cnt = W.partitionBy(id_col, "gram")
    covered = (
        g5.withColumn("cnt", F.count(F.lit(1)).over(dup_cnt))
        .filter(F.col("cnt") >= 2)
        .select(
            id_col,
            "n_tokens",
            F.explode(F.sequence(F.col("i0") + 1, F.col("i0") + 5)).alias("pos"),
        )
        .groupBy(id_col, "n_tokens")
        .agg(F.countDistinct("pos").alias("n_cov"))
        .select(
            id_col,
            F.floor(F.lit(1000) * F.col("n_cov") / F.col("n_tokens"))
            .cast("bigint")
            .alias("dup5_cover_permille"),
        )
    )

    out = (
        base.select(id_col, "n_tokens")
        .join(top_perm(2, "top2_permille"), id_col, "left")
        .join(top_perm(3, "top3_permille"), id_col, "left")
        .join(covered, id_col, "left")
    )
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce("top2_permille", F.lit(0)).alias("top2_permille"),
        F.coalesce("top3_permille", F.lit(0)).alias("top3_permille"),
        F.coalesce("dup5_cover_permille", F.lit(0)).alias("dup5_cover_permille"),
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Maximal duplicated substring spans at word-k-gram granularity
    (Lee et al. 2022 exact-substring dedup, Spark-first).

    A k-gram is "duplicated" when it occurs in >= 2 DISTINCT documents.
    Each duplicated occurrence at 1-based token position ``i`` covers
    tokens [i, i+k-1]; per document, contiguous-or-overlapping covered
    ranges merge into maximal spans (gaps-and-islands over a running
    max). Output: (doc_id, span_start, span_end, span_tokens).

    Scale shape: grams travel as 60-bit md5 hashes (narrow shuffle
    rows); the corpus-wide exchange is ONE hash aggregation keyed by
    gram hash, and the surviving duplicated-gram set — tiny relative
    to the corpus — semi-joins back (broadcast when it fits). The span
    merge is a per-document window, no further exchange past the
    doc_id repartition.
    """
    t = tokens(F.lower(F.col(text_col)))
    occ = fan_out(df).select(F.col(id_col), t.alias("t")).select(
        id_col, F.posexplode(_grams(F.col("t"), k)).alias("i0", "gram")
    )
    occ = occ.select(id_col, (F.col("i0") + 1).alias("pos"), hash64(F.col("gram")).alias("gh"))
    dup = (
        occ.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    hits = occ.join(dup, "gh", "left_semi").select(id_col, "pos")

    by_pos = W.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max(F.col("pos") + (k - 1)).over(
        by_pos.rowsBetween(W.unboundedPreceding, -1)
    )
    spans = (
        hits.withColumn(
            "new_island",
            F.when(
                prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(by_pos.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max(F.col("pos") + (k - 1)).alias("span_end"),
        )
        .select(
            id_col,
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_tokens"),
        )
    )
    return spans


def scrub_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup with REMOVAL (the second half of Lee et
    al. 2022 "Deduplicating training data makes language models
    better"): every word-``k``-gram occurring in >= 2 distinct
    documents keeps its copy in the smallest doc_id (the keeper) and
    is scrubbed from every other document — covered token positions
    are cut and the remaining tokens re-joined. Operates on the
    dedup-normalized (lowercased, whitespace-tokenized) stream, the
    same representation the span detector uses.

    Keeper positions are PROTECTED: a position in doc D that belongs
    to any duplicated gram whose keeper IS D is exempt from removal,
    even when another gram's removable span overlaps it. This makes
    the keep-one-copy guarantee total — every duplicated gram's
    keeper occurrence survives intact (without the exemption, a
    removable span from gram G could cut through doc D's keeper copy
    of gram H). Removal is position-wise, so a non-keeper occurrence
    overlapping a protected one is cut only outside the protection.

    Scale shape: grams travel as 60-bit hashes; the corpus-wide
    exchanges are the gram-keeper aggregation, the doc-grain
    anti-joins of covered/protected positions, and the final per-doc
    re-assembly fold. Overlapping removable spans merge for free
    through the DISTINCT covered-position set.

    Returns (id_col, n_tokens, n_removed, cleaned_text) for EVERY
    document — untouched docs ride through with n_removed = 0, and
    zero-token docs with n_tokens = 0 and empty cleaned_text."""
    t = tokens(F.lower(F.col(text_col)))
    base = fan_out(df).select(F.col(id_col).alias("id"), t.alias("t"))
    toks = base.select(
        "id", F.posexplode(F.col("t")).alias("i0", "tok")
    ).select("id", (F.col("i0") + 1).cast("bigint").alias("p"), "tok")
    occ = base.select(
        "id", F.posexplode(_grams(F.col("t"), k)).alias("i0", "gram")
    ).select(
        "id",
        (F.col("i0") + 1).cast("bigint").alias("pos"),
        hash64(F.col("gram")).alias("gh"),
    )
    keeper = (
        occ.groupBy("gh")
        .agg(
            F.min("id").alias("keep_id"),
            F.countDistinct("id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("gh", "keep_id")
    )
    dup = occ.join(keeper, "gh")
    bad = dup.filter(F.col("id") != F.col("keep_id"))
    covered = bad.select(
        "id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p")
    ).distinct()
    protected = (
        dup.filter(F.col("id") == F.col("keep_id"))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("p"),
        )
        .distinct()
    )
    removable = covered.join(protected, ["id", "p"], "left_anti")
    kept = toks.join(removable, ["id", "p"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    tok_counts = toks.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    # anchor on the full document set so zero-token docs ride through
    totals = (
        df.select(F.col(id_col).alias("id"))
        .join(tok_counts, "id", "left")
        .select("id", F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"))
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def mixture_sample(
    df: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic hash-bucket stratified sampling: a document is
    selected iff md5-bucket(doc_id) mod 1000 < its group's permille
    rate. No RNG state — membership is decided locally from the row
    alone, so the SAME subset is selected on any cluster size, any
    partitioning, and any re-run (the property that makes mixture
    weights reproducible on 100 TB). Output keeps the bucket and the
    applied rate so downstream can inverse-probability reweight.
    """
    rate = F.lit(default_permille)
    for g, r in sorted(rates_permille.items()):
        rate = F.when(F.col(group_col) == g, F.lit(r)).otherwise(rate)
    bucket = (hash64(F.col(id_col).cast("string")) % 1000).alias("bucket_permille")
    out = df.select(
        F.col(id_col), F.col(group_col), bucket, rate.cast("bigint").alias("rate_permille")
    )
    return out.filter(F.col("bucket_permille") < F.col("rate_permille"))


def pack_chunks(
    df: DataFrame,
    chunk_tokens: int,
    text_col: str = "text",
    stream_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-then-chunk sequence packing with per-document lineage.

    Documents are concatenated per packing stream (``stream_col``) in
    ``id_col`` order and the token stream is cut into fixed
    ``chunk_tokens`` windows; each document reports its 0-based global
    token offset and the [first_chunk, last_chunk] range it lands in
    (a doc can straddle chunks — exactly what a training dataloader
    needs to reassemble attention boundaries).

    The prefix sum is a window over the stream partition ordered by
    doc id — Spark executes it as ONE range exchange + per-partition
    scan (two-pass prefix sum). Streams are independent, so skew is
    bounded by the largest stream; for the hot-stream regime use
    :func:`pack_chunks_sharded`, which runs the same two-pass trick
    one level up and is pytest-pinned byte-equal to this path.
    """
    ntok = token_count(F.col(text_col))
    by_id = W.partitionBy(stream_col).orderBy(id_col)
    d = (
        df.select(F.col(id_col), F.col(stream_col), ntok.alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "cum",
            F.sum("n_tokens").over(by_id.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return d.select(
        id_col,
        stream_col,
        "n_tokens",
        (F.col("cum") - F.col("n_tokens")).cast("bigint").alias("start_offset"),
        F.floor((F.col("cum") - F.col("n_tokens")) / chunk_tokens)
        .cast("bigint")
        .alias("first_chunk"),
        F.floor((F.col("cum") - 1) / chunk_tokens).cast("bigint").alias("last_chunk"),
    )


def pack_chunks_sharded(
    df: DataFrame,
    chunk_tokens: int,
    range_size: int = 1 << 20,
    text_col: str = "text",
    stream_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`pack_chunks` for the HOT-STREAM regime: the distributed
    two-pass prefix sum, made explicit.

    A single window partition per stream serializes that stream's
    scan on one task — fine until one stream holds 10^10 documents.
    Here each stream splits into CONTIGUOUS id ranges
    (shard = id DIV ``range_size``, so global (stream, id) order is
    preserved across shards), the prefix sum runs per (stream, shard)
    — parallelism × number of shards — and a per-shard totals table
    (one tiny row per shard) is window-cumsum'd and broadcast back to
    re-base each shard's local offsets. Output is BYTE-EQUAL to
    :func:`pack_chunks` (pytest pins it); only the plan shape differs:
    the hot stream's O(n) scan becomes O(n / n_shards) per task plus
    an O(shards) driver-free fold.
    """
    ntok = token_count(F.col(text_col))
    d = df.select(
        F.col(id_col), F.col(stream_col), ntok.alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    # integer DIV, not double division: a double rounds shard
    # boundaries for ids > 2^53, silently breaking byte-equality with
    # the unsharded path. Requires a NUMERIC id_col (contiguous-range
    # sharding is meaningless for opaque string ids; a non-castable id
    # would NULL the shard and the re-base join would drop the row).
    d = d.withColumn(
        "shard", F.expr(f"CAST({id_col} AS BIGINT) DIV {int(range_size)}")
    )
    by_id = W.partitionBy(stream_col, "shard").orderBy(id_col)
    local = d.withColumn(
        "lcum",
        F.sum("n_tokens").over(by_id.rowsBetween(W.unboundedPreceding, 0)),
    )
    totals = d.groupBy(stream_col, "shard").agg(
        F.sum("n_tokens").alias("shard_total")
    )
    by_shard = W.partitionBy(stream_col).orderBy("shard")
    bases = totals.withColumn(
        "base",
        F.coalesce(
            F.sum("shard_total").over(
                by_shard.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(stream_col, "shard", "base")
    r = local.join(F.broadcast(bases), [stream_col, "shard"]).withColumn(
        "cum", F.col("lcum") + F.col("base")
    )
    return r.select(
        id_col,
        stream_col,
        "n_tokens",
        (F.col("cum") - F.col("n_tokens")).cast("bigint").alias("start_offset"),
        F.floor((F.col("cum") - F.col("n_tokens")) / chunk_tokens)
        .cast("bigint")
        .alias("first_chunk"),
        F.floor((F.col("cum") - 1) / chunk_tokens).cast("bigint").alias("last_chunk"),
    )


def decontaminate(
    df: DataFrame,
    k: int = 8,
    eval_permille: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-``k``-gram with a held-out evaluation split (the GPT-3 /
    PaLM-style n-gram overlap scrub, Brown et al. 2020 appendix C).

    The evaluation split is derived deterministically — a document is
    "eval" iff md5-bucket(doc_id) mod 1000 < ``eval_permille`` — the
    same hash-bucket rule as :func:`mixture_sample`, so the split is
    reproducible on any cluster size with no side-channel eval table.
    Per TRAINING document the output reports:

    * ``eval_gram_hits`` — occurrences of k-grams that also appear in
      the eval split;
    * ``contam_cover_permille`` — permille of token positions covered
      by those occurrences (each hit at 1-based position i covers
      [i, i+k-1], distinct-counted — the substring-span coverage rule);
    * ``contaminated`` — 1 iff any hit.

    Scale shape: grams travel as 60-bit hashes; the eval gram set is
    ~``eval_permille``/1000 of the corpus and semi-joins back against
    training occurrences (Spark broadcasts it when it fits). The only
    corpus-wide exchanges are the gram aggregation and the final
    doc-grain fold — both partial-agg friendly.
    """
    t = tokens(F.lower(F.col(text_col)))
    is_eval = (hash64(F.col(id_col).cast("string")) % 1000) < eval_permille
    base = fan_out(df).select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
        t.alias("t"),
        is_eval.alias("is_eval"),
    )
    occ = base.select(
        id_col, "is_eval", F.posexplode(_grams(F.col("t"), k)).alias("i0", "gram")
    ).select(
        id_col,
        "is_eval",
        (F.col("i0") + 1).alias("pos"),
        hash64(F.col("gram")).alias("gh"),
    )
    eval_grams = occ.filter(F.col("is_eval")).select("gh").distinct()
    hits = (
        occ.filter(~F.col("is_eval"))
        .join(eval_grams, "gh", "left_semi")
        .select(
            id_col,
            "pos",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("cov"),
        )
        .groupBy(id_col)
        .agg(
            F.countDistinct("pos").alias("eval_gram_hits"),
            F.countDistinct("cov").alias("n_cov"),
        )
    )
    return (
        base.filter(~F.col("is_eval"))
        .select(id_col, "n_tokens")
        .join(hits, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("eval_gram_hits", F.lit(0)).cast("bigint").alias("eval_gram_hits"),
            F.coalesce(
                F.floor(F.lit(1000) * F.col("n_cov") / F.col("n_tokens")), F.lit(0)
            )
            .cast("bigint")
            .alias("contam_cover_permille"),
            F.when(F.col("eval_gram_hits").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("contaminated"),
        )
    )


def decontaminate_bloom(
    df: DataFrame,
    k: int = 8,
    eval_permille: int = 20,
    m_bits: int = 65536,
    n_hashes: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scale path of :func:`decontaminate`: the eval k-gram set is
    compressed into a packed Bloom filter (functions/sketch.py) and
    the TRAINING side probes it as a pure column expression against
    one crossJoin-broadcast row — no gram-grain semi join, no
    per-probe explode, no lookup aggregation. At 100 TB this is the
    move that matters: the exact variant must either broadcast an
    uncompressed distinct-gram table (eval grams × ~20 bytes) or
    shuffle the corpus on gram hash, while the Bloom pass ships
    ``m_bits/8`` bytes (8 KiB at the 65536-bit default) and the
    corpus scan stays map-only until the final doc-grain fold.

    The Bloom guarantee is exactly the conservative direction a
    scrub wants: NO false negatives (every truly contaminated doc is
    flagged), false positives ~ (1-e^{-kn/m})^k over-flag. The exact
    hit count rides alongside so the superset law
    ``bloom_gram_hits >= eval_gram_hits`` (and
    ``contaminated_bloom >= contaminated``) is visible in-row.
    """
    from yomitoku_spark.functions import sketch as SK

    t = tokens(F.lower(F.col(text_col)))
    is_eval = (hash64(F.col(id_col).cast("string")) % 1000) < eval_permille
    base = fan_out(df).select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
        t.alias("t"),
        is_eval.alias("is_eval"),
    )
    occ = base.select(
        id_col, "is_eval", F.posexplode(_grams(F.col("t"), k)).alias("i0", "gram")
    ).select(id_col, "is_eval", (F.col("i0") + 1).alias("pos"), "gram")
    members = occ.filter(F.col("is_eval"))
    packed = SK.bloom_pack(
        SK.bloom_build(members, F.col("gram"), [], m_bits=m_bits, k=n_hashes)
    )
    train = occ.filter(~F.col("is_eval"))
    probed = train.crossJoin(F.broadcast(packed)).withColumn(
        "bloom_hit", SK.bloom_test(F.col("gram"), m_bits=m_bits, k=n_hashes)
    )
    eval_grams = members.select("gram").distinct()
    exact = (
        train.join(eval_grams, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("eval_gram_hits"))
    )
    bloom = (
        probed.groupBy(id_col)
        .agg(F.sum("bloom_hit").cast("bigint").alias("bloom_gram_hits"))
    )
    return (
        base.filter(~F.col("is_eval"))
        .select(id_col, "n_tokens")
        .join(bloom, id_col, "left")
        .join(exact, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("bloom_gram_hits", F.lit(0)).cast("bigint").alias(
                "bloom_gram_hits"
            ),
            F.coalesce("eval_gram_hits", F.lit(0)).cast("bigint").alias(
                "eval_gram_hits"
            ),
            (F.coalesce("bloom_gram_hits", F.lit(0)) > 0).cast("bigint").alias(
                "contaminated_bloom"
            ),
            (F.coalesce("eval_gram_hits", F.lit(0)) > 0).cast("bigint").alias(
                "contaminated"
            ),
        )
    )


# PII patterns: deliberately restricted to constructs whose matched
# language AND leftmost-first semantics are identical in Java regex
# (Spark) and RE2 (DuckDB): literal classes, bounded repeats, \b, \d
# (ASCII in both). Redaction is SEQUENTIAL — email, then IPv4, then
# phone — and each category is counted on ITS stage input, so a count
# is exactly the number of replacements that stage performed.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{2,4}-\d{2,4}-\d{3,4}\b"


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrub for training corpora: replace emails / IPv4 addresses
    / dashed phone numbers with typed placeholders and report the
    per-category replacement counts (the pre-training redaction stage;
    the reference's normalizer family — functions/normalize.py twins —
    recognizes the same phone/postal shapes per-field, this applies
    the corpus-wide analogue in one pass).

    Pure codegen: three regexp_replace + three regexp_count, no
    shuffle at all — the operator is embarrassingly parallel and its
    plan is a single Project over the scan.
    """
    src = F.col(text_col)
    s1 = F.regexp_replace(src, PII_EMAIL, "<EMAIL>")
    s2 = F.regexp_replace(s1, PII_IPV4, "<IP>")
    s3 = F.regexp_replace(s2, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        F.regexp_count(src, F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(s1, F.lit(PII_IPV4)).cast("bigint").alias("n_ipv4"),
        F.regexp_count(s2, F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        s3.alias("redacted"),
    )


def importance_weights(
    df: DataFrame,
    target_permille: int = 100,
    n_buckets: int = 1024,
    scale: int = 1_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"),
    integer-exact so a SQL referee can hash-match it.

    Features are unigrams + bigrams hashed into ``n_buckets`` buckets.
    A deterministic hash split (md5-bucket(doc_id) mod 1000 <
    ``target_permille``) plays the target distribution; the rest is
    background. Each bucket scores

        s_b = scale*(tcnt_b+1) DIV (T+n_buckets)
            - scale*(bcnt_b+1) DIV (Bg+n_buckets)

    (Laplace-smoothed probability difference in fixed-point — the
    log-ratio of the published method is swapped for a difference to
    stay integer-exact; the induced ranking is what selection uses)
    and a document's weight is the sum of its feature occurrences'
    bucket scores. With scale=1e6 the product stays < 2^63 up to
    ~1e12 feature occurrences — the 10^12-turn design point.

    Scale shape: ONE corpus-wide feature aggregation keyed by bucket;
    the per-bucket score table is bounded by ``n_buckets`` rows and is
    explicitly broadcast, so scoring never shuffles the corpus again —
    the doc-grain fold is the only other exchange.
    """
    t = tokens(F.lower(F.col(text_col)))
    is_target = (hash64(F.col(id_col).cast("string")) % 1000) < target_permille
    base = fan_out(df).select(F.col(id_col), t.alias("t"), is_target.alias("is_target"))
    occ = base.select(
        id_col,
        "is_target",
        F.explode(F.concat(_grams(F.col("t"), 1), _grams(F.col("t"), 2))).alias("gram"),
    ).select(
        id_col, "is_target", (hash64(F.col("gram")) % n_buckets).alias("b")
    )
    cnts = occ.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("tcnt"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0)).alias("bcnt"),
    )
    # cnts is <= n_buckets rows but its lineage holds the corpus-wide
    # feature scan; without a checkpoint Spark re-evaluates that scan
    # for BOTH the totals fold and the score build (plus once more for
    # per_doc) — 3 corpus passes. Materializing the tiny table pins the
    # operator at the 2-pass minimum (one for cnts, one for scoring).
    cnts = cnts.localCheckpoint(eager=True)
    totals = cnts.agg(
        F.sum("tcnt").alias("tot_t"), F.sum("bcnt").alias("tot_b")
    )
    score = (
        cnts.crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.expr(
                f"CAST({scale} AS BIGINT) * (tcnt + 1) DIV (tot_t + {n_buckets}) "
                f"- CAST({scale} AS BIGINT) * (bcnt + 1) DIV (tot_b + {n_buckets})"
            ).alias("s"),
        )
    )
    per_doc = (
        occ.join(F.broadcast(score), "b")
        .groupBy(id_col, "is_target")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("s").alias("weight"),
        )
    )
    return (
        base.select(id_col, "is_target")
        .join(per_doc.select(id_col, "n_feats", "weight"), id_col, "left")
        .select(
            id_col,
            F.col("is_target").cast("int").alias("is_target"),
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            F.coalesce("weight", F.lit(0)).cast("bigint").alias("weight"),
        )
    )


def lm_perplexity(
    df: DataFrame,
    train_permille: int = 500,
    n_buckets: int = 4096,
    max_bits_milli: int = 9000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020): train a
    hash-bucketed add-one-smoothed bigram LM on a deterministic hash
    split of the corpus, then score EVERY document's per-token
    cross-entropy against it; low-perplexity documents are the CCNet
    "head" a pre-training pipeline keeps. Integer-exact so a DuckDB
    referee hash-matches it:

    * contexts (w1) and bigrams (w1 w2) hash into ``n_buckets``
      buckets (count-min-flavored LM — the model is bounded by the
      bucket count, not the vocabulary, so it broadcasts at any
      corpus size);
    * a bigram occurrence costs
      ``bits = max(floor_log2(((c_ctx + V) * 1024) DIV (c_bg + 1)) - 10, 0)``
      with ``V = n_buckets`` — the floor of log2 of the smoothed
      inverse probability ``(c_ctx+V)/(c_bg+1)``, computed exactly on
      both engines as ``length(bin(q)) - 1`` (string-based, no
      floating point anywhere); the ``*1024 … -10`` shift keeps the
      ratio's integer floor from collapsing to 0 when collisions make
      a bigram bucket hotter than its context bucket;
    * a document's score is ``bits_milli = 1000 * total_bits DIV
      n_bigrams`` (milli-bits per bigram ≈ 1000·log2(perplexity));
      ``keep`` flags documents at or under ``max_bits_milli``.

    Scale shape: ONE corpus pass builds the bucket count table (train
    split only, melted so context+bigram counts share a single hash
    aggregation; the ≤ 2·n_buckets-row result is localCheckpoint-ed so
    its corpus-wide lineage is never re-evaluated) — the table is
    explicitly broadcast twice, so scoring shuffles the corpus only at
    the final doc-grain fold. Two corpus passes total, no corpus-grain
    join anywhere.
    """
    t = tokens(F.lower(F.col(text_col)))
    # salt the split hash so the train split decorrelates from the
    # DSIR target split (both hash doc_id)
    is_train = (
        hash64(F.concat(F.col(id_col).cast("string"), F.lit(":lm"))) % 1000
    ) < train_permille
    base = fan_out(df).select(F.col(id_col), t.alias("t"), is_train.alias("is_train"))
    pairs = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice(F.col("t"), 1, F.size("t") - 1),
            F.slice(F.col("t"), 2, F.size("t") - 1),
            lambda a, b: F.struct(
                (hash64(a) % n_buckets).alias("bc"),
                (hash64(F.concat_ws(" ", a, b)) % n_buckets).alias("bg"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bc:bigint,bg:bigint>>"))
    occ = base.select(id_col, "is_train", F.explode(pairs).alias("o")).select(
        id_col, "is_train", "o.bc", "o.bg"
    )
    melted = occ.filter(F.col("is_train")).select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("kind"), F.col("bc").alias("b")),
                F.struct(F.lit(1).alias("kind"), F.col("bg").alias("b")),
            )
        ).alias("kb")
    )
    cnts = melted.groupBy("kb.kind", "kb.b").agg(F.count(F.lit(1)).alias("c"))
    # <= 2*n_buckets rows whose lineage holds the train-split corpus
    # scan; checkpoint pins the operator at the two-pass minimum (same
    # rationale as importance_weights above)
    cnts = cnts.localCheckpoint(eager=True)
    ctx_c = cnts.filter(F.col("kind") == 0).select(
        F.col("b").alias("bc"), F.col("c").alias("c_ctx")
    )
    bg_c = cnts.filter(F.col("kind") == 1).select(
        F.col("b").alias("bg"), F.col("c").alias("c_bg")
    )
    q = F.expr(
        f"(COALESCE(c_ctx, 0) + {n_buckets}) * 1024 DIV (COALESCE(c_bg, 0) + 1)"
    )
    bits = F.greatest(
        F.length(F.bin(F.greatest(q, F.lit(1)))) - F.lit(11), F.lit(0)
    ).cast("bigint")
    per_doc = (
        occ.join(F.broadcast(ctx_c), "bc", "left")
        .join(F.broadcast(bg_c), "bg", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(bits).alias("total_bits"),
        )
    )
    bits_milli = F.expr(
        "1000 * COALESCE(total_bits, CAST(0 AS BIGINT)) "
        "DIV GREATEST(COALESCE(n_bigrams, CAST(0 AS BIGINT)), CAST(1 AS BIGINT))"
    )
    return (
        base.select(id_col, "is_train")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.col("is_train").cast("int").alias("is_train"),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("total_bits", F.lit(0)).cast("bigint").alias("total_bits"),
            bits_milli.cast("bigint").alias("bits_milli"),
            (bits_milli <= max_bits_milli).cast("int").alias("keep"),
        )
    )


def sliding_chunks(
    df: DataFrame,
    chunk_size: int = 32,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style sliding-window chunking: each document's token stream
    is cut into windows of ``chunk_size`` tokens advancing by
    ``stride = chunk_size - overlap``, the unit a retrieval pipeline
    embeds and indexes (each chunk overlaps its predecessor by
    ``overlap`` tokens so no answer span is split across a boundary).

    Window rule (integer-exact): a document of n > 0 tokens yields
    ``1 + ceil(max(n - chunk_size, 0) / stride)`` chunks; chunk i
    starts at token offset ``i*stride`` (0-based) and carries
    ``min(chunk_size, n - i*stride)`` tokens — every token is covered,
    only the last chunk may be short, and a doc with n <= chunk_size
    yields exactly one chunk. Empty documents yield no rows.

    Scale shape: a per-row explode + project — ZERO shuffles; output
    size is bounded by ``n/stride + 1`` rows per document. This is the
    query-side sibling of ``pack_chunks`` (which packs the training
    stream); both keep (doc_id, offset) lineage.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    t = tokens(F.col(text_col))
    d = df.select(F.col(id_col), t.alias("t")).withColumn(
        "n", F.size("t").cast("bigint")
    )
    n_chunks = F.expr(
        f"1 + (GREATEST(n - {chunk_size}, CAST(0 AS BIGINT)) + {stride - 1}) "
        f"DIV {stride}"
    )
    d = d.filter(F.col("n") > 0).withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1))
    )
    start = (F.col("chunk_idx") * stride).cast("bigint")
    return d.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        start.alias("start_token"),
        F.least(F.lit(chunk_size).cast("bigint"), F.col("n") - start).alias(
            "chunk_tokens"
        ),
        F.array_join(
            F.slice(F.col("t"), (start + 1).cast("int"), chunk_size), " "
        ).alias("chunk_text"),
    )
