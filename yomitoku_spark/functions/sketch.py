"""Portable mergeable sketches — one family, five summaries, in
module order: HyperLogLog (distinct counts), count-min (frequencies),
Bloom (membership), log-linear buckets (quantiles), and bottom-k/KMV
(deterministic uniform sample + a second distinct estimator). Each is
a small DataFrame artifact built with ONE map-side-combined exchange,
merges across shards and days with its own law (MAX / SUM /
bit_or / SUM / min-k union), and is integer-exact so a DuckDB referee
replays it bit for bit.

Spark ships ``approx_count_distinct``, but its register state is
engine-internal: you cannot persist it, merge sketches built by
different jobs, or referee it from another engine. At 100 TB
the MERGEABLE artifact is the point — per-shard register tables union
with a ``MAX`` and the estimate is computed once at the end, so
distinct counts compose across partitions, days, and pipelines without
ever re-scanning data (Flajolet et al. 2007, "HyperLogLog: the
analysis of a near-optimal cardinality estimation algorithm").

This implementation is integer-exact on BOTH engines so a DuckDB
referee hash-matches it end to end:

* element hash = the repo's portable 60-bit md5 hash (`textstats.
  hash64`); bucket = ``h % m`` (m = 2^p registers), remainder
  ``w = h DIV m`` is a (60-p)-bit word;
* register value rho = leading-zero rank of w in its (60-p)-bit
  window = ``(60-p) + 1 - bitlength(w)`` with ``bitlength`` taken
  from the bin() string (w = 0 → 61-p), the same string-exact
  floor-log2 trick the CCNet scorer and BM25 idf use;
* the estimate is fixed point: the harmonic sum is accumulated as
  ``2^30 DIV 2^rho`` per register (empty register → 2^30), and
  ``est_milli = (alpha_micro * m^2 DIV 1000) * 2^30 DIV S``; the
  small-range regime (empty registers present and raw estimate
  ≤ 2.5m) switches to linear counting ``m * ln(m/V)`` computed with
  the quadratic-refined milli-log2 (`retrieval.plog2q_frag` —
  the linear form's ~86 milli-bit octave error would bias ln(m/V)
  by ~25% near m/V = 1) times ln(2) in micro units. No floating point anywhere.

Scale shape: building registers is ONE exchange keyed
(group, bucket) with a MAX aggregate — partial aggregation (map-side
combine) collapses each task's contribution to ≤ m rows before the
shuffle, so the exchange moves O(groups·m) rows regardless of corpus
size. ``hll_merge`` is the same groupBy-MAX over unioned register
tables (shards, days). The estimate is a per-group fold over
≤ m rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yomitoku_spark.functions.textstats import hash64
from yomitoku_spark.operators.retrieval import plog2q_frag

# alpha_256 = 0.7213/(1 + 1.079/256) in micro units (p=8)
ALPHA_MICRO = {8: 718273}
LN2_MICRO = 693147  # ln(2) in micro units


def hll_registers(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    p: int = 8,
) -> DataFrame:
    """Register table (group_cols..., bucket, rho) for the distinct
    values of ``value`` within each group. Mergeable: union register
    tables from any shards and pass through :func:`hll_merge`."""
    m = 1 << p
    wbits = 60 - p
    # h DIV m must be integer division: h is up to 2^60 and a double
    # round-trip loses bits above 2^53
    d = df.select(*group_cols, hash64(value).alias("h")).select(
        *group_cols,
        F.expr(f"h % {m}").alias("bucket"),
        F.expr(f"h DIV {m}").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(F.col("w")))
    )
    return (
        d.select(*group_cols, "bucket", rho.cast("bigint").alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge register tables (e.g. from shards or micro-batches):
    per-(group, bucket) MAX — associative, commutative, idempotent."""
    return registers.groupBy(*group_cols, "bucket").agg(
        F.max("rho").alias("rho")
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str],
    p: int = 8,
) -> DataFrame:
    """Integer fixed-point cardinality estimate per group:
    (group_cols..., n_nonzero, sum_rho, est_milli). ``sum_rho`` is a
    cheap register-state fingerprint (useful to assert two sketches
    identical); ``est_milli`` is the HLL estimate in milli-counts with
    the linear-counting small-range correction."""
    m = 1 << p
    alpha = ALPHA_MICRO[p]
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nonzero"),
        F.sum("rho").cast("bigint").alias("sum_rho"),
        F.sum(
            F.expr("CAST(1073741824 AS BIGINT) DIV shiftleft(CAST(1 AS BIGINT), CAST(rho AS INT))")
        )
        .cast("bigint")
        .alias("s_present"),
    )
    # harmonic sum over ALL m registers: empty ones contribute 2^0 = 1
    # each, i.e. 2^30 in fixed point
    raw = (
        f"((CAST({alpha} AS BIGINT) * {m} * {m} DIV 1000) * 1073741824) "
        f"DIV GREATEST(s_present + ({m} - n_nonzero) * 1073741824, CAST(1 AS BIGINT))"
    )
    # linear counting: m * ln(m/V) via milli-log2(m*2^20 DIV V) - 20000
    lc_ratio = f"(CAST({m} AS BIGINT) * 1048576 DIV GREATEST({m} - n_nonzero, CAST(1 AS BIGINT)))"
    lc = (
        f"(CAST({m} AS BIGINT) * ((({plog2q_frag(lc_ratio, 'spark')} - 20000000) "
        f"* {LN2_MICRO} DIV 1000000)) DIV 1000)"
    )
    est = (
        f"CASE WHEN n_nonzero < {m} AND ({raw}) <= {2500 * m} "
        f"THEN ({lc}) ELSE ({raw}) END"
    )
    return agg.select(
        *group_cols,
        "n_nonzero",
        "sum_rho",
        F.expr(est).cast("bigint").alias("est_milli"),
    )


def sql_hll_estimate(
    src: str,
    group_col: str,
    value_sql: str,
    p: int = 8,
) -> str:
    """DuckDB twin of registers→estimate over relation ``src`` with one
    group column — the referee for the whole sketch path."""
    m = 1 << p
    wbits = 60 - p
    alpha = ALPHA_MICRO[p]
    raw = (
        f"((CAST({alpha} AS BIGINT) * {m} * {m} // 1000) * 1073741824) "
        f"// GREATEST(s_present + ({m} - n_nonzero) * 1073741824, CAST(1 AS BIGINT))"
    )
    lc_ratio = (
        f"(CAST({m} AS BIGINT) * 1048576 // "
        f"GREATEST({m} - n_nonzero, CAST(1 AS BIGINT)))"
    )
    lc = (
        f"(CAST({m} AS BIGINT) * ((({plog2q_frag(lc_ratio, 'duckdb')} - 20000000) "
        f"* {LN2_MICRO} // 1000000)) // 1000)"
    )
    return f"""
hh AS (SELECT {group_col},
  ('0x' || substr(md5({value_sql}), 1, 15))::BIGINT AS h FROM {src}),
regs AS (SELECT {group_col}, h % {m} AS bucket,
  MAX(CASE WHEN h // {m} = 0 THEN {wbits + 1}
      ELSE {wbits + 1} - length(bin(h // {m})) END) AS rho
  FROM hh GROUP BY {group_col}, h % {m}),
hagg AS (SELECT {group_col},
  CAST(COUNT(*) AS BIGINT) AS n_nonzero,
  CAST(SUM(rho) AS BIGINT) AS sum_rho,
  CAST(SUM(1073741824 // (CAST(1 AS BIGINT) << rho)) AS BIGINT) AS s_present
  FROM regs GROUP BY {group_col}),
hest AS (SELECT {group_col}, n_nonzero, sum_rho,
  CAST(CASE WHEN n_nonzero < {m} AND ({raw}) <= {2500 * m}
       THEN ({lc}) ELSE ({raw}) END AS BIGINT) AS est_milli
  FROM hagg)"""


# ------------------------------------------------------------------
# count-min sketch (Cormode & Muthukrishnan 2005): mergeable frequency
# sketch — d salted hash rows × w buckets of BIGINT counters. Same
# design goals as the HLL above: the table is the artifact (d·w rows
# per group, merges by SUM across shards), every number is a
# BIGINT, and the DuckDB referee replays build→query bit for bit.
# Point estimates are upper bounds: est >= true count always, with
# overestimate ~ 2·N/w at confidence 1 - (1/2)^d.
# ------------------------------------------------------------------


def cm_build(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min table (group_cols..., row, bucket, cnt) over the
    occurrences of ``value``. ONE exchange keyed (group, row, bucket)
    with map-side partial SUM; the depth-fold explode happens before
    the combine, so the shuffle still moves ≤ depth·width rows per
    group per task."""
    d = df.select(*group_cols, value.alias("v")).withColumn(
        "row", F.explode(F.array(*[F.lit(j) for j in range(depth)]))
    )
    bucket = (
        hash64(F.concat_ws(":", F.col("row").cast("string"), F.col("v"))) % width
    )
    return (
        d.select(
            *group_cols,
            F.col("row").cast("bigint").alias("row"),
            bucket.cast("bigint").alias("bucket"),
        )
        .groupBy(*group_cols, "row", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cm_query(
    sketch: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    probe_col: str = "probe",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate the count of each probe value: min over the d
    rows of the probe's bucket counter (absent cell → 0). The sketch
    (≤ depth·width rows per group by construction) is broadcast to the
    probe side, so neither input re-shuffles for the lookup. (A right
    outer join with a broadcast probe build side is unsupported —
    Spark silently drops that hint and falls back to a shuffle.)"""
    p = probes.select(*group_cols, F.col(probe_col)).withColumn(
        "row", F.explode(F.array(*[F.lit(j) for j in range(depth)]))
    )
    bucket = (
        hash64(F.concat_ws(":", F.col("row").cast("string"), F.col(probe_col)))
        % width
    )
    p = p.select(*group_cols, probe_col, "row", bucket.cast("bigint").alias("bucket"))
    joined = p.join(F.broadcast(sketch), [*group_cols, "row", "bucket"], "left")
    return joined.groupBy(*group_cols, probe_col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).cast("bigint").alias("est")
    )


def sql_cm_estimate(
    occ: str,
    probe_src: str,
    depth: int = 4,
    width: int = 1024,
) -> str:
    """DuckDB twin of cm_build + cm_query (no group column): ``occ``
    must expose a ``tok`` column (one row per occurrence), ``probe_src``
    a distinct ``probe`` column. Yields CTE ``cmest(probe, est)``."""
    rows = "[" + ",".join(str(j) for j in range(depth)) + "]"

    def h(row: str, v: str) -> str:
        return (
            f"('0x' || substr(md5(CAST({row} AS VARCHAR) || ':' || {v}), "
            f"1, 15))::BIGINT"
        )

    return f"""
cmcells AS (SELECT j AS row_, tok FROM {occ}, unnest({rows}) AS r(j)),
cmsk AS (SELECT row_, {h('row_', 'tok')} % {width} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt FROM cmcells GROUP BY 1, 2),
cmpc AS (SELECT probe, j AS row_, {h('j', 'probe')} % {width} AS bucket
         FROM {probe_src}, unnest({rows}) AS r(j)),
cmest AS (SELECT probe, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est
          FROM cmpc LEFT JOIN cmsk USING (row_, bucket) GROUP BY probe)"""


# ------------------------------------------------------------------
# Bloom membership filter (Bloom 1970): the broadcast-decontamination
# primitive — build a packed bit table over a (small) reference set,
# merge shards with bit_or, probe a (huge) corpus side with NO
# corpus-grain join shuffle. k salted hashes set k of m bits; a probe
# is "present" iff all k bits are set. No false negatives ever;
# false-positive rate ~ (1 - e^{-kn/m})^k. Bits are packed 32 per
# BIGINT word, so the artifact is <= m/32 rows per group — at the
# default m = 8192 that is 256 rows, broadcastable to any corpus size.
# ------------------------------------------------------------------

_BLOOM_WPB = 32  # bits packed per word (BIGINT masks stay positive)


def _bloom_cells(src: DataFrame, col: str, m_bits: int, k: int):
    """(word, mask) cell coordinates for each value of ``col``."""
    d = src.withColumn("j", F.explode(F.array(*[F.lit(j) for j in range(k)])))
    bit = (
        hash64(F.concat_ws(":", F.col("j").cast("string"), F.col(col)))
        % m_bits
    )
    return d.withColumn("bit", bit.cast("bigint")).select(
        *src.columns,
        F.expr(f"bit DIV {_BLOOM_WPB}").alias("word"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {_BLOOM_WPB} AS INT))"
        ).alias("mask"),
    )


def bloom_build(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    m_bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Packed Bloom bit table (group_cols..., word, bits) over the
    values of ``value``. ONE exchange keyed (group, word) with a
    map-side partial bit_or, so the shuffle moves <= m_bits/32 rows
    per group per task regardless of input size."""
    src = df.select(*group_cols, value.alias("v"))
    cells = _bloom_cells(src, "v", m_bits, k)
    return (
        cells.groupBy(*group_cols, "word")
        .agg(F.bit_or("mask").cast("bigint").alias("bits"))
    )


def bloom_contains(
    sketch: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    probe_col: str = "probe",
    m_bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Probe membership: 1 iff all k of the probe's bits are set.
    The sketch (<= m_bits/32 rows per group) is broadcast, so the
    probe side — the 100 TB side in a decontamination pass — never
    shuffles for the lookup."""
    src = probes.select(*group_cols, F.col(probe_col))
    cells = _bloom_cells(src, probe_col, m_bits, k)
    joined = cells.join(F.broadcast(sketch), [*group_cols, "word"], "left")
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
        == F.col("mask")
    )
    return joined.groupBy(*group_cols, probe_col).agg(
        F.min(hit.cast("bigint")).alias("contains")
    )


def sql_bloom_contains(
    member_src: str,
    probe_src: str,
    m_bits: int = 8192,
    k: int = 3,
) -> str:
    """DuckDB twin of bloom_build + bloom_contains (no group column):
    ``member_src`` must expose a ``tok`` column, ``probe_src`` a
    distinct ``probe`` column. Yields CTE ``blest(probe, contains)``."""
    js = "[" + ",".join(str(j) for j in range(k)) + "]"

    def h(row: str, v: str) -> str:
        return (
            f"('0x' || substr(md5(CAST({row} AS VARCHAR) || ':' || {v}), "
            f"1, 15))::BIGINT"
        )

    w = _BLOOM_WPB
    return f"""
blmb AS (SELECT {h('j', 'tok')} % {m_bits} AS bit
         FROM {member_src}, unnest({js}) AS r(j)),
blsk AS (SELECT bit // {w} AS word,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(bit % {w} AS INT)) AS BIGINT)
           AS bits FROM blmb GROUP BY 1),
blpc AS (SELECT probe, {h('j', 'probe')} % {m_bits} AS bit
         FROM {probe_src}, unnest({js}) AS r(j)),
blest AS (SELECT probe, CAST(MIN(CASE WHEN
            (COALESCE(bits, 0) & (CAST(1 AS BIGINT) << CAST(bit % {w} AS INT)))
            = (CAST(1 AS BIGINT) << CAST(bit % {w} AS INT))
          THEN 1 ELSE 0 END) AS BIGINT) AS contains
          FROM blpc LEFT JOIN blsk ON blsk.word = blpc.bit // {w}
          GROUP BY probe)"""


def bloom_pack(sketch: DataFrame) -> DataFrame:
    """Fold a (word, bits) Bloom table (no group cols) into ONE row
    holding ``bloom: map<bigint, bigint>``. crossJoin-broadcast this
    single row against the probe side and test with
    :func:`bloom_test` — a MAP-ONLY membership check: no per-probe
    explode, no lookup join at cell grain, no aggregation. This is
    the shape a 100 TB decontamination pass wants: the corpus scan
    stays embarrassingly parallel and the filter rides along as one
    broadcast row."""
    return sketch.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word", "bits")))
        ).alias("bloom")
    )


def bloom_test(
    value: Column,
    m_bits: int = 8192,
    k: int = 3,
    map_col: str = "bloom",
) -> Column:
    """Pure column-expression Bloom membership test against a packed
    ``map_col`` produced by :func:`bloom_pack` (crossJoined onto the
    probe rows): 1 iff all ``k`` salted bits are set. Bit coordinates
    are identical to :func:`_bloom_cells`, so pack+test equals
    build+contains bit for bit."""
    test = F.lit(True)
    for j in range(k):
        bit = (hash64(F.concat_ws(":", F.lit(str(j)), value)) % m_bits).cast(
            "bigint"
        )
        word = F.floor(bit / _BLOOM_WPB).cast("bigint")  # bit < m_bits: exact
        mask = F.call_function(  # F.shiftleft only takes a literal count
            "shiftleft", F.lit(1).cast("bigint"), (bit % _BLOOM_WPB).cast("int")
        )
        looked = F.coalesce(
            F.element_at(F.col(map_col), word), F.lit(0).cast("bigint")
        )
        test = test & (looked.bitwiseAND(mask) == mask)
    return test.cast("bigint")


# ------------------------------------------------------------------
# Log-linear quantile sketch: HdrHistogram-style buckets (Tene,
# HdrHistogram; the same store shape as DDSketch's default,
# Masson et al. 2019 VLDB "DDSketch: a fast and fully-mergeable
# quantile sketch") with PURE INTEGER bucket math — no log anywhere:
#
#   e      = length(bin(v))              (bitlength, string-exact)
#   shift  = max(e - s - 1, 0)
#   bucket = shift * 2^s + (v >> shift)
#
# Values in [1, 2^(s+1)) map to themselves (exact linear region);
# above that each octave splits into 2^s sub-buckets, so the bucket
# id is monotone in v and the relative error of the bucket midpoint
# is <= 2^-(s+1). The sketch is (group, bucket, cnt) rows — at most
# (64 - s) * 2^s rows per group (~1.9k at the default s = 5) — built
# with ONE map-side-combined exchange and merged across shards/days
# by SUM (counter semantics, like count-min; NOT idempotent).
# Quantile extraction is a per-group cumulative walk over the
# bounded bucket rows with the rank rule r = (q_milli*(n-1)) DIV
# 1000 + 1 (1-based r-th smallest), bit-replayable in DuckDB.
# ------------------------------------------------------------------


def q_build(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    sub_bits: int = 5,
) -> DataFrame:
    """Quantile-sketch bucket table (group_cols..., bucket, cnt) over
    positive BIGINT ``value``. ONE exchange keyed (group, bucket) with
    a map-side partial SUM. Values < 1 clamp to 1 so the bucket math
    is total."""
    s = sub_bits
    src = df.select(
        *group_cols, F.greatest(value.cast("bigint"), F.lit(1)).alias("v")
    )
    d = (
        src.withColumn("e", F.length(F.bin("v")).cast("bigint"))
        .withColumn(
            "sh", F.greatest(F.col("e") - (s + 1), F.lit(0)).cast("int")
        )
        .withColumn(
            "bucket",
            (F.col("sh").cast("bigint") * (1 << s)
             + F.expr("shiftright(v, sh)")).cast("bigint"),
        )
    )
    return d.groupBy(*group_cols, "bucket").agg(
        F.count("*").cast("bigint").alias("cnt")
    )


def _q_bucket_mid(sub_bits: int) -> Column:
    """Integer midpoint of column ``bucket``'s value range (exact
    below 2^(s+1); octave sub-range midpoint above): with
    sh = bucket DIV 2^s - 1 and m = bucket - sh*2^s, the range is
    [m << sh, ((m+1) << sh) - 1]."""
    s = sub_bits
    sh = f"(bucket DIV {1 << s} - 1)"
    m = f"(bucket - {sh} * {1 << s})"
    lo = f"shiftleft({m}, CAST({sh} AS INT))"
    hi = f"(shiftleft({m} + 1, CAST({sh} AS INT)) - 1)"
    return F.expr(
        f"CASE WHEN bucket < {1 << (s + 1)} THEN bucket "
        f"ELSE ({lo} + {hi}) DIV 2 END"
    ).cast("bigint")


def q_quantiles(
    sketch: DataFrame,
    group_cols: list[str],
    q_millis: list[int],
    sub_bits: int = 5,
) -> DataFrame:
    """Quantile estimates (group_cols..., q_milli, est, n) from a
    bucket table: rank r = (q_milli*(n-1)) DIV 1000 + 1, est = the
    midpoint of the bucket containing the r-th smallest value. The
    walk is a window cumsum over the <= (64-s)*2^s bucket rows per
    group — driver-free and bounded regardless of corpus size."""
    from pyspark.sql import Window as W

    gw = W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    c = (
        sketch.withColumn("cum", F.sum("cnt").over(gw.orderBy("bucket")))
        .withColumn("n", F.sum("cnt").over(gw))
    )
    q = c.withColumn(
        "q_milli",
        F.explode(F.array(*[F.lit(int(x)).cast("bigint") for x in q_millis])),
    ).withColumn("r", F.expr("q_milli * (n - 1) DIV 1000 + 1"))
    hitting = q.filter(
        (F.col("cum") >= F.col("r")) & (F.col("cum") - F.col("cnt") < F.col("r"))
    )
    return hitting.select(
        *group_cols,
        "q_milli",
        _q_bucket_mid(sub_bits).alias("est"),
        F.col("n").cast("bigint").alias("n"),
    )


def sql_q_quantiles(
    src: str,
    value_expr: str,
    group_cols: list[str],
    q_millis: list[int],
    sub_bits: int = 5,
) -> str:
    """DuckDB twin of q_build + q_quantiles: ``src`` is a CTE/table,
    ``value_expr`` the positive-integer expression to sketch. Yields
    CTE ``qest(group_cols..., q_milli, est, n)`` replaying the bucket
    and rank arithmetic bit for bit."""
    s = sub_bits
    g = ", ".join(group_cols)
    gc = f"{g}, " if g else ""
    part = f"PARTITION BY {g} " if g else ""
    qs = "[" + ",".join(str(int(x)) for x in q_millis) + "]"
    return f"""
qsv AS (SELECT {gc}GREATEST(CAST({value_expr} AS BIGINT), 1) AS v FROM {src}),
qsb AS (SELECT {gc}
          (GREATEST(length(bin(v)) - {s + 1}, 0) * {1 << s}
           + (v >> GREATEST(length(bin(v)) - {s + 1}, 0))) AS bucket
        FROM qsv),
qsk AS (SELECT {gc}bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM qsb GROUP BY {gc}bucket),
qsc AS (SELECT {gc}bucket, cnt,
          SUM(cnt) OVER ({part}ORDER BY bucket) AS cum,
          SUM(cnt) OVER ({part.rstrip() if part else ''}) AS n
        FROM qsk),
qsq AS (SELECT {gc}bucket, cnt, cum, n, q_milli,
          (q_milli * (n - 1)) // 1000 + 1 AS r
        FROM qsc, unnest({qs}) AS u(q_milli)),
qest AS (SELECT {gc}CAST(q_milli AS BIGINT) AS q_milli,
           CAST(CASE WHEN bucket < {1 << (s + 1)} THEN bucket
             ELSE ( ((bucket - (bucket // {1 << s} - 1) * {1 << s})
                       << (bucket // {1 << s} - 1))
                  + (((bucket - (bucket // {1 << s} - 1) * {1 << s} + 1)
                       << (bucket // {1 << s} - 1)) - 1) ) // 2
           END AS BIGINT) AS est,
           CAST(n AS BIGINT) AS n
         FROM qsq WHERE cum >= r AND cum - cnt < r)"""


# ------------------------------------------------------------------
# Bottom-k (KMV) sample: the k smallest 60-bit hashes of the distinct
# values per group (Cohen & Kaplan 2007, "Summarizing data using
# bottom-k sketches"; the K-Minimum-Values estimator of Bar-Yossef et
# al. 2002). One artifact, two uses:
#
# * a DETERMINISTIC, MERGEABLE uniform sample of distinct values —
#   any two shards' sketches union to the whole corpus's sketch
#   (idempotent: take the k smallest of the union), so "sample 64
#   docs per language" is reproducible on any cluster size and
#   composable across days without an RNG seed anywhere;
# * a distinct-count estimator: est = (k-1) * 2^60 / h_k with h_k
#   the k-th smallest hash (unbiased for n >= k; exact below k since
#   the sketch holds ALL hashes then).
#
# Scale shape: the corpus side reduces to DISTINCT (group, hash) —
# one partial-agg exchange — and the top-k walk sorts only the
# distinct hash set (a window row_number per group). The artifact is
# <= k rows per group.
# ------------------------------------------------------------------


def kmv_build(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    k: int = 64,
) -> DataFrame:
    """Bottom-k sketch (group_cols..., rank, h, v): the ``k`` smallest
    hashes of the distinct values of ``value`` per group, with the
    value kept alongside (the sample payload). ``rank`` is 1-based in
    hash order."""
    from pyspark.sql import Window as W

    src = df.select(*group_cols, value.alias("v")).distinct()
    d = src.withColumn("h", hash64(F.col("v").cast("string")))
    gw = (W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1)))
    return (
        d.withColumn("rank", F.row_number().over(gw.orderBy("h", "v")))
        .filter(F.col("rank") <= k)
        .select(*group_cols, F.col("rank").cast("bigint").alias("rank"), "h", "v")
    )


def kmv_est_frag(k: int, dialect: str = "spark") -> str:
    """The KMV fixed-point estimator as a two-dialect SQL fragment
    over columns ``n_kept`` and ``h_max``: exact (n_kept*1000) below
    k, else (k-1)*1000*2^40 DIV (h_k DIV 2^20). SINGLE SOURCE for
    :func:`kmv_estimate`, :func:`sql_kmv`, and sketch-space consumers
    (e.g. the pair-overlap query) — the scaling constants live only
    here."""
    div = "DIV" if dialect == "spark" else "//"
    return (
        f"CASE WHEN n_kept < {k} THEN n_kept * 1000 "
        f"ELSE CAST({k - 1} AS BIGINT) * 1000 * 1099511627776 "
        f"{div} GREATEST(h_max {div} 1048576, CAST(1 AS BIGINT)) END"
    )


def kmv_estimate(
    sketch: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Distinct-count estimate per group from a bottom-k sketch:
    (group_cols..., n_kept, est_milli). Estimator arithmetic in
    :func:`kmv_est_frag`."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.max("h").alias("h_max"),
    )
    return agg.select(
        *group_cols,
        "n_kept",
        F.expr(kmv_est_frag(k, "spark")).cast("bigint").alias("est_milli"),
    )


def sql_kmv(
    src: str,
    value_expr: str,
    group_cols: list[str],
    k: int = 64,
) -> str:
    """DuckDB twin of kmv_build + kmv_estimate over ``src``: yields
    CTEs ``kmvs(group..., rank, h, v)`` and ``kmve(group..., n_kept,
    est_milli)`` replaying the hash, rank, and estimator arithmetic."""
    g = ", ".join(group_cols)
    gc = f"{g}, " if g else ""
    part = f"PARTITION BY {g} " if g else ""
    grp = f"GROUP BY {g}" if g else "GROUP BY 1=1"
    return f"""
kmvd AS (SELECT DISTINCT {gc}{value_expr} AS v FROM {src}),
kmvh AS (SELECT {gc}v,
           ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
         FROM kmvd),
kmvr AS (SELECT {gc}v, h,
           ROW_NUMBER() OVER ({part}ORDER BY h, v) AS rank
         FROM kmvh),
kmvs AS (SELECT {gc}CAST(rank AS BIGINT) AS rank, h, v
         FROM kmvr WHERE rank <= {k}),
kmve AS (SELECT {gc}n_kept,
           CAST({kmv_est_frag(k, 'duckdb')} AS BIGINT) AS est_milli
         FROM (SELECT {gc}CAST(COUNT(*) AS BIGINT) AS n_kept,
                      MAX(h) AS h_max FROM kmvs {grp}))"""
