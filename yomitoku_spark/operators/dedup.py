"""Deduplication operators for large-scale corpus pipelines.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band → bucket
join), n-gram Jaccard (explode + equi-join), and SimHash (Arrow-batched
numpy). All shuffle-conscious:

* exact dedup: one hash aggregation on the digest (map-side partial);
* MinHash/LSH: candidate generation joins only within LSH buckets —
  never the O(n²) cross join — which is the property that survives
  10^9 documents;
* Jaccard: equi-join on shingle with per-shingle frequency capping to
  defuse hot-shingle skew.

Signatures use a 60-bit md5-derived hash (functions.textstats.hash64)
rather than Spark's xxhash so the same computation is expressible in
ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from yomitoku_spark.functions.textstats import hash64, tokens
from yomitoku_spark.session import fan_out


def normalized_text(col: Column) -> Column:
    """Dedup canonicalization: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the smallest id per exact (normalized) text digest."""
    digest = F.md5(normalized_text(F.col(text_col))).alias("digest")
    # the normalize+md5 map is the expensive per-row work; fan a small
    # single-file scan out to every core before it (guide §2.5;
    # session.fan_out skips itself on well-split inputs). Only
    # the narrow (digest, id) projection is shuffled twice; the full
    # text rides only the original scan and the final semi join.
    keep = (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(digest, F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


def shingles(col: Column, n: int = 5) -> Column:
    """Word n-gram shingle array (distinct). Fewer than n tokens → one
    shingle of the whole token stream."""
    t = tokens(F.lower(col))
    full = F.array_join(t, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )
    return F.array_distinct(F.when(F.size(t) >= n, grams).otherwise(F.array(full)))


def minhash_signatures_arrow(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 16, shingle_n: int = 5
) -> DataFrame:
    """Arrow-batched MinHash signatures: per permutation j, the min
    over shingles of md5('j:'||shingle) hex→int60, evaluated with
    hashlib instead of interpreted Catalyst higher-order expressions
    (the column-expression twin in ``tests/test_operators.py`` holds
    it bit-identical) — ~5-10× faster per doc, and the
    path you want at 10^9 documents)."""
    import hashlib
    import re

    # Java regex \s is ASCII-only ([ \t\n\x0B\f\r]) — match it exactly so
    # the Arrow path tokenizes identically to the column-expression path
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    prefixes = [f"{j}:".encode() for j in range(n_hashes)]

    def sig_batches(batches):
        md5 = hashlib.md5
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            sigs = []
            for txt in pdf[text_col].tolist():
                toks = [w for w in ws.split((txt or "").lower()) if w]
                if len(toks) >= shingle_n:
                    sh = {
                        " ".join(toks[i : i + shingle_n])
                        for i in range(len(toks) - shingle_n + 1)
                    }
                else:
                    sh = {" ".join(toks)}
                enc = [s.encode() for s in sh]
                sigs.append(
                    [
                        min(int(md5(p + e).hexdigest()[:15], 16) for e in enc)
                        for p in prefixes
                    ]
                )
            yield pd.DataFrame({"id": ids, "sig": sigs})

    # fan the scan out to every core first: the signature stage is the
    # expensive per-row map, and a small parquet input arrives as 1-2
    # partitions (guide §2.5 input skew / §4 Python boundary;
    # session.fan_out skips itself on well-split inputs)
    return fan_out(df.select(id_col, text_col)).mapInPandas(
        sig_batches, schema="id bigint, sig array<bigint>"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: signatures banded into
    ``bands`` buckets; a pair is a candidate when any band matches.
    Returns distinct (id_a, id_b) with id_a < id_b.

    The join is equi on (band_idx, band_key) — bucket-local, so the
    shuffle is O(n·bands) and no cross join ever materializes.

    ``max_bucket_size`` is the hot-bucket guard for real corpora: a
    bucket of B identical/near-identical documents otherwise emits
    B² pairs (a single viral page repeated 10⁶ times = 10¹² pairs).
    Buckets larger than the cap are STAR-LINKED instead — every member
    pairs with the bucket's minimum id only — which bounds their output
    to B-1 rows while preserving exactly the connectivity the
    downstream clustering (label_propagation) needs: the bucket's
    members still land in one component. Only pairs whose SOLE shared
    bucket is a hot one lose their direct edge — they stay transitively
    connected through the star center. None by default so the
    oracle-checked registry rows stay bit-identical."""
    rows_per_band = n_hashes // bands
    sdf = minhash_signatures_arrow(df, id_col, text_col, n_hashes, shingle_n)
    # materialize the signature table ONCE (id + n_hashes ints — this
    # IS the MinHash index). A repartition barrier does not dedupe the
    # banded self-join's branches (they prune differently; no
    # ReusedExchange forms), so a lazy plan runs the Arrow signature
    # stage twice over the corpus.
    sdf = sdf.localCheckpoint(eager=True)
    banded = sdf.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")
    star = None
    if max_bucket_size:
        wb = W.partitionBy("band", "key")
        # materialize the sized banding ONCE: both the star branch and
        # the capped-bucket branch consume it, and left lazy each
        # re-runs the band/key window shuffle+sort (guide §2.4)
        sized = (
            banded.withColumn("n", F.count(F.lit(1)).over(wb))
            .withColumn("mn", F.min("id").over(wb))
            .localCheckpoint(eager=True)
        )
        star = sized.filter(
            (F.col("n") > max_bucket_size) & (F.col("id") != F.col("mn"))
        ).select(F.col("mn").alias("id_a"), F.col("id").alias("id_b"))
        banded = sized.filter(F.col("n") <= max_bucket_size).select(
            "id", "band", "key"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if star is not None:
        # one distinct over the union replaces the previous
        # distinct-then-union-then-distinct (same set, one exchange less)
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    explode → (optionally) drop shingles hotter than max_shingle_freq
    (stopword-shingle skew defusal), equi-join on shingle, count
    intersections, join back set sizes. Returns pairs ≥ threshold."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    sizes = sh.select("id", F.size("sh").alias("sz"))
    ex = sh.select("id", F.explode("sh").alias("g"))
    if max_shingle_freq:
        hot = ex.groupBy("g").count().filter(F.col("count") > max_shingle_freq)
        ex = ex.join(F.broadcast(hot.select("g")), "g", "left_anti")
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    j = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn("uni", (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("bigint"))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
    )
    # integer-exact threshold (1000·inter ≥ ⌊th·1000⌉·union) — a float
    # `inter/union >= 0.8` can flip exact-boundary pairs between engines
    th = int(round(threshold * 1000))
    return j.filter(F.col("inter") * 1000 >= th * F.col("uni")).select(
        "id_a", "id_b", F.col("inter").cast("bigint").alias("inter"), "uni",
        F.round("jaccard", 6).alias("jaccard"),
    )


# ------------------------------------------------------------ SimHash


SIMHASH_BITS = 60


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document (Arrow-batched numpy bit votes).

    Tokens are ASCII-whitespace splits of the lowercased text, hashed
    with the md5-hex→int60 hash (functions.textstats.hash64's
    construction) so the SAME computation is expressible in DuckDB SQL
    for the oracle — and the value is always non-negative, so band keys
    never see a sign bit. Each bit position accumulates ±1 votes across
    tokens; positive vote → bit set. Returns (id, simhash bigint).
    Near-dup pairs are then Hamming-close — candidate generation joins
    on prefix bands like MinHash."""
    import hashlib
    import re
    from collections import Counter

    ws = re.compile(r"[ \t\n\x0b\x0c\r]+")

    def batch(it):
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        # md5 is the per-token constant; corpora repeat tokens heavily,
        # so hash each distinct token once per worker and vectorize the
        # bit votes across a doc's unique tokens (occurrence counts as
        # weights) instead of one hashlib call + 60-bit unpack per
        # occurrence. Output is byte-identical to the scalar loop.
        cache: dict[str, int] = {}
        for pdf in it:
            out = np.zeros(len(pdf), dtype=np.uint64)
            for i, txt in enumerate(pdf[text_col].tolist()):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                if not toks:
                    continue
                cnt = Counter(toks)
                hs = np.empty(len(cnt), dtype=np.uint64)
                wts = np.empty(len(cnt), dtype=np.int64)
                for k, (t, c) in enumerate(cnt.items()):
                    h = cache.get(t)
                    if h is None:
                        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                        cache[t] = h
                    hs[k] = h
                    wts[k] = c
                bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                    np.int64
                )
                votes = ((2 * bits - 1) * wts[:, None]).sum(axis=0)
                out[i] = np.bitwise_or.reduce(
                    (votes > 0).astype(np.uint64) << shifts
                )
            if len(cache) > 2_000_000:  # bound worker memory on huge vocab
                cache.clear()
            yield pd.DataFrame(
                {"id": pdf[id_col], "simhash": out.astype(np.int64)}
            )

    return df.select(id_col, text_col).mapInPandas(batch, schema="id bigint, simhash bigint")


SQL_SIMHASH = """
WITH toks AS (
  SELECT {id_col} AS id,
         unnest(list_filter(
           regexp_split_to_array(lower({text_col}), '[ \\t\\n\\x0b\\x0c\\r]+'),
           t -> t <> '')) AS tok
  FROM {table}
),
th AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
votes AS (
  SELECT id, j, SUM(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, range(60) r(j) GROUP BY id, j
),
sh AS (
  SELECT id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                           ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY id
)
SELECT t.{id_col} AS id, COALESCE(sh.simhash, 0) AS simhash
FROM {table} t LEFT JOIN sh ON sh.id = t.{id_col}
"""


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, prefix_bits: int = 15
) -> DataFrame:
    """SimHash candidate pairs sharing one ``prefix_bits``-wide band of
    the 60-bit hash, refined by exact Hamming distance. The band count
    is DERIVED (⌈60/prefix_bits⌉) so the bands always tile the full
    hash, and the pigeonhole guarantee follows: any pair within Hamming
    distance (bands − 1) shares at least one identical band, so the
    refine threshold is set to exactly that. Band keys are plain
    unsigned masks — the 60-bit simhash is non-negative, so no
    sign-extension hazard. Defaults: 15-bit bands → 4 bands →
    all pairs at Hamming ≤ 3 are found."""
    n_bands = -(-SIMHASH_BITS // prefix_bits)
    max_hamming = n_bands - 1
    sh = simhash64(df, id_col, text_col)
    # materialize the signature table ONCE (same pattern as the MinHash
    # index above): the n_bands rotations below union and then
    # self-join, and without the eager barrier the physical plan holds
    # 2·n_bands² copies of the per-token-hash python stage (16 corpus
    # scans at the defaults — the round-4 perf finding).
    sh = sh.localCheckpoint(eager=True)
    mask = (1 << prefix_bits) - 1
    rots = []
    for r in range(n_bands):
        rots.append(
            sh.select(
                "id",
                "simhash",
                F.lit(r).alias("band"),
                F.shiftrightunsigned("simhash", r * prefix_bits)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
        )
    banded = rots[0]
    for r in rots[1:]:
        banded = banded.unionByName(r)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003
    SIGMOD "Winnowing: local algorithms for document fingerprinting" —
    the MOSS selection rule): hash every word k-gram, slide a window
    of ``w`` consecutive hashes, and from each window select the
    minimum (rightmost on ties). The selected (hash, position) set —
    expected density 2/(w+1) of all grams — GUARANTEES that any two
    documents sharing a run of at least w+k-1 tokens share at least
    one fingerprint: positional near-dup detection with a detection
    floor, the property MinHash (set-sample) and SimHash (global
    vector) don't give.

    Scale shape: the gram hash is a pure column expression; the only
    exchange is the doc_id repartition for the two window passes
    (running count + framed struct-min), and the output is the
    winnowed subset — the index a plagiarism/clone detector stores is
    ~2/(w+1) the size of the full postings. Rightmost-tie argmin is
    one framed ``min(struct(gh, -pos))`` — no self-join. Docs with
    fewer than k tokens yield no grams and no fingerprints.

    Returns (id_col, fh, fpos) distinct rows; positions are 1-based
    gram starts (token span [fpos, fpos+k-1])."""
    t = tokens(F.lower(F.col(text_col)))
    # Repartition the RAW docs by id first, with an EXPLICIT partition
    # count: it satisfies both windows' required hash distribution (so
    # still exactly ONE exchange) and moves the tokenize + per-gram
    # md5 below the shuffle onto every core. The explicit count is
    # load-bearing — the doc rows are few BYTES, so AQE's size-based
    # coalescing would fold the exchange to one task and serialize the
    # compute-heavy part.
    #
    # Grams are built with lead() over exploded TOKENS, not with a
    # slice-lambda over the token array: CollapseProject inlines the
    # aliased tokens() expr into a higher-order lambda body, re-running
    # the regex tokenizer once per GRAM (measured 6 s -> 0.4 s at
    # sf0.1 local[32]); the lead chain tokenizes once per doc and
    # rides the same id-partitioned ordering the winnow min needs.
    tk = (
        df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
        .select(F.col(id_col).alias("id"), F.posexplode(t).alias("i0", "tok"))
    )
    wo = W.partitionBy("id").orderBy("i0")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", j).over(wo) for j in range(1, k)]
    )
    # concat_ws skips nulls, so gate on the LAST lead: only full
    # k-grams survive (docs with < k tokens yield none)
    full = F.lead("tok", k - 1).over(wo).isNotNull()
    occ = (
        tk.select(
            "id",
            (F.col("i0") + 1).cast("bigint").alias("pos"),
            F.when(full, hash64(gram)).alias("gh"),
        )
        .filter(F.col("gh").isNotNull())
    )
    win = W.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    sel = F.min(
        F.struct(F.col("gh"), (-F.col("pos")).cast("bigint").alias("np"))
    ).over(win)
    # frame-row count shares the (partition, order) spec with `sel`,
    # so both evaluate in one Window pass; wn == w marks full windows,
    # pos == 1 keeps the single truncated window of a short doc
    wn = F.count("*").over(win)
    d = occ.withColumn("sel", sel).withColumn("wn", wn)
    d = d.filter((F.col("wn") == w) | (F.col("pos") == 1))
    return d.select(
        F.col("id").alias(id_col),
        F.col("sel.gh").alias("fh"),
        (-F.col("sel.np")).cast("bigint").alias("fpos"),
    ).distinct()
