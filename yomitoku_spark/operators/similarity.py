"""Similarity search over embedding columns (array<float>).

Two tiers, per the scale plan:

* ``brute_force_topk_quantized`` — exact top-k by quantized integer
  dot, one matmul per Arrow batch against a broadcast corpus matrix.
  The tests keep a float cosine top-k as the recall referee for the
  approximate paths.
* ``lsh_ann_topk_quantized`` — md5-sign LSH bucketing (Arrow-batched
  numpy matmul for signatures), candidates only within a bucket, then
  exact re-rank. The scale path: bucket join keeps candidate counts
  ~corpus/2^bits per query.

Every approximate path ranks by a quantized integer dot product
(round(x*Q_SCALE) int64 products), so the DuckDB-checked oracle queries
reproduce it bit for bit (float summation order is engine-specific;
quantized integer dot products are bit-reproducible everywhere).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# the one quantization scale: every vector is ranked on round(x*Q_SCALE)
# int64 components, and the DuckDB referees in queries.py read the same
# constant, so Spark and its referee cannot be scaled apart
Q_SCALE = 1000


def _mat(s, dtype=np.float64) -> np.ndarray:
    """Stack a pandas Series of equal-length vectors into an (n, d)
    matrix. np.concatenate over the element arrays + reshape is ~7x
    faster than np.asarray(s.tolist()) at 10^6 rows (no per-row
    Python list materialization) — this conversion IS the dominant
    cost of the Arrow re-rank stages once the dot is a single matmul."""
    vals = s.values
    if len(vals) == 0:
        return np.empty((0, 0), dtype=dtype)
    return np.concatenate(vals).reshape(len(vals), -1).astype(dtype, copy=False)


def _q_away(v: np.ndarray) -> np.ndarray:
    """Round half away from zero to int64 — the semantics of Spark's
    ROUND (HALF_UP) and DuckDB's ROUND. numpy's rint rounds half to
    EVEN, which silently flips any value landing exactly on .5 (e.g.
    62.5 → 62 vs 63) and breaks the cross-engine value hash."""
    return (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)


def dot_int_arrow():
    """Integer dot over PRE-QUANTIZED int vectors (``_q_away(x*Q_SCALE)``
    as int32) — same int64 result as
    :func:`dot_quantized_arrow` on the raw vectors."""

    @F.pandas_udf("bigint")
    def _dq(q: pd.Series, c: pd.Series) -> pd.Series:
        qm = _mat(q, dtype=np.int64)
        cm = _mat(c, dtype=np.int64)
        return pd.Series((qm * cm).sum(axis=1))

    return _dq


def dot_quantized_arrow():
    """Arrow-batched pandas UDF computing the quantized integer dot
    ``sum(round(q*Q_SCALE) * round(c*Q_SCALE))`` (int64 products, rounding
    half away from zero like SQL ROUND — bit-exact), vectorized with
    numpy instead of interpreted Catalyst higher-order expressions
    (~50× faster on wide candidate sets; HOFs are not codegen'd)."""
    import pandas as pd  # noqa: F811

    @F.pandas_udf("bigint")
    def _dq(q: pd.Series, c: pd.Series) -> pd.Series:
        qm = _q_away(_mat(q) * Q_SCALE)
        cm = _q_away(_mat(c) * Q_SCALE)
        return pd.Series((qm * cm).sum(axis=1))

    return _dq


def brute_force_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact top-k by quantized integer dot product, computed as one
    numpy int64 matmul per Arrow batch against a broadcast corpus matrix.

    Bit-identical to the pure-SQL formulation (round(x*Q_SCALE) int64
    products — no float summation-order sensitivity), but ~100× faster
    than evaluating higher-order expressions per pair: HOFs like
    F.aggregate are interpreted, a matmul is BLAS. The corpus side is a
    driver-collected broadcast — the same constraint as any broadcast
    join side (fine to ~10^6×dim; beyond that use lsh_ann_topk_quantized)."""
    spark = corpus.sparkSession
    rows = corpus.select(id_col, vec_col).collect()
    c_ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    c_mat = _q_away(np.asarray([r[1] for r in rows], dtype=np.float64) * Q_SCALE)
    order = np.argsort(c_ids)
    c_ids, c_mat = c_ids[order], c_mat[order]
    bc = spark.sparkContext.broadcast((c_ids, c_mat))

    def topk(batches):
        ids, mat = bc.value
        for pdf in batches:
            q_ids = pdf[id_col].to_numpy()
            q = _q_away(_mat(pdf[vec_col]) * Q_SCALE)
            if len(q) == 0:
                continue
            dots = q @ mat.T  # (b, n) int64 — exact
            self_mask = q_ids[:, None] == ids[None, :]
            out_q, out_c, out_d, out_r = [], [], [], []
            for i in range(len(q)):
                d = dots[i]
                valid = ~self_mask[i]
                # sort by (-dot, corpus_id): lexsort keys last-first
                idx = np.lexsort((ids[valid], -d[valid]))[:k]
                cand_ids = ids[valid][idx]
                cand_d = d[valid][idx]
                out_q.extend([q_ids[i]] * len(idx))
                out_c.extend(cand_ids.tolist())
                out_d.extend(cand_d.tolist())
                out_r.extend(range(1, len(idx) + 1))
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "corpus_id": np.asarray(out_c, dtype=np.int64),
                    "dot_q": np.asarray(out_d, dtype=np.int64),
                    "rank": np.asarray(out_r, dtype=np.int32),
                }
            )

    return queries.select(id_col, vec_col).mapInPandas(
        topk, schema="query_id bigint, corpus_id bigint, dot_q bigint, rank int"
    )


def signed_planes_md5(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    """±1 (Rademacher) hyperplanes derived from md5 parity — the SAME
    construction is one CASE expression in ANSI SQL, so the LSH
    bucketing is reproducible in the DuckDB oracle. Sign of plane
    (t, p) element i = +1 iff the first hex digit of md5("t:p:i") is
    odd. Shape (n_tables, n_planes, dim), dtype int64."""
    import hashlib

    s = np.empty((n_tables, n_planes, dim), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            for i in range(dim):
                digit = int(hashlib.md5(f"{t}:{p}:{i}".encode()).hexdigest()[0], 16)
                s[t, p, i] = 1 if digit % 2 == 1 else -1
    return s


def clustered_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 50,
    weight: float = 0.25,
    dim: int = 64,
    out_col: str = "cvec",
) -> DataFrame:
    """Derive a DETERMINISTIC clustered embedding column from any
    embedding table: vector v with id k is pulled toward the Rademacher
    center of cluster ``k % n_clusters`` —

        cvec[i] = v[i] + weight * sign(cluster, i)

    with sign(c, i) the md5-parity Rademacher matrix
    (:func:`signed_planes_md5` at table 0), so the construction is one
    CASE expression in ANSI SQL and the whole derived table is
    bit-reproducible in the DuckDB oracle.

    Rationale: synthetic near-uniform embeddings make every ANN method
    look like brute force — real retrieval corpora are CLUSTERED
    (mixture-like), which is the regime where IVF probing wins. With
    weight≈0.25 over unit-ish residuals the same-cluster cosine is
    ~0.8 vs ~0 cross-cluster: clearly clustered, but the within-cluster
    ranking is still decided by the residual vector, so recall is not
    trivially 1. Everything stays JVM-side: the sign matrix is a folded
    literal and the add is one zip_with per row."""
    signs = signed_planes_md5(dim, n_clusters, 1)[0].astype(np.float64)
    w = float(weight)

    def derive(batches):
        # one numpy broadcast-add per Arrow batch. Bit-identical to the
        # previous zip_with formulation: x + w*s is the same IEEE-754
        # binary64 multiply-then-add in numpy and in the JVM (w*s is
        # exact for s = ±1), and the old per-row evaluation walked the
        # 50x64 literal sign matrix as ~3200 interpreted expression
        # nodes PER ROW (~1.4 s for 2000 rows at sf0.1 — the hidden
        # constant under every clustered-ANN query).
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = _mat(pdf[vec_col])
            cv = mat + w * signs[ids % n_clusters]
            yield pd.DataFrame({id_col: ids, out_col: list(cv)})

    return df.select(id_col, vec_col).mapInPandas(
        derive, schema=f"{id_col} bigint, {out_col} array<double>"
    )


def lsh_buckets_quantized(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 2,
    n_flip: int = 0,
    with_qv: bool = False,
) -> DataFrame:
    """Integer-exact LSH buckets: vectors quantized to round(x·Q_SCALE)
    int64, bucket bit p of table t = [q · plane(t,p) > 0]. One numpy
    matmul per Arrow batch against the closure-captured plane tensor.

    ``n_flip`` > 0 adds MULTI-PROBE rows (Lv et al., VLDB'07): per
    table, besides the base bucket (probe=0) each vector also emits the
    ``n_flip`` buckets obtained by flipping its lowest-|margin| bits —
    the bits most likely to be on the wrong side of the hyperplane for
    a true neighbor. Ties in |margin| break by plane index (stable
    argsort) so the probe set is deterministic and SQL-reproducible.
    This is the memory-free recall lever: ×(1+n_flip) probe rows on the
    QUERY side only, no extra tables, no bigger index.

    Output (id, table, bucket, probe) — probe=0 is the base bucket (the
    index side); probe=1..n_flip are query-side probes.

    ``with_qv=True`` additionally carries the pre-quantized int32
    vector (``_q_away(x*Q_SCALE)`` as int32) on each id's
    (table 0, probe 0) row — the bucketing matmul already holds the
    quantized matrix, so the topk path gets its re-rank vector
    artifact from this single corpus pass instead of scanning and
    quantizing the corpus a second time (guide §2.4); every other row
    carries NULL so the index stays ids-only."""
    planes = signed_planes_md5(dim, n_planes, n_tables)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def sig(it):
        for pdf in it:
            mat = _mat(pdf[vec_col])
            if len(mat) == 0:
                continue
            q = _q_away(mat * Q_SCALE)
            ids = pdf[id_col].to_numpy()
            frames = []
            for t in range(n_tables):
                d = q @ planes[t].T  # (n, n_planes), exact int dot
                bucket = ((d > 0).astype(np.int64) * weights).sum(axis=1)
                base = {"id": ids, "table": np.int32(t), "bucket": bucket,
                        "probe": np.int32(0)}
                if with_qv:
                    base["qv"] = list(q.astype(np.int32)) if t == 0 else None
                frames.append(pd.DataFrame(base))
                if n_flip:
                    order = np.argsort(np.abs(d), axis=1, kind="stable")
                    for f in range(min(n_flip, n_planes)):
                        fb = bucket ^ (np.int64(1) << order[:, f].astype(np.int64))
                        probe = {"id": ids, "table": np.int32(t),
                                 "bucket": fb, "probe": np.int32(f + 1)}
                        if with_qv:
                            probe["qv"] = None
                        frames.append(pd.DataFrame(probe))
            yield pd.concat(frames, ignore_index=True)

    schema = "id bigint, table int, bucket bigint, probe int"
    if with_qv:
        schema += ", qv array<int>"
    return df.select(id_col, vec_col).mapInPandas(sig, schema=schema)


def lsh_ann_topk_quantized(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    k: int = 3,
    n_tables: int = 2,
    n_flip: int = 0,
) -> DataFrame:
    """Oracle-checkable ANN: md5-sign LSH buckets (integer-exact) →
    ids-only (table, bucket) candidate join → pair dedup → exact
    re-rank by the quantized integer dot product. Every step is
    bit-reproducible in DuckDB, so the full approximate pipeline gets a
    3-axis correctness check — not just the brute-force referee.

    ``n_flip`` enables multi-probe (see :func:`lsh_buckets_quantized`):
    the index side keeps ONLY base buckets, the query side probes base
    + flipped buckets — recall@3 0.55 → 0.88 at the registry config
    with the same index size (measured in bench.py's recall map).

    Shuffle discipline (the property that survives 10^9 vectors): the
    (table, bucket) equi-join and the pair dedup run over ids-only
    rows, so vectors never ride through candidate generation; they
    join back once, onto the deduped pair set, for the re-rank."""
    # ONE corpus pass (guide §2.4): bucketing emits the pre-quantized
    # vector on each id's (table 0, probe 0) row, so the re-rank
    # vector sides read the same checkpointed signature artifact
    sigs = lsh_buckets_quantized(
        corpus, id_col, vec_col, dim, n_planes, n_tables, n_flip, with_qv=True
    )
    # materialize the signature table ONCE (3 ints/row/table + one qv
    # per id — this IS the LSH index). A repartition barrier does NOT
    # get reused across the self-join branches (verified: two Arrow
    # bucketing nodes in the plan, no ReusedExchange), so without this
    # the corpus is re-bucketed twice.
    sigs = sigs.localCheckpoint(eager=True)
    a = sigs.select(F.col("id").alias("query_id"), "table", "bucket")
    b = sigs.filter(F.col("probe") == 0).select(
        F.col("id").alias("corpus_id"), "table", "bucket"
    )
    pairs = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
        .distinct()
    )
    vecs = sigs.filter((F.col("table") == 0) & (F.col("probe") == 0))
    return _rerank_topk(pairs, vecs, k)


def _rerank_topk(pairs: DataFrame, vecs: DataFrame, k: int) -> DataFrame:
    """The exact re-rank every ANN path ends with: the (id, qv)
    pre-quantized int vectors of ``vecs`` join once onto each side of
    the ids-only (query_id, corpus_id) ``pairs`` (half the exchange and
    Arrow bytes of float vectors, identical int64 dots), then top-``k``
    per query by (dot_q DESC, corpus_id)."""
    vecs = vecs.select("id", F.col("qv").alias("vec"))
    j = pairs.join(
        vecs.withColumnRenamed("id", "query_id").withColumnRenamed("vec", "qvec"),
        "query_id",
    ).join(
        vecs.withColumnRenamed("id", "corpus_id").withColumnRenamed("vec", "cvec"),
        "corpus_id",
    )
    dq = dot_int_arrow()(F.col("qvec"), F.col("cvec")).alias("dot_q")
    w = W.partitionBy("query_id").orderBy(F.desc("dot_q"), F.asc("corpus_id"))
    return (
        j.select("query_id", "corpus_id", dq)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _div_half_away(s: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Integer round-half-away division ``round(s / n)`` on int64:
    floor((2|s| + n) / (2n)) with the sign reattached — the same value
    DuckDB computes with its ``//`` floor division on the split-sign
    form, so Lloyd-refined centroid components stay bit-identical
    across engines."""
    s = s.astype(np.int64)
    n = n.astype(np.int64)
    return np.sign(s) * ((2 * np.abs(s) + n) // (2 * n))


def lloyd_refine_quantized(
    corpus: DataFrame,
    c_mat: np.ndarray,
    id_col: str,
    vec_col: str,
    iters: int,
) -> np.ndarray:
    """Deterministic integer-exact Lloyd refinement of quantized
    centroids (the production recall lever the seed-only coarse
    quantizer lacks; reference ANN has no analog — this is the
    IVF-training step of a Faiss-style index expressed Spark-first).

    Each iteration: (1) assign every corpus vector to the centroid with
    the max quantized integer dot (first-max / lowest-cell tiebreak, the
    same rule as search-time assignment), via one broadcast numpy matmul
    per Arrow batch; (2) per-partition partial sums + counts per cell
    (map-side combine, ≤ partitions × n_cells tiny rows) are collected
    and folded on the driver; (3) new centroid = round-half-away mean of
    the member vectors' quantized components (:func:`_div_half_away`),
    empty cells keep their previous centroid. Everything is int64
    arithmetic, so a fixed iteration count unrolls into exact DuckDB CTEs
    (the ``ivf_lloyd_topk`` registry oracle runs the identical training).
    """
    n_cells, dim = c_mat.shape
    spark = corpus.sparkSession
    for _ in range(iters):
        cent = c_mat.copy()
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches):
            for pdf in batches:
                mat = _mat(pdf[vec_col])
                if len(mat) == 0:
                    continue
                q = _q_away(mat * Q_SCALE)
                own = np.argmax(q @ bc.value.T, axis=1)  # first max wins
                cells, inv = np.unique(own, return_inverse=True)
                sums = np.zeros((len(cells), q.shape[1]), dtype=np.int64)
                np.add.at(sums, inv, q)
                counts = np.bincount(inv)
                yield pd.DataFrame(
                    {
                        "cell": cells.astype("int64"),
                        "n": counts.astype("int64"),
                        "s": list(sums),
                    }
                )

        rows = (
            corpus.select(id_col, vec_col)
            .mapInPandas(partials, schema="cell bigint, n bigint, s array<bigint>")
            .collect()
        )
        sums = np.zeros_like(c_mat)
        counts = np.zeros(n_cells, dtype=np.int64)
        for r in rows:
            sums[r["cell"]] += np.asarray(r["s"], dtype=np.int64)
            counts[r["cell"]] += r["n"]
        nonempty = counts > 0
        c_mat = cent.copy()
        c_mat[nonempty] = _div_half_away(
            sums[nonempty], counts[nonempty, None]
        )
        bc.destroy()
    return c_mat


def ivf_flat_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 3,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-flat approximate top-k: a coarse quantizer partitions the
    corpus into ``n_cells`` inverted lists; each query probes its
    ``n_probe`` best cells and exact-re-ranks only those lists.

    The coarse seeds are the ``n_cells`` corpus vectors with the lowest
    ids — deterministic and data-dependent, so the WHOLE pipeline
    (assignment, probing, re-rank) is reproducible in the DuckDB
    oracle. ``lloyd_iters`` > 0 runs that many integer-exact Lloyd
    refinement sweeps over the seeds (:func:`lloyd_refine_quantized`) —
    the production recall lever; fixed iteration count keeps the oracle
    expressible (unrolled CTEs). All similarity math is the quantized
    integer dot (argmax assignment with lowest-cell tiebreak), bit-exact
    across engines.

    Scale shape: centroid tensor is broadcast (tiny); assignment and
    probing are one Arrow matmul per batch; the candidate join is
    ids-only on the cell key; vectors join back once for the re-rank —
    the inverted-list analog of the LSH path, with candidate count
    ~ n_probe/n_cells of the corpus per query. Each Lloyd sweep adds one
    scan + a tiny driver fold (no shuffle of the corpus)."""
    # ONE corpus pass: the assignment matmul emits cell + probes + the
    # pre-quantized int vector together (guide §2.4) — candidates and
    # both re-rank vector sides all read the same checkpointed artifact
    ap = ivf_assign_probes(
        corpus, id_col, vec_col, n_cells, n_probe, lloyd_iters, with_qv=True
    )
    pairs = ivf_candidate_pairs(
        corpus, id_col, vec_col, n_cells, n_probe, lloyd_iters, ap=ap
    )
    return _rerank_topk(pairs, ap, k)


def ivf_candidate_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 0,
    ap: DataFrame | None = None,
) -> DataFrame:
    """The ids-only candidate stage of :func:`ivf_flat_topk` (train /
    assign / probe / cell-join / dedup), exposed separately so bench
    and tests can measure the SCAN FRACTION — candidates per query over
    corpus size — which is the number that decides whether an ANN
    config is sub-linear or brute force with extra steps.

    ``ap``: a prebuilt :func:`ivf_assign_probes` artifact to read the
    lists/probes from instead of building one — the topk paths pass
    their combined (assignment + quantized-vector) checkpoint so the
    corpus is scanned once, not once per derived table."""
    if ap is None:
        ap = ivf_assign_probes(
            corpus, id_col, vec_col, n_cells, n_probe, lloyd_iters
        )
    n_probe = sum(1 for c in ap.columns if c.startswith("p") and c[1:].isdigit())
    lists = ap.select(F.col("id").alias("corpus_id"), "cell")
    probes = ap.select(
        F.col("id").alias("query_id"),
        F.explode(F.array(*[F.col(f"p{p}") for p in range(n_probe)])).alias("cell"),
    )
    return (
        probes.join(lists, "cell")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
        .distinct()
    )


def ivf_assign_probes(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 0,
    with_qv: bool = False,
) -> DataFrame:
    """The IVF INDEX itself: per-vector owning cell + top-``n_probe``
    probe cells — (id, cell, p0..p{n_probe-1}), eagerly materialized
    (this ids-only table is what an index BUILD persists; the corpus
    index-build registry row exposes exactly this artifact).

    ``with_qv=True`` additionally emits the pre-quantized int32 vector
    (``qv`` — ``_q_away(x*Q_SCALE)``): the assignment matmul already HAS
    the quantized matrix in hand, so the topk paths get their re-rank
    vector artifact from this single corpus pass instead of scanning
    and quantizing the corpus a second time (guide §2.4 — one pass,
    one materialization; this combined (cell, probes, qv) row IS a
    real IVF index record layout)."""
    cent_rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    c_mat = _q_away(
        np.asarray([r[1] for r in cent_rows], dtype=np.float64) * Q_SCALE
    )
    if lloyd_iters > 0:
        c_mat = lloyd_refine_quantized(corpus, c_mat, id_col, vec_col, lloyd_iters)
        # cells are centroid INDICES after refinement (a refined centroid
        # is no longer any corpus vector)
        c_ids = np.arange(len(c_mat), dtype=np.int64)
    else:
        c_ids = np.asarray([r[0] for r in cent_rows], dtype=np.int64)
    # a corpus smaller than n_cells yields fewer centroids; probing
    # more cells than exist would index past the argsort slice
    n_probe = min(n_probe, len(c_ids))

    def assign(batches):
        for pdf in batches:
            mat = _mat(pdf[vec_col])
            if len(mat) == 0:
                continue
            q = _q_away(mat * Q_SCALE)
            dots = q @ c_mat.T  # (n, n_cells) int64, exact
            ids = pdf[id_col].to_numpy()
            # argmax with lowest-centroid-id tiebreak (ids are sorted)
            own = np.argmax(dots, axis=1)
            out = {"id": ids, "cell": c_ids[own]}
            # top-n_probe probes per vector-as-query
            idx = np.argsort(-dots, axis=1, kind="stable")[:, :n_probe]
            for p in range(n_probe):
                out[f"p{p}"] = c_ids[idx[:, p]]
            if with_qv:
                out["qv"] = list(q.astype(np.int32))
            yield pd.DataFrame(out)

    schema = "id bigint, cell bigint, " + ", ".join(f"p{p} bigint" for p in range(n_probe))
    if with_qv:
        schema += ", qv array<int>"
    ap = corpus.select(id_col, vec_col).mapInPandas(assign, schema=schema)
    # materialize the ids-only assignment table ONCE (cell + probes per
    # id — this IS the IVF inverted index). The probe and list sides
    # prune different columns, so no exchange/stage reuse applies and a
    # lazy plan re-runs the assignment matmul twice over the corpus.
    return ap.localCheckpoint(eager=True)


# ------------------------------------------------- product quantization

def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = 16,
    m: int = 8,
) -> np.ndarray:
    """Deterministic PQ codebooks: the quantized SUBVECTORS of the
    ``n_codes`` lowest-id corpus vectors, one codebook per subspace —
    shape (m, n_codes, dim/m) int64. Data-dependent (like the IVF
    seeds) and reproducible in the DuckDB oracle; the Lloyd analog for
    PQ would refine per-subspace, omitted to keep the oracle one CTE."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(n_codes).collect()
    mat = _q_away(np.asarray([r[1] for r in rows], dtype=np.float64) * Q_SCALE)
    n, dim = mat.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    return mat.reshape(n, m, dim // m).transpose(1, 0, 2).copy()


def pq_encode_qv(ap: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """PQ codes over an already-quantized (id, qv) artifact (the
    :func:`ivf_assign_probes` ``with_qv=True`` checkpoint): per subspace
    the integer-L2-nearest codebook entry (ties break to the lowest
    code, the same first-min rule as everywhere else), reading the
    int32 vectors the assignment pass already produced instead of
    re-scanning and re-quantizing the corpus (guide §2.4 — the float
    corpus is read once per query, by the assignment matmul)."""
    mq, _ncodes, d = codebooks.shape
    cb = codebooks

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = _mat(pdf["qv"], dtype=np.int64).reshape(len(pdf), mq, d)
            diff = q[:, :, None, :] - cb[None, :, :, :]
            d2 = (diff * diff).sum(axis=3)
            codes = np.argmin(d2, axis=2)  # first (lowest) min wins
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "codes": list(codes.astype(np.int32))}
            )

    return ap.select("id", "qv").mapInPandas(
        enc, schema="id bigint, codes array<int>"
    )


def ivf_pq_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 64,
    n_probe: int = 4,
    k: int = 3,
    n_codes: int = 16,
    m: int = 8,
    rerank: int = 16,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-PQ: the 100 TB ANN shape — candidates from the inverted
    lists are scored on their m-byte PQ CODES (asymmetric distance:
    score = Σ_subspace  query_subvector · codebook[code]), and only the
    ADC top-``rerank`` per query join the full vectors back for the
    exact final top-k. Full vectors cross the wire once per query for
    ``rerank`` candidates instead of once per candidate — at a 6%
    scan fraction of 10^9 vectors that is the difference between
    shipping 60M full vectors per query wave and shipping ``rerank``.

    Everything is integer-exact (quantized subvectors, integer ADC
    lookup sums, first-min/lowest-id tiebreaks) so the ENTIRE pipeline
    — codebook construction, encoding, coarse cells, probing, ADC
    scoring, re-rank — reproduces bit-for-bit in the DuckDB oracle."""
    cb = pq_codebooks(corpus, id_col, vec_col, n_codes, m)
    mq, _ncodes, d = cb.shape
    # ONE corpus pass (guide §2.4): the assignment matmul emits cell +
    # probes + the pre-quantized int vector together; candidates, the
    # PQ encode, and both re-rank vector sides all derive from that
    # single checkpointed artifact
    ap = ivf_assign_probes(
        corpus, id_col, vec_col, n_cells, n_probe, lloyd_iters, with_qv=True
    )
    pairs = ivf_candidate_pairs(
        corpus, id_col, vec_col, n_cells, n_probe, lloyd_iters, ap=ap
    )
    # lazy encode over the checkpoint: codes feed exactly one consumer
    # (the ADC join), so the pass runs once without its own checkpoint
    codes = pq_encode_qv(ap, cb)
    # PRE-QUANTIZED int vectors through every join (guide §2.3 narrower
    # types): same int64 ADC sums and re-rank dots, half the bytes
    j = pairs.join(
        codes.select(F.col("id").alias("corpus_id"), "codes"), "corpus_id"
    ).join(
        ap.select(F.col("id").alias("query_id"), F.col("qv").alias("qvec")),
        "query_id",
    )

    @F.pandas_udf("bigint")
    def _adc(q: pd.Series, c: pd.Series) -> pd.Series:
        qm = _mat(q, dtype=np.int64).reshape(len(q), mq, d)
        cd = _mat(c, dtype=np.int64)  # (n, m)
        sel = cb[np.arange(mq)[None, :], cd]  # (n, m, d) gathered entries
        return pd.Series((qm * sel).sum(axis=(1, 2)))

    adc = j.select(
        "query_id", "corpus_id", _adc(F.col("qvec"), F.col("codes")).alias("adc_q")
    )
    w_adc = W.partitionBy("query_id").orderBy(F.desc("adc_q"), F.asc("corpus_id"))
    shortlist = (
        adc.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= rerank)
        .select("query_id", "corpus_id")
    )
    return _rerank_topk(shortlist, ap, k)


def semdedup_keepers(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    lloyd_iters: int = 2,
    tau_q: int = 4_200_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means cluster the
    embedding space, then compare vectors PAIRWISE ONLY WITHIN each
    cluster and drop every vector that has a lower-id neighbor above
    the similarity threshold — semantic near-duplicate pruning whose
    cost is sum(cluster_size^2) instead of n^2.

    Returns (id, cell, keep): the trained cell assignment and an int
    keep flag (1 = cluster-local keeper, 0 = semantic duplicate of a
    lower-id vector in the same cell).

    All arithmetic is the quantized integer dot (deterministic Lloyd
    training via :func:`ivf_assign_probes`), so a DuckDB referee
    reproduces the whole pipeline bit-for-bit.

    Scale shape: centroids broadcast; assignment is one Arrow matmul
    pass; the intra-cell pairwise is a cell-keyed equi-join (ONE
    shuffle on the cell key — never a corpus cross join), and at 100 TB
    ``n_cells`` grows ~n/target_list_size so per-cell quadratic work
    stays bounded (AQE skew-join splits oversized cells). This is the
    embedding-space twin of the star-capped LSH text dedup."""
    # ONE corpus pass: assignment + pre-quantized vector in the same
    # checkpointed artifact (guide §2.4) — the intra-cell pair sides
    # read (id, cell, vec) directly, no assignment⋈vector join at all
    ap = ivf_assign_probes(
        corpus, id_col, vec_col, n_cells, 1, lloyd_iters, with_qv=True
    )
    assign = ap.select("id", "cell")
    # PRE-QUANTIZED int vectors through the intra-cell pair join
    # (guide §2.3 narrower types) — identical int64 dots
    wv = ap.select("id", "cell", F.col("qv").alias("vec"))
    a = wv.select("cell", F.col("id").alias("id_a"), F.col("vec").alias("va"))
    b = wv.select("cell", F.col("id").alias("id_b"), F.col("vec").alias("vb"))
    dq = dot_int_arrow()(F.col("va"), F.col("vb"))
    dup = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_b").alias("id"), dq.alias("dot_q"))
        .filter(F.col("dot_q") >= tau_q)
        .select("id")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return assign.join(dup, "id", "left").select(
        "id",
        "cell",
        (F.coalesce("is_dup", F.lit(0)) == 0).cast("int").alias("keep"),
    )
