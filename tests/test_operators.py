"""Unit tests for the operator library (dedup, similarity, spatial,
textstats) — numpy/pure-python referees, small inputs."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from yomitoku_spark.functions import textstats as TS
from yomitoku_spark.functions.textstats import hash64
from yomitoku_spark.operators import dedup as DD
from yomitoku_spark.operators import similarity as SIM
from yomitoku_spark.operators import spatial as SP
from yomitoku_spark.operators.dedup import shingles
from yomitoku_spark.operators.similarity import _mat, _q_away

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ---------------------------------------------------------------- dedup


# Column-expression twin of DD.minhash_signatures_arrow.
def _perm_hash(j: int):
    # NOTE: must be a single-argument lambda — a 2-arg lambda passed to
    # F.transform is interpreted as (element, index) by PySpark.
    prefix = f"{j}:"
    return lambda s: hash64(F.concat(F.lit(prefix), s))


def minhash_signature(col: Column, n_hashes: int = 16, shingle_n: int = 5) -> Column:
    """MinHash signature: per permutation j, min over shingles of
    hash64(j || shingle). Returns array<bigint> of length n_hashes.

    The column-expression twin of :func:`minhash_signatures_arrow`,
    which is what :func:`lsh_candidate_pairs` runs; tests hold the two
    bit-identical."""
    sh = shingles(col, shingle_n)
    sig = [F.array_min(F.transform(sh, _perm_hash(j))) for j in range(n_hashes)]
    return F.array(*sig)


def test_minhash_arrow_equals_column_expr(spark, docs):
    sub = docs.limit(40)
    a = {
        r.id: r.sig
        for r in DD.minhash_signatures_arrow(sub, "doc_id", "text", 8, 3).collect()
    }
    b = {
        r.doc_id: r.sig
        for r in sub.select(
            "doc_id", minhash_signature(F.col("text"), 8, 3).alias("sig")
        ).collect()
    }
    assert a == b


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        "id bigint, text string",
    )
    kept = sorted(r.id for r in DD.exact_dedup(df, "text", "id").collect())
    assert kept == [1, 3]


def test_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),
            (3, "completely unrelated words about spark shuffle partitions here"),
        ],
        "id bigint, text string",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in DD.lsh_candidate_pairs(df, "id", "text", 8, 4, 3).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_jaccard_pairs(spark):
    base = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "z y x w v u t s r q")],
        "id bigint, text string",
    )
    rows = DD.jaccard_pairs(df, "id", "text", shingle_n=3, threshold=0.8).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_simhash_identical_and_near(spark):
    words = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(39)) + " other"
    df = spark.createDataFrame(
        [(1, words), (2, words), (3, near)], "id bigint, text string"
    )
    sh = {r.id: r.simhash for r in DD.simhash64(df, "id", "text").collect()}
    assert sh[1] == sh[2]
    ham = bin(sh[1] ^ sh[3]).count("1")
    assert 0 < ham <= 8
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in DD.simhash_near_pairs(df, "id", "text").collect()
    }
    assert pairs[(1, 2)] == 0


# ------------------------------------------------------------ similarity


# Float and per-vector referees of the quantized, batched search paths.
def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantized_vecs(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, qv array<int>) — each vector quantized on its own with the
    half-away rounding of :func:`SIM.dot_quantized_arrow`: the referee of
    the ``with_qv=True`` artifacts the index passes emit."""

    def qz(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = _q_away(_mat(pdf[vec_col]) * SIM.Q_SCALE).astype(np.int32)
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(), "qv": list(q)})

    return df.select(id_col, vec_col).mapInPandas(qz, schema="id bigint, qv array<int>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    broadcast(queries) ⨯ corpus → cosine → rank-1..k window per query.
    Excludes self-matches on id equality."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    j = c.crossJoin(F.broadcast(q)).filter(F.col("corpus_id") != F.col("query_id"))
    sim = cosine(F.col("cvec"), F.col("qvec")).alias("sim")
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("corpus_id"))
    return (
        j.select("query_id", "corpus_id", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as m one-byte-ish codes: per subspace the
    L2-nearest codebook entry over the QUANTIZED int64 subvectors
    (exact integer squared distances; ties break to the lowest code,
    the same first-min rule as everywhere else). Returns
    (id, codes array<int>) — the 64-dim float vector becomes m=8 small
    ints: the compressed representation candidate scoring rides on."""
    mq, n_codes, d = codebooks.shape
    cb = codebooks

    def enc(batches):
        for pdf in batches:
            mat = _mat(pdf[vec_col])
            if len(mat) == 0:
                continue
            q = _q_away(mat * SIM.Q_SCALE).reshape(len(mat), mq, d)
            # (n, m, n_codes) squared L2 per subspace
            diff = q[:, :, None, :] - cb[None, :, :, :]
            d2 = (diff * diff).sum(axis=3)
            codes = np.argmin(d2, axis=2)  # first (lowest) min wins
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "codes": list(codes.astype(np.int32))}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, schema="id bigint, codes array<int>"
    )


def test_brute_force_topk_matches_numpy(spark, emb):
    sub = emb.limit(50)
    got = brute_force_topk(sub, sub, k=3).collect()
    rows = sub.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    for r in got:
        qi = np.where(ids == r.query_id)[0][0]
        ci = np.where(ids == r.corpus_id)[0][0]
        assert abs(sims[qi, ci] - r.sim) < 1e-9
    # rank-1 neighbor agrees with numpy argmax (excluding self)
    by_q = {}
    for r in got:
        if r.rank == 1:
            by_q[r.query_id] = r.corpus_id
    for qi, qid in enumerate(ids):
        s = sims[qi].copy()
        s[qi] = -2
        assert by_q[qid] == ids[np.argmax(s)]


def test_quantized_topk_matches_sql_semantics(spark, emb):
    sub = emb.limit(30)
    got = SIM.brute_force_topk_quantized(sub, sub, k=2).collect()
    rows = sub.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    q = np.rint(np.array([r.embedding for r in rows], dtype=np.float64) * 1000).astype(
        np.int64
    )
    dots = q @ q.T
    for r in got:
        qi = np.where(ids == r.query_id)[0][0]
        ci = np.where(ids == r.corpus_id)[0][0]
        assert dots[qi, ci] == r.dot_q


# ------------------------------------------------------------ textstats


def test_lang_id_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the hat and it is fine"),
            (2, "el perro y la casa que es un gato en los campos"),
            (3, "データの解析と変換、高速な分散処理"),
            (4, "zzz qqq www"),
        ],
        "id bigint, text string",
    )
    got = {r.id: r.lang for r in df.select("id", TS.lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "es", 3: "cjk", 4: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "  a b  c "), (2, ""), (3, "x,y.z!")],
                               "id bigint, text string")
    got = {
        r.id: (r.n, r.b)
        for r in df.select(
            "id",
            TS.token_count(F.col("text")).alias("n"),
            TS.bpe_ish_token_count(F.col("text")).alias("b"),
        ).collect()
    }
    assert got[1] == (3, 3)
    assert got[2] == (0, 0)
    assert got[3] == (1, 6)  # x y z + , . !


# ------------------------------------------------------------ spatial


def _boxes(spark, rows):
    return spark.createDataFrame(
        [(i, {"x1": a, "y1": b, "x2": c, "y2": d}) for i, (a, b, c, d) in rows],
        "id bigint, box struct<x1:int,y1:int,x2:int,y2:int>",
    )


def test_dedup_contained_keep_larger(spark):
    df = _boxes(spark, [(1, (0, 0, 10, 10)), (2, (1, 1, 5, 5)), (3, (20, 20, 30, 30))])
    kept = sorted(r.id for r in SP.dedup_contained(df, "id", keep="larger").collect())
    assert kept == [1, 3]


def test_dedup_contained_keep_smaller_mutual(spark):
    # identical boxes: mutual containment → keep-smaller keeps lower id
    df = _boxes(spark, [(1, (0, 0, 10, 10)), (2, (0, 0, 10, 10))])
    kept = sorted(r.id for r in SP.dedup_contained(df, "id", keep="smaller").collect())
    assert kept == [1]


def test_contains_predicate(spark):
    df = _boxes(spark, [(1, (0, 0, 10, 10))]).alias("a")
    inner = _boxes(spark, [(2, (2, 2, 8, 8)), (3, (9, 9, 20, 20))]).alias("b")
    got = sorted(
        r[0]
        for r in df.crossJoin(inner)
        .filter(SP.contains("a.box", "b.box", 0.8))
        .select("b.id")
        .collect()
    )
    assert got == [2]


def test_blocked_dedup_equals_theta_on_sparse_boxes(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(120):
        x1, y1 = rng.randrange(0, 4000), rng.randrange(0, 4000)
        w, h = rng.randrange(5, 60), rng.randrange(5, 60)
        rows.append((i, {"x1": x1, "y1": y1, "x2": x1 + w, "y2": y1 + h}))
    # plant some exact containments
    for j, (i, b) in enumerate(rows[:10]):
        rows.append((1000 + j, {"x1": b["x1"] + 1, "y1": b["y1"] + 1,
                                "x2": max(b["x1"] + 2, b["x2"] - 1),
                                "y2": max(b["y1"] + 2, b["y2"] - 1)}))
    df = spark.createDataFrame(rows, "id bigint, box struct<x1:int,y1:int,x2:int,y2:int>")
    plain = sorted(r.id for r in SP.dedup_contained(df, "id", keep="larger").collect())
    blocked = sorted(
        r.id for r in SP.dedup_contained(df, "id", keep="larger", blocked_cell=64).collect()
    )
    assert plain == blocked
    assert len(plain) < len(rows)  # something was actually deduped


def test_dedup_contained_auto_switch(spark):
    """blocked_cell='auto' must MEASURE the geometry and choose the
    scale-safe plan itself (r4 stretch item): blocked for big sparse
    inputs, theta for tiny or degenerate-dense ones — with identical
    results on both sides of the switch."""
    import random

    rng = random.Random(11)
    sparse = []
    for i in range(3000):
        x1, y1 = (i % 60) * 100, (i // 60) * 100
        sparse.append((i, {"x1": x1, "y1": y1, "x2": x1 + 50, "y2": y1 + 50}))
        if i % 10 == 0:  # plant containments
            sparse.append(
                (100000 + i, {"x1": x1 + 5, "y1": y1 + 5, "x2": x1 + 20, "y2": y1 + 20})
            )
    dense = []
    for i in range(3000):
        x1, y1 = rng.randrange(0, 30), rng.randrange(0, 30)
        dense.append((i, {"x1": x1, "y1": y1, "x2": x1 + 100, "y2": y1 + 100}))
    schema = "id bigint, box struct<x1:int,y1:int,x2:int,y2:int>"
    df_sparse = spark.createDataFrame(sparse, schema)
    df_dense = spark.createDataFrame(dense, schema)
    df_tiny = spark.createDataFrame(sparse[:100], schema)

    mode, cell = SP.dedup_strategy(df_sparse)
    assert mode == "blocked" and cell >= 16, (mode, cell)
    assert SP.dedup_strategy(df_dense)[0] == "theta"  # dense: n²-ish anyway
    assert SP.dedup_strategy(df_tiny)[0] == "theta"  # tiny: exchange not worth it

    # identical results across the switch point, both keep modes
    for df in (df_sparse, df_tiny):
        for keep in ("larger", "smaller"):
            auto = sorted(
                r.id
                for r in SP.dedup_contained(
                    df, "id", keep=keep, blocked_cell="auto"
                ).collect()
            )
            theta = sorted(
                r.id for r in SP.dedup_contained(df, "id", keep=keep).collect()
            )
            assert auto == theta, (keep, len(auto), len(theta))
    n_kept = len(SP.dedup_contained(df_sparse, "id", blocked_cell="auto").collect())
    assert n_kept < df_sparse.count()  # containments actually removed


def test_multiprobe_lifts_recall(spark, emb):
    """Multi-probe (flip lowest-|margin| bits on the query side) must
    lift recall@3 over the same planes/tables base config with ZERO
    extra index rows — the production-retrieval lever the registry's
    ann_multiprobe_topk row ships (0.88 @ sf0.1, 0.84 @ sf0.01)."""
    exact = {}
    for r in SIM.brute_force_topk_quantized(emb, emb, k=3).collect():
        exact.setdefault(r.query_id, set()).add(r.corpus_id)

    def recall(n_flip):
        approx = {}
        res = SIM.lsh_ann_topk_quantized(
            emb, k=3, n_planes=6, n_tables=8, n_flip=n_flip
        )
        for r in res.collect():
            approx.setdefault(r.query_id, set()).add(r.corpus_id)
        return sum(len(exact[q] & approx.get(q, set())) for q in exact) / sum(
            len(v) for v in exact.values()
        )

    r0, r4 = recall(0), recall(4)
    assert r4 > r0, (r0, r4)
    assert r4 >= 0.75, (r0, r4)


def test_ivf_flat_recall_vs_brute_force(spark, emb):
    """Recall@3 of the IVF-flat path against exact brute force — the
    inverted-list quality/speed trade, and the n_probe recall lever
    (more probes → monotonically more candidates → higher recall)."""
    sub = emb.limit(200)
    exact = {}
    for r in brute_force_topk(sub, sub, k=3).collect():
        exact.setdefault(r.query_id, set()).add(r.corpus_id)

    def recall(n_probe):
        approx = {}
        for r in SIM.ivf_flat_topk(sub, n_cells=8, n_probe=n_probe, k=3).collect():
            approx.setdefault(r.query_id, set()).add(r.corpus_id)
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    r2, r4 = recall(2), recall(4)
    assert r2 > 0.3, r2  # well above chance (3/199) with a quarter probed
    assert r4 >= r2
    assert r4 > 0.5, r4


def test_ivf_clustered_recall_at_sublinear_scan(spark, emb):
    """The production-trade ANN claim (r5 verdict item 1), pinned: on
    CLUSTERED embeddings (md5-Rademacher mixture derived from the raw
    table — the realistic retrieval shape) the registry IVF config
    (sqrt-n cells, 2 Lloyd sweeps, 4 probes) reaches recall@3 ≥ 0.85
    while scanning ≤ 25% of the corpus per query. On the raw
    near-uniform table the same plan shape needed ~48% scan for 0.88
    recall — clustering is what IVF probing exploits."""
    c = SIM.clustered_embeddings(emb, n_clusters=50, weight=0.25)
    exact = {}
    for r in SIM.brute_force_topk_quantized(c, c, "vec_id", "cvec", k=3).collect():
        exact.setdefault(r.query_id, set()).add(r.corpus_id)
    approx = {}
    for r in SIM.ivf_flat_topk(
        c, "vec_id", "cvec", n_cells=64, n_probe=4, k=3, lloyd_iters=2
    ).collect():
        approx.setdefault(r.query_id, set()).add(r.corpus_id)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.85, recall
    n = emb.count()
    pairs = SIM.ivf_candidate_pairs(
        c, "vec_id", "cvec", n_cells=64, n_probe=4, lloyd_iters=2
    ).count()
    scan_fraction = pairs / n / n
    assert scan_fraction <= 0.25, scan_fraction


def test_ivf_pq_recall_and_compression(spark, emb):
    """IVF-PQ (the codes-only candidate-scoring path): on clustered
    embeddings the registry config (64 codes x 8 subspaces, ADC top-32
    re-rank) keeps recall@3 ≥ 0.85 while joining full vectors for only
    `rerank` candidates per query — the shortlist, not the candidate
    set, bounds vector traffic. Codes really are 8 small ints."""
    c = SIM.clustered_embeddings(emb, n_clusters=50, weight=0.25)
    exact = {}
    for r in SIM.brute_force_topk_quantized(c, c, "vec_id", "cvec", k=3).collect():
        exact.setdefault(r.query_id, set()).add(r.corpus_id)
    approx = {}
    for r in SIM.ivf_pq_topk(
        c, "vec_id", "cvec", n_cells=64, n_probe=4, k=3,
        n_codes=64, m=8, rerank=32, lloyd_iters=0,
    ).collect():
        approx.setdefault(r.query_id, set()).add(r.corpus_id)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.85, recall
    cb = SIM.pq_codebooks(c, "vec_id", "cvec", n_codes=64, m=8)
    assert cb.shape == (8, 64, 8)
    codes = pq_encode(c, cb, "vec_id", "cvec").limit(5).collect()
    assert all(len(r.codes) == 8 and all(0 <= x < 64 for x in r.codes)
               for r in codes)


def test_ivf_lloyd_recall_improves(spark, emb):
    """Lloyd refinement is a pure recall lever: same plan shape, better
    centroids. On the synthetic corpus, 2 deterministic sweeps beat the
    seed-only quantizer AND the registry LSH configuration (2 tables ×
    6 planes) at equal k. Everything is integer-exact, so these recalls
    are reproducible constants, not flaky thresholds (measured: plain
    0.45, lloyd2 ≈ 0.53, lsh ≈ 0.075)."""
    sub = emb.limit(200)
    exact = {}
    for r in brute_force_topk(sub, sub, k=3).collect():
        exact.setdefault(r.query_id, set()).add(r.corpus_id)
    total = sum(len(v) for v in exact.values())

    def rec(df):
        approx = {}
        for r in df.collect():
            approx.setdefault(r.query_id, set()).add(r.corpus_id)
        return sum(len(exact[q] & approx.get(q, set())) for q in exact) / total

    plain = rec(SIM.ivf_flat_topk(sub, n_cells=8, n_probe=2, k=3))
    lloyd = rec(SIM.ivf_flat_topk(sub, n_cells=8, n_probe=2, k=3, lloyd_iters=2))
    lsh = rec(SIM.lsh_ann_topk_quantized(sub, k=3, n_planes=6, n_tables=2))
    assert lloyd > plain, (lloyd, plain)
    assert lloyd >= 0.5, lloyd
    assert lloyd > lsh, (lloyd, lsh)


def test_lsh_ann_quantized_recall_vs_brute_force(spark, emb):
    """Recall@3 of the oracle-checkable quantized ANN (md5-sign planes,
    integer dot re-rank) against exact brute force."""
    sub = emb.limit(200)
    exact = {}
    for r in brute_force_topk(sub, sub, k=3).collect():
        exact.setdefault(r.query_id, set()).add(r.corpus_id)
    approx = {}
    for r in SIM.lsh_ann_topk_quantized(sub, k=3, n_planes=4, n_tables=6).collect():
        approx.setdefault(r.query_id, set()).add(r.corpus_id)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total > 0.5, hits / total


def _plan_tree(df) -> str:
    """The operator tree of ``df.explain("formatted")`` (node details cut)."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().split("(1) ")[0]


@pytest.fixture
def sweep_loop(monkeypatch):
    """Force label_propagation's distributed sweep loop on a tiny graph
    (its size-based pick would otherwise take one union-find task)."""
    from yomitoku_spark.operators import components as CC

    monkeypatch.setattr(CC, "SMALL_GRAPH_EDGES", 0)


def _components(edf):
    """The independent referee: per-group union-find over one group."""
    from yomitoku_spark.operators.components import connected_components

    return {
        r.node: r.component
        for r in connected_components(edf.withColumn("g", F.lit(0)), ["g"]).collect()
    }


def test_label_propagation_equals_union_find(spark, monkeypatch):
    """Global label propagation produces the same component labels as
    the per-group union-find referee on a random-ish graph, through both
    the small-graph union-find pick and the distributed sweep loop."""
    import random

    from yomitoku_spark.operators import components as CC

    rng = random.Random(7)
    edges = []
    # several chains + cliques + isolated pairs, diameter <= 5
    for base in range(0, 100, 10):
        nodes = list(range(base, base + rng.randint(2, 6)))
        for a, b in zip(nodes, nodes[1:]):
            edges.append((a, b))
        if rng.random() < 0.5:  # extra chord
            edges.append((rng.choice(nodes), rng.choice(nodes)))
    edf = spark.createDataFrame(
        [(a, b) for a, b in edges], "src bigint, dst bigint"
    )
    uf = _components(edf)
    assert {r.node: r.label for r in CC.label_propagation(edf).collect()} == uf
    monkeypatch.setattr(CC, "SMALL_GRAPH_EDGES", 0)
    assert {r.node: r.label for r in CC.label_propagation(edf).collect()} == uf


# a 5,000-node chain whose edges arrive in descending id order: each
# union links the old root below the new smaller one, so the parent path
# from 5000 is 4,999 links deep, past Python's recursion limit
_DESCENDING_CHAIN = [(i, i + 1) for i in range(4999, 0, -1)]


def test_union_find_descending_chain():
    from yomitoku_spark.operators.components import UnionFind

    uf = UnionFind()
    for a, b in _DESCENDING_CHAIN:
        uf.union(a, b)
    assert uf.find(5000) == 1
    assert {uf.find(n) for n in range(1, 5001)} == {1}


def test_label_propagation_descending_chain(spark):
    """The same chain through label_propagation's small-graph path: one
    partition keeps the descending arrival order into the union-find
    that runs inside the Python worker."""
    from yomitoku_spark.operators import components as CC

    edf = spark.createDataFrame(_DESCENDING_CHAIN, "src bigint, dst bigint").coalesce(1)
    got = {r.node: r.label for r in CC.label_propagation(edf).collect()}
    assert got == {n: 1 for n in range(1, 5001)}


def test_label_propagation_small_graph_shortcut(spark, monkeypatch):
    """The size-based strategy pick (r7 optimization: one union-find
    task instead of the sweep loop when the materialized edge list is
    under the bound) must return EXACTLY the fixpoint labels. The
    returned plan shows the pick: a MapInPandas over the materialized
    edges for union-find, a bare checkpoint scan for the sweep loop."""
    import random

    from yomitoku_spark.operators import components as CC

    rng = random.Random(21)
    edges = [(i, i + 1) for i in range(30)]  # chain: diameter 30
    edges += [(100 + rng.randint(0, 20), 100 + rng.randint(0, 20)) for _ in range(40)]
    edges += [(500, 501), (502, 502)]
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    fast_df = CC.label_propagation(edf)
    assert "MapInPandas" in _plan_tree(fast_df)  # took the union-find shortcut
    fast = {r.node: r.label for r in fast_df.collect()}
    # bound below the graph size -> sweep loop
    monkeypatch.setattr(CC, "SMALL_GRAPH_EDGES", 10)
    slow_df = CC.label_propagation(edf)
    tree = _plan_tree(slow_df)
    assert "Scan ExistingRDD" in tree and "MapInPandas" not in tree, tree
    assert fast == {r.node: r.label for r in slow_df.collect()} == _components(edf)


def test_label_propagation_fixpoint_long_chain(spark, sweep_loop):
    """The sweep loop runs to a FIXPOINT: it converges EXACTLY on a path
    graph whose diameter (12) exceeds its sweep count, and the
    non-convergence guard raises instead of silently under-merging when
    the budget is too small. At the boundary, a budget of exactly the
    productive sweeps the graph needs (3) converges: the quiet
    confirming sweep comes on top of max_iters."""
    from yomitoku_spark.operators.components import label_propagation

    # path 0-1-2-...-12 (diameter 12) plus a disjoint triangle
    edges = [(i, i + 1) for i in range(12)] + [(100, 101), (101, 102), (100, 102)]
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    lp = {r.node: r.label for r in label_propagation(edf).collect()}
    assert lp == {**{i: 0 for i in range(13)}, 100: 100, 101: 100, 102: 100}
    assert {r.node: r.label for r in label_propagation(edf, max_iters=3).collect()} == lp
    with pytest.raises(RuntimeError, match="did not converge"):
        label_propagation(edf, max_iters=2)


def test_label_propagation_pointer_jumping(spark, sweep_loop):
    """Pointer jumping lets a 40-long chain converge under max_iters=7
    (plain hash-min would need 40 sweeps) — the escape hatch for
    chain-shaped duplicate families whose diameter exceeds any fixed
    sweep cap at 100 TB. Labels must equal the union-find referee."""
    from yomitoku_spark.operators.components import label_propagation

    edges = [(i, i + 1) for i in range(40)] + [(500, 501)]
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    fast = {r.node: r.label for r in label_propagation(edf, max_iters=7).collect()}
    assert fast == {**{i: 0 for i in range(41)}, 500: 500, 501: 500}
    assert fast == _components(edf)


def test_pointer_jumping_sweep_count_logarithmic(spark, sweep_loop):
    """Pin the O(log diameter) claim on the flagship LP path: a
    100-long chain needs 100 productive sweeps plain but converges
    under max_iters=8 (≈ log2(100) + confirm) with pointer jumping,
    while a budget below log2(100) still raises."""
    from yomitoku_spark.operators import components as CC

    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src bigint, dst bigint"
    )
    out = {r.node: r.label for r in CC.label_propagation(edf, max_iters=8).collect()}
    assert out == {i: 0 for i in range(101)}
    with pytest.raises(RuntimeError, match="did not converge"):
        CC.label_propagation(edf, max_iters=4)


def test_index_stage_single_evaluation(spark):
    """The expensive python index stages (LSH bucketing, IVF
    assignment, MinHash signatures) must appear EXACTLY ONCE in their
    query plans: the candidate self-joins' branches prune different
    columns, so Spark's exchange/stage reuse never dedupes them, and a
    lazy plan silently runs the stage twice over the corpus (the
    round-4 finding — 2x corpus passes at 100 TB). The eager index
    materialization pins it to one."""
    from yomitoku_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    # index paths: the python stage ran eagerly at build time, so the
    # final plan reads the materialized index (Scan ExistingRDD) and
    # contains ZERO in-plan index stages — the lazy-plan regression
    # this guards against shows up as MapInPandas nodes reappearing
    for name in ("ann_lsh_topk", "ivf_flat_topk", "minhash_lsh_pairs"):
        t = _plan_tree(QUERIES[name](spark, sf))
        assert t.count("MapInPandas") == 0, (name, t)
        assert "Scan ExistingRDD" in t, (name, t)
    # simhash_near_pairs: 4 band rotations self-joined — without the
    # eager signature materialization the plan held SIXTEEN copies of
    # the per-token-hash python stage (the round-4 perf finding)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    t = _plan_tree(DD.simhash_near_pairs(docs, "doc_id", "text"))
    assert t.count("MapInPandas") == 0, t
    assert "Scan ExistingRDD" in t, t
    # corpus_build keeps its single extraction stage in-plan (the fused
    # kernel is an Arrow map, so the stage shows as MapInArrow)
    t = _plan_tree(QUERIES["corpus_build"](spark, sf))
    assert t.count("MapInArrow") == 1, t
    assert t.count("MapInPandas") == 0, t


def test_lsh_hot_bucket_star_capping(spark):
    """max_bucket_size bounds a hot bucket's output to B-1 star pairs
    (vs B² all-pairs) while keeping its members in ONE connected
    component, and leaves small-bucket candidates untouched."""
    from yomitoku_spark.operators.components import label_propagation

    viral = "the same viral page text repeated across the whole corpus"
    pair = "a unique document about spark partitions and shuffles okay"
    rows = [(i, viral) for i in range(30)] + [(100, pair), (101, pair)]
    df = spark.createDataFrame(rows, "id bigint, text string")

    capped = DD.lsh_candidate_pairs(
        df, "id", "text", 8, 4, 3, max_bucket_size=5
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    # hot bucket: star only — O(B), all anchored at the min id
    hot = {p for p in pairs if p[0] < 100 and p[1] < 100}
    assert hot == {(0, i) for i in range(1, 30)}
    # the small-bucket near-dup pair survives with its direct edge
    assert (100, 101) in pairs
    # connectivity preserved: the 30 viral docs form one component
    edf = spark.createDataFrame(
        [(a, b) for a, b in pairs], "src bigint, dst bigint"
    )
    labels = {r.node: r.label for r in label_propagation(edf).collect()}
    assert {labels[i] for i in range(30)} == {0}
    # uncapped baseline really is quadratic in the hot bucket
    uncapped = DD.lsh_candidate_pairs(df, "id", "text", 8, 4, 3).collect()
    assert len({(r.id_a, r.id_b) for r in uncapped if r.id_a < 100}) == 435


def test_semdedup_keepers_invariants(spark, emb):
    """SemDeDup (Abbas et al. 2023) over the clustered table: (1) every
    vector gets exactly one row with its trained cell; (2) a dropped
    vector has a lower-id SAME-CELL neighbor above the threshold and a
    kept one has none (the cluster-local minimal-id keeper rule,
    verified against an exact numpy replay of the intra-cell pairs);
    (3) the threshold prunes semantic dups, not whole cells — every
    cell retains at least one keeper."""
    import numpy as np

    c = SIM.clustered_embeddings(emb.limit(200), n_clusters=50, weight=0.25)
    out = {
        r.id: (r.cell, r.keep)
        for r in SIM.semdedup_keepers(
            c, "vec_id", "cvec", n_cells=8, lloyd_iters=2, tau_q=4_200_000
        ).collect()
    }
    rows = c.collect()
    assert set(out) == {r.vec_id for r in rows}

    q = {
        r.vec_id: SIM._q_away(np.asarray(r.cvec, dtype=np.float64) * SIM.Q_SCALE)
        for r in rows
    }
    by_cell: dict = {}
    for vid, (cell, _) in out.items():
        by_cell.setdefault(cell, []).append(vid)
    for cell, ids in by_cell.items():
        assert any(out[i][1] == 1 for i in ids), f"cell {cell} fully pruned"
        for i in ids:
            has_dup = any(
                j < i and int(q[j] @ q[i]) >= 4_200_000 for j in ids
            )
            assert out[i][1] == (0 if has_dup else 1), (i, cell)
    n_dropped = sum(1 for _, k in out.values() if k == 0)
    assert 0 < n_dropped < len(out)


def test_winnowing_parity_and_guarantee(spark):
    """Column winnowing == scalar referee (exact fingerprint sets),
    and the Schleimer et al. detection law: two docs sharing a token
    run of >= w+k-1 share at least one fingerprint."""
    import hashlib
    import random

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def scalar(text, k=5, w=4):
        toks = [x for x in text.lower().split() if x]
        if len(toks) < k:
            return set()
        hs = [h64(" ".join(toks[i:i + k])) for i in range(len(toks) - k + 1)]
        n, out = len(hs), set()
        for s0 in range(max(n - w + 1, 1)):
            wind = hs[s0:s0 + w]
            mn = min(wind)
            rel = max(i for i, h in enumerate(wind) if h == mn)
            out.add((mn, s0 + rel + 1))
        return out

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(60)
    ]
    run = " ".join(f"rare{j}" for j in range(8))  # w + k - 1 = 8 tokens
    rows.append((1000, "alpha beta gamma " + run + " delta epsilon"))
    rows.append((1001, "zeta eta " + run + " theta iota kappa"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in DD.winnow_fingerprints(df).collect():
        got.setdefault(r.doc_id, set()).add((r.fh, r.fpos))
    for i, text in rows:
        assert got.get(i, set()) == scalar(text), i
    shared = {h for h, _ in got[1000]} & {h for h, _ in got[1001]}
    assert shared, "w+k-1 shared run must yield a shared fingerprint"


def test_bpe_train_matches_scalar_referee(spark):
    """Distributed BPE merge learning == a pure-Python referee (exact
    merge table: round, pair, count) over randomized word dicts —
    pins the pair-count arithmetic, the (count desc, pair asc)
    tiebreak (UTF-8 binary order == code-point order), and the greedy
    leftmost non-overlapping apply rule the replace() chain encodes."""
    import random

    from yomitoku_spark.operators import bpe as BPE

    def scalar_bpe(word_counts, n_merges):
        seqs = {w: list(w) for w in word_counts}
        merges = []
        for r in range(1, n_merges + 1):
            pc = {}
            for w, cnt in word_counts.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + cnt
            if not pc:
                break
            (x, y), c = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((r, x, y, c))
            for w, s in seqs.items():
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                        out.append(x + y)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[w] = out
        return merges

    rng = random.Random(11)
    for trial in range(3):
        wc = {}
        for _ in range(40):
            w = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
            wc[w] = wc.get(w, 0) + rng.randint(1, 9)
        rows = [(w,) for w, c in wc.items() for _ in range(c)]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, ["text"])
        got = [
            (r.round, r.x, r.y, r.pair_count)
            for r in BPE.bpe_train(df, n_merges=5).orderBy("round").collect()
        ]
        assert got == scalar_bpe(wc, 5), (trial, got)


def test_winnowing_hot_fingerprint_cap_bounds_pairs(spark):
    """Boilerplate skew defusal: a fingerprint shared by >50 docs (a
    crafted common footer) is dropped before the pair join, so the
    crafted corpus yields NO quadratic pair blowup — while two docs
    sharing a genuinely rare run still pair up."""
    from pyspark.sql import functions as F

    footer = " ".join(f"footer{j}" for j in range(12))
    rare = " ".join(f"rare{j}" for j in range(12))
    rows = [(i, f"unique{i}a unique{i}b unique{i}c " + footer) for i in range(80)]
    rows += [(900, "lead in tokens " + rare), (901, rare + " tail out tokens")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    fp = DD.winnow_fingerprints(df)
    byh = fp.select("doc_id", "fh").distinct()
    hot = (
        byh.groupBy("fh").agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 50).select("fh")
    )
    cold = byh.join(hot, "fh", "left_anti")
    pairs = (
        cold.alias("a")
        .join(cold.alias("b"),
              (F.col("a.fh") == F.col("b.fh"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .distinct()
        .collect()
    )
    got = {(r.x, r.y) for r in pairs}
    # the 80 footer docs never pair (their shared fingerprints are all
    # hot-capped); the rare pair survives
    assert (900, 901) in got
    assert all(x >= 900 for x, y in got), got


class TestFanOut:
    """session.fan_out: repartition small scans, no-op on well-split
    inputs (the 100 TB shape — a blanket repartition there would
    funnel the corpus into defaultParallelism giant partitions)."""

    def test_small_scan_fans_to_parallelism(self, spark, docs):
        from yomitoku_spark.session import fan_out

        par = spark.sparkContext.defaultParallelism
        fanned = fan_out(docs.select("doc_id", "text"))
        assert fanned.rdd.getNumPartitions() == par

    def test_well_split_input_is_identity(self, spark, tmp_path):
        from yomitoku_spark.session import fan_out

        par = spark.sparkContext.defaultParallelism
        p = str(tmp_path / "many_files.parquet")
        spark.range(1000).repartition(par + 1).write.parquet(p)
        df = spark.read.parquet(p)
        assert len(df.inputFiles()) >= par
        # identity: same plan object, no exchange added
        assert fan_out(df) is df

    def test_fan_out_preserves_rows(self, spark, docs):
        from yomitoku_spark.session import fan_out

        base = docs.select("doc_id").orderBy("doc_id").collect()
        fanned = fan_out(docs.select("doc_id")).orderBy("doc_id").collect()
        assert base == fanned

    def test_kmv_sample_tokens_skips_fan_out(self, spark):
        """The KMV build's tokenize map feeds map-side-combined
        aggregates; a round-robin fan-out in front of them measured
        neutral, so the plan carries none."""
        from yomitoku_spark.queries import QUERIES

        df = QUERIES["kmv_sample_tokens"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan, plan


class TestAssignProbesQv:
    """ivf_assign_probes(with_qv=True): the combined single-pass index
    artifact (cell + probes + pre-quantized vector) must carry exactly
    the quantized_vecs values, and must not disturb the ids-only shape
    consumers (probe-count inference skips the qv column)."""

    def test_qv_matches_quantized_vecs(self, spark, emb):
        ap = SIM.ivf_assign_probes(emb, with_qv=True, lloyd_iters=1)
        qv = {r["id"]: list(r["qv"]) for r in ap.select("id", "qv").collect()}
        ref = {
            r["id"]: list(r["qv"])
            for r in quantized_vecs(emb, "vec_id", "embedding").collect()
        }
        assert qv == ref

    def test_candidate_pairs_identical_with_prebuilt_ap(self, spark, emb):
        ap = SIM.ivf_assign_probes(emb, n_probe=2, with_qv=True)
        via_ap = SIM.ivf_candidate_pairs(emb, n_probe=2, ap=ap).collect()
        direct = SIM.ivf_candidate_pairs(emb, n_probe=2).collect()
        assert sorted(map(tuple, via_ap)) == sorted(map(tuple, direct))

    def test_pq_encode_qv_matches_pq_encode(self, spark, emb):
        cb = SIM.pq_codebooks(emb)
        ap = SIM.ivf_assign_probes(emb, with_qv=True)
        via_qv = {
            r["id"]: list(r["codes"])
            for r in SIM.pq_encode_qv(ap, cb).collect()
        }
        direct = {
            r["id"]: list(r["codes"]) for r in pq_encode(emb, cb).collect()
        }
        assert via_qv == direct

    def test_lsh_qv_on_base_rows_matches_quantized_vecs(self, spark, emb):
        sigs = SIM.lsh_buckets_quantized(
            emb, n_flip=2, with_qv=True
        )
        base = sigs.filter((F.col("table") == 0) & (F.col("probe") == 0))
        qv = {r["id"]: list(r["qv"]) for r in base.select("id", "qv").collect()}
        ref = {
            r["id"]: list(r["qv"])
            for r in quantized_vecs(emb, "vec_id", "embedding").collect()
        }
        assert qv == ref
        # every non-(0,0) row stays ids-only
        others = sigs.filter((F.col("table") != 0) | (F.col("probe") != 0))
        assert others.filter(F.col("qv").isNotNull()).count() == 0
        # bucket/probe rows themselves are unchanged by with_qv
        plain = SIM.lsh_buckets_quantized(emb, n_flip=2)
        lhs = sorted(
            map(tuple, sigs.select("id", "table", "bucket", "probe").collect())
        )
        assert lhs == sorted(map(tuple, plain.collect()))
