"""Portable mergeable HLL sketch (functions/sketch.py) vs an
independent scalar referee — register construction, merge laws,
fixed-point estimate, and accuracy bounds."""

import hashlib

import pytest
from pyspark.sql import functions as F

from yomitoku_spark.functions import sketch as SK
from yomitoku_spark.operators.retrieval import plog2q_frag

P = 8
M = 1 << P
WBITS = 60 - P


def _h60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _scalar_registers(values):
    regs = {}
    for v in values:
        h = _h60(v)
        b, w = h % M, h // M
        rho = WBITS + 1 if w == 0 else WBITS + 1 - w.bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    return regs


def _scalar_plog2q(x):
    # micro-log2 with quadratic octave interpolation
    e = x.bit_length() - 1
    p = 1 << e
    f = (1000000 * (x - p)) // p
    return 1000000 * e + f + (347 * f * (1000000 - f)) // 1000000000


def _scalar_estimate(regs):
    n_nonzero = len(regs)
    sum_rho = sum(regs.values())
    s = sum((1 << 30) // (1 << r) for r in regs.values())
    s += (M - n_nonzero) * (1 << 30)
    raw = ((SK.ALPHA_MICRO[P] * M * M // 1000) * (1 << 30)) // max(s, 1)
    if n_nonzero < M and raw <= 2500 * M:
        ratio = (M * (1 << 20)) // max(M - n_nonzero, 1)
        ln_micro = (_scalar_plog2q(ratio) - 20000000) * SK.LN2_MICRO // 1000000
        est = M * ln_micro // 1000
    else:
        est = raw
    return n_nonzero, sum_rho, est


def _values_df(spark, groups):
    rows = [(g, v) for g, vals in groups.items() for v in vals]
    return spark.createDataFrame(rows, "grp string, val string")


def _engine_estimate(spark, groups):
    d = _values_df(spark, groups)
    regs = SK.hll_registers(d, F.col("val"), ["grp"], p=P)
    return {
        r.grp: (r.n_nonzero, r.sum_rho, r.est_milli)
        for r in SK.hll_estimate(regs, ["grp"], p=P).collect()
    }


def test_registers_match_scalar(spark):
    groups = {"a": [f"tok{i}" for i in range(40)], "b": ["x"], "c": []}
    d = _values_df(spark, groups)
    got = {
        (r.grp, r.bucket): r.rho
        for r in SK.hll_registers(d, F.col("val"), ["grp"], p=P).collect()
    }
    want = {}
    for g, vals in groups.items():
        for b, rho in _scalar_registers(vals).items():
            want[(g, b)] = rho
    assert got == want


@pytest.mark.parametrize("n", [1, 10, 100, 1000, 20000])
def test_estimate_matches_scalar_and_is_accurate(spark, n):
    vals = [f"item-{i}" for i in range(n)]
    got = _engine_estimate(spark, {"g": vals})["g"]
    assert got == _scalar_estimate(_scalar_registers(vals))
    est = got[2] / 1000
    # p=8 HLL standard error is 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert abs(est - n) / n < 0.20, (n, est)


def test_merge_laws(spark):
    """Sharded build + merge == whole-corpus build (associative,
    commutative, idempotent)."""
    vals = [f"v{i}" for i in range(500)]
    whole = _engine_estimate(spark, {"g": vals})
    d1 = _values_df(spark, {"g": vals[:300]})
    d2 = _values_df(spark, {"g": vals[250:]})  # overlap: idempotence
    r1 = SK.hll_registers(d1, F.col("val"), ["grp"], p=P)
    r2 = SK.hll_registers(d2, F.col("val"), ["grp"], p=P)
    for union in (r1.unionByName(r2), r2.unionByName(r1)):
        merged = SK.hll_merge(union, ["grp"])
        got = {
            r.grp: (r.n_nonzero, r.sum_rho, r.est_milli)
            for r in SK.hll_estimate(merged, ["grp"], p=P).collect()
        }
        assert got == whole


def test_plog2q_spark_duckdb_scalar_parity(spark):
    import duckdb

    xs = [1, 2, 3, 1023, 1024, 10**6, 2**28, (M * (1 << 20)) // 7]
    got_spark = [
        r.v
        for r in spark.createDataFrame([(x,) for x in xs], "x long")
        .select(F.expr(plog2q_frag("x", "spark")).alias("v"))
        .collect()
    ]
    frag = plog2q_frag("x", "duckdb")
    got_duck = [
        duckdb.sql(f"SELECT {frag} AS v FROM (VALUES ({x}),) t(x)").fetchone()[0]
        for x in xs
    ]
    want = [_scalar_plog2q(x) for x in xs]
    assert got_spark == want
    assert got_duck == want


def test_register_table_is_bounded(spark):
    """The mergeable artifact never exceeds m rows per group no matter
    the input cardinality — the property that makes it shippable."""
    vals = [f"u{i}" for i in range(50000)]
    regs = SK.hll_registers(
        _values_df(spark, {"g": vals}), F.col("val"), ["grp"], p=P
    )
    assert regs.count() <= M


# ---------------------------------------------------------------- count-min

CM_D, CM_W = 4, 64  # narrow width so collisions actually occur in tests


def _scalar_cm(values, probes, depth=CM_D, width=CM_W):
    cells = {}
    for v in values:
        for j in range(depth):
            b = _h60(f"{j}:{v}") % width
            cells[(j, b)] = cells.get((j, b), 0) + 1
    out = {}
    for q in probes:
        out[q] = min(
            cells.get((j, _h60(f"{j}:{q}") % width), 0) for j in range(depth)
        )
    return out


def test_cm_matches_scalar_and_overestimates(spark):
    vals = [f"tok{i % 37}" for i in range(500)] + ["rare"]
    probes = sorted({f"tok{i}" for i in range(37)} | {"rare", "absent"})
    d = spark.createDataFrame([(v,) for v in vals], "tok string")
    sk = SK.cm_build(d, F.col("tok"), [], depth=CM_D, width=CM_W)
    p = spark.createDataFrame([(q,) for q in probes], "probe string")
    got = {
        r.probe: r.est
        for r in SK.cm_query(sk, p, [], "probe", depth=CM_D, width=CM_W).collect()
    }
    assert got == _scalar_cm(vals, probes)
    from collections import Counter

    exact = Counter(vals)
    assert all(got[q] >= exact.get(q, 0) for q in probes)  # never undercounts
    assert got["absent"] >= 0


def test_cm_exact_when_collision_free(spark):
    """With a wide sketch and few values, every probe's 4 cells are
    collision-free and the estimate equals the true count."""
    vals = ["a"] * 5 + ["b"] * 3 + ["c"]
    d = spark.createDataFrame([(v,) for v in vals], "tok string")
    sk = SK.cm_build(d, F.col("tok"), [])
    p = spark.createDataFrame([("a",), ("b",), ("c",)], "probe string")
    got = {r.probe: r.est for r in SK.cm_query(sk, p, [], "probe").collect()}
    assert got == {"a": 5, "b": 3, "c": 1}


# ---------------------------------------------------------------- bloom

BL_M, BL_K = 256, 3  # narrow filter so false positives actually occur


def _scalar_bloom(members, probes, m_bits=BL_M, k=BL_K):
    bits = set()
    for v in members:
        for j in range(k):
            bits.add(_h60(f"{j}:{v}") % m_bits)
    return {
        q: int(all(_h60(f"{j}:{q}") % m_bits in bits for j in range(k)))
        for q in probes
    }


def test_bloom_matches_scalar_and_never_false_negative(spark):
    members = [f"m{i}" for i in range(60)]
    probes = members[:10] + [f"x{i}" for i in range(40)]
    md = spark.createDataFrame([(v,) for v in members], "tok string")
    sk = SK.bloom_build(md, F.col("tok"), [], m_bits=BL_M, k=BL_K)
    p = spark.createDataFrame([(q,) for q in sorted(set(probes))], "probe string")
    got = {
        r.probe: r.contains
        for r in SK.bloom_contains(sk, p, [], "probe", m_bits=BL_M, k=BL_K).collect()
    }
    assert got == _scalar_bloom(members, sorted(set(probes)))
    assert all(got[m] == 1 for m in members[:10])  # no false negatives
    # with 60*3 hashes into 256 bits some x-probe should be a true
    # negative AND the scalar referee already pins any false positives
    assert any(got[f"x{i}"] == 0 for i in range(40))


def test_bloom_table_is_bounded(spark):
    vals = [f"t{i}" for i in range(5000)]
    sk = SK.bloom_build(
        spark.createDataFrame([(v,) for v in vals], "tok string"),
        F.col("tok"), [], m_bits=BL_M, k=BL_K,
    )
    assert sk.count() <= BL_M // 32


def test_bloom_pack_test_equals_build_contains(spark):
    members = [f"m{i}" for i in range(60)]
    md = spark.createDataFrame([(v,) for v in members], "tok string")
    sk = SK.bloom_build(md, F.col("tok"), [], m_bits=BL_M, k=BL_K)
    probes = spark.createDataFrame(
        [(f"m{i}",) for i in range(10)] + [(f"x{i}",) for i in range(40)],
        "probe string",
    )
    via_join = {
        r.probe: r.contains
        for r in SK.bloom_contains(
            sk, probes, [], "probe", m_bits=BL_M, k=BL_K
        ).collect()
    }
    packed = SK.bloom_pack(sk)
    via_expr = {
        r.probe: r.hit
        for r in probes.crossJoin(F.broadcast(packed))
        .withColumn("hit", SK.bloom_test(F.col("probe"), m_bits=BL_M, k=BL_K))
        .collect()
    }
    assert via_expr == via_join
    # empty filter: the packed map is empty, every probe misses
    empty = SK.bloom_pack(
        SK.bloom_build(
            md.filter(F.lit(False)), F.col("tok"), [], m_bits=BL_M, k=BL_K
        )
    )
    misses = (
        probes.crossJoin(F.broadcast(empty))
        .withColumn("hit", SK.bloom_test(F.col("probe"), m_bits=BL_M, k=BL_K))
        .agg(F.sum("hit"))
        .first()[0]
    )
    assert misses == 0


# ------------------------------------------------------- quantile sketch

QS = 4  # narrow sub-bucket width so approximation is actually exercised


def _q_bucket(v, s=QS):
    v = max(v, 1)
    sh = max(v.bit_length() - s - 1, 0)
    return sh * (1 << s) + (v >> sh)


def _q_mid(b, s=QS):
    if b < (1 << (s + 1)):
        return b
    sh = b // (1 << s) - 1
    m = b - sh * (1 << s)
    return ((m << sh) + ((m + 1) << sh) - 1) // 2


def _scalar_quantiles(vals, qms, s=QS):
    from collections import Counter

    c = Counter(_q_bucket(v, s) for v in vals)
    n, out, items = len(vals), {}, sorted(c.items())
    for q in qms:
        r = q * (n - 1) // 1000 + 1
        cum = 0
        for b, k in items:
            cum += k
            if cum >= r:
                out[q] = _q_mid(b, s)
                break
    return out


QVALS = [1, 1, 2, 3, 63, 64, 65, 1000, 1001, 5000, 123456, 10**9, 2**45 + 7] + [
    17 * i * i + 1 for i in range(300)
]
QMS = [0, 250, 500, 900, 990, 1000]


def test_q_matches_scalar_referee(spark):
    df = spark.createDataFrame([(v,) for v in QVALS], "v long")
    sk = SK.q_build(df, F.col("v"), [], sub_bits=QS)
    got = {
        r.q_milli: r.est
        for r in SK.q_quantiles(sk, [], QMS, sub_bits=QS).collect()
    }
    assert got == _scalar_quantiles(QVALS, QMS)


def test_q_relative_error_law(spark):
    df = spark.createDataFrame([(v,) for v in QVALS], "v long")
    sk = SK.q_build(df, F.col("v"), [], sub_bits=QS)
    got = {
        r.q_milli: r.est
        for r in SK.q_quantiles(sk, [], QMS, sub_bits=QS).collect()
    }
    sv, n = sorted(max(v, 1) for v in QVALS), len(QVALS)
    for q in QMS:
        exact = sv[q * (n - 1) // 1000]
        assert abs(got[q] - exact) <= exact / (1 << (QS + 1)) + 1, (
            q, got[q], exact,
        )


def test_q_linear_region_is_exact(spark):
    # every value < 2^(s+1) maps to its own bucket: estimates == exact
    vals = [1, 2, 3, 5, 8, 13, 21, 31] * 3
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = SK.q_build(df, F.col("v"), [], sub_bits=QS)
    got = {
        r.q_milli: r.est
        for r in SK.q_quantiles(sk, [], QMS, sub_bits=QS).collect()
    }
    sv, n = sorted(vals), len(vals)
    assert got == {q: sv[q * (n - 1) // 1000] for q in QMS}


def test_q_grouped_and_bounded(spark):
    rows = [("a", v) for v in QVALS] + [("b", v * 7 + 1) for v in QVALS]
    df = spark.createDataFrame(rows, "g string, v long")
    sk = SK.q_build(df, F.col("v"), ["g"], sub_bits=QS)
    assert sk.count() <= 2 * (64 - QS) * (1 << QS)
    got = {
        (r.g, r.q_milli): r.est
        for r in SK.q_quantiles(sk, ["g"], [500, 900], sub_bits=QS).collect()
    }
    wa = _scalar_quantiles(QVALS, [500, 900])
    wb = _scalar_quantiles([v * 7 + 1 for v in QVALS], [500, 900])
    assert got == {("a", q): e for q, e in wa.items()} | {
        ("b", q): e for q, e in wb.items()
    }


# ------------------------------------------------------- bottom-k (KMV)

KK = 16


def _scalar_kmv(vals, k=KK):
    hs = sorted((_h60(str(v)), str(v)) for v in set(vals))[:k]
    n_kept = len(hs)
    if n_kept < k:
        est = n_kept * 1000
    else:
        est = (k - 1) * 1000 * (1 << 40) // max(hs[-1][0] // (1 << 20), 1)
    return hs, n_kept, est


def test_kmv_matches_scalar_referee(spark):
    vals = [f"tok{i}" for i in range(500)] * 2  # duplicates collapse
    df = spark.createDataFrame([(v,) for v in vals], "tok string")
    sk = SK.kmv_build(df, F.col("tok"), [], k=KK)
    got = sorted((r.h, r.v) for r in sk.collect())
    hs, n_kept, est = _scalar_kmv(vals)
    assert got == hs
    e = SK.kmv_estimate(sk, [], k=KK).first()
    assert (e.n_kept, e.est_milli) == (n_kept, est)
    # k=16 on 500 distinct: the estimate should be in the right ballpark
    assert 0.4 * 500 < est / 1000 < 2.5 * 500


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame([(f"v{i}",) for i in range(7)], "tok string")
    sk = SK.kmv_build(df, F.col("tok"), [], k=KK)
    e = SK.kmv_estimate(sk, [], k=KK).first()
    assert (e.n_kept, e.est_milli) == (7, 7000)


def test_kmv_grouped_sample_is_deterministic(spark):
    rows = [("a", f"x{i}") for i in range(100)] + [
        ("b", f"y{i}") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, tok string")
    one = sorted(map(tuple, SK.kmv_build(df, F.col("tok"), ["g"], k=KK).collect()))
    two = sorted(map(tuple, SK.kmv_build(
        df.repartition(13), F.col("tok"), ["g"], k=KK).collect()))
    assert one == two
    assert len([r for r in one if r[0] == "a"]) == KK
    assert len([r for r in one if r[0] == "b"]) == KK


def test_sketch_artifacts_persist_and_merge_across_days(spark, tmp_path):
    """The portability claim, end to end: the HLL register table is a
    plain DataFrame artifact, so day-1 registers WRITTEN TO PARQUET and
    read back MAX-merge with day-2 registers to exactly the estimate of
    the union — the operational property Spark's approx_count_distinct
    state cannot offer."""
    from pyspark.sql import functions as F

    from yomitoku_spark.functions import sketch as SK

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    day1 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    day2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    both = day1.unionByName(day2)

    def roundtrip(df, name):
        p = str(tmp_path / name)
        df.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    # HLL: MAX-merge of persisted day-1 registers + day-2 registers
    h1 = roundtrip(SK.hll_registers(day1, F.col("tok"), ["lang"]), "hll1")
    h2 = SK.hll_registers(day2, F.col("tok"), ["lang"])
    got = {
        tuple(r)
        for r in SK.hll_estimate(
            SK.hll_merge(h1.unionByName(h2), ["lang"]), ["lang"]
        ).collect()
    }
    want = {
        tuple(r)
        for r in SK.hll_estimate(
            SK.hll_registers(both, F.col("tok"), ["lang"]), ["lang"]
        ).collect()
    }
    assert got == want
