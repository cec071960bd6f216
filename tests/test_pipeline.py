"""End-to-end: Spark engine vs pure-Python oracle, byte-for-byte per turn.

This is the engine's own golden gate (SURVEY.md §5): the fused path,
the staged path, and the oracle must agree on extracted_text, spans,
and metrics for every (conv_id, turn_idx) of the deterministic
synthetic transcripts table.
"""

import pandas as pd
import pytest

from yomitoku_spark import datagen, oracle
from yomitoku_spark.plans import pipeline
from yomitoku_spark.sources.tables import salt_repartition


def _oracle_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    recs = []
    for _, row in pdf.iterrows():
        r = oracle.extract_payload(row["text"], row["tool"])
        recs.append(
            {
                "conv_id": row["conv_id"],
                "turn_idx": int(row["turn_idx"]),
                "extracted_text": r["extracted_text"],
                "spans": [
                    {"start": s, "end": e, "kind": k} for s, e, k in r["spans"]
                ],
                "blocks_kept": r["blocks_kept"],
                "blocks_dropped": r["blocks_dropped"],
                "chars_emitted": r["chars_emitted"],
            }
        )
    return (
        pd.DataFrame(recs)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def _result_frame(sdf) -> pd.DataFrame:
    pdf = sdf.toPandas()
    pdf["spans"] = pdf["spans"].map(
        lambda arr: [
            {"start": int(s["start"]), "end": int(s["end"]), "kind": s["kind"]}
            for s in arr
        ]
    )
    return (
        pdf[
            [
                "conv_id",
                "turn_idx",
                "extracted_text",
                "spans",
                "blocks_kept",
                "blocks_dropped",
                "chars_emitted",
            ]
        ]
        .astype({"turn_idx": "int64", "blocks_kept": "int64",
                 "blocks_dropped": "int64", "chars_emitted": "int64"})
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def data(spark):
    tdf = datagen.transcripts_df(spark, n_convs=25, seed=42, skew=12)
    pdf = tdf.toPandas()
    return tdf, pdf, _oracle_frame(pdf)


def _assert_equal(got: pd.DataFrame, want: pd.DataFrame):
    assert len(got) == len(want)
    for col in ["conv_id", "turn_idx", "extracted_text", "blocks_kept",
                "blocks_dropped", "chars_emitted"]:
        mism = (got[col] != want[col]).to_numpy().nonzero()[0]
        assert len(mism) == 0, (
            f"{col}: {len(mism)} mismatches; first at row {mism[0]}:\n"
            f"got={got.iloc[mism[0]][col]!r}\nwant={want.iloc[mism[0]][col]!r}\n"
            f"key={got.iloc[mism[0]][['conv_id', 'turn_idx']].tolist()}"
        )
    for i, (g, w) in enumerate(zip(got["spans"], want["spans"])):
        assert g == w, f"spans mismatch at row {i}: got={g} want={w}"


def test_fused_matches_oracle(data):
    tdf, _, want = data
    got = _result_frame(pipeline.extract(tdf))
    _assert_equal(got, want)


def test_staged_matches_oracle(spark, data):
    tdf, _, want = data
    got = _result_frame(pipeline.extract_staged(tdf))
    _assert_equal(got, want)


def test_spark_generator_matches_local(spark, data):
    _, pdf, _ = data
    local = datagen.transcripts_pdf(n_convs=25, seed=42, skew=12)
    got = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = local.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_fused_repartition_invariant(spark, data):
    """Salting must not change results (determinism under arbitrary
    partitioning — the property the scaling bench relies on). Covers
    the turn-grain skew defusal ``jobs/run_extract.py --partitions``
    runs before the fused stage."""
    tdf, _, want = data
    got = _result_frame(pipeline.extract(salt_repartition(tdf, 13)))
    _assert_equal(got, want)


def test_result_covers_every_turn(spark, data):
    tdf, pdf, _ = data
    res = pipeline.extract(tdf)
    assert res.count() == len(pdf)
