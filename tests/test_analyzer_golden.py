"""Reference document_analyzer parity — the reference's OWN unit
vectors (tests/test_document_analyzer.py) run through our operators:
judge_page_direction → operators.reading_order.vote_vertical
(area-weighted vote), is_vertical/is_noise → spatial.quad_is_vertical/quad_is_noise
(squared-integer edge-norm comparison), combine_flags → the emit
stage's elementwise OR.
"""

import numpy as np
from pyspark.sql import functions as F

from yomitoku_spark.operators import spatial as SP
from yomitoku_spark.operators.reading_order import vote_vertical


def test_judge_page_direction_vectors():
    """Reference test_judge_page_direction (:166-218): area-weighted —
    2 horizontal (areas 2, 2) vs 1 vertical (2) → horizontal; flip the
    third paragraph's direction → vertical wins."""
    boxes = np.array([[0, 0, 2, 1], [0, 0, 1, 2], [10, 10, 11, 12]])
    page = np.zeros(3, dtype=np.int64)
    assert not vote_vertical(page, np.array([False, True, False]), boxes, 1)[0]
    assert vote_vertical(page, np.array([False, True, True]), boxes, 1)[0]


def _quad_vals(spark, fn, quads):
    df = spark.createDataFrame([(q,) for q in quads], "q array<array<int>>")
    return [r.o for r in df.select(fn(F.col("q")).alias("o")).collect()]


def test_is_vertical_vectors(spark):
    """Reference test_is_vertical (:322-326)."""
    got = _quad_vals(
        spark,
        SP.quad_is_vertical,
        [
            [[0, 0], [1, 0], [1, 1], [0, 1]],
            [[0, 0], [1, 0], [1, 3], [0, 3]],
        ],
    )
    assert got == [False, True]


def test_is_noise_vectors(spark):
    """Reference test_is_noise (:329-334)."""
    got = _quad_vals(
        spark,
        SP.quad_is_noise,
        [
            [[0, 0], [1, 0], [1, 1], [0, 1]],
            [[0, 0], [20, 0], [20, 20], [0, 20]],
        ],
    )
    assert got == [True, False]


def test_is_vertical_rotated_quad(spark):
    """The edge-norm rule must hold for ROTATED quads (the reference
    takes Euclidean norms, not bbox sides): a 45° thin sliver whose
    bbox is square still classifies by its true edge lengths."""
    # top edge p0→p1 length √2, right edge p1→p2 length 4√2 → vertical
    rot = [[0, 0], [1, 1], [-3, 5], [-4, 4]]
    df = _quad_vals(spark, SP.quad_is_vertical, [rot])
    assert df == [True]


def test_combine_flags_vectors(spark):
    """Reference test_combile_flags (:159-163): elementwise OR."""
    df = spark.createDataFrame(
        [(True, False), (False, False), (True, True)], "a boolean, b boolean"
    )
    got = [r.o for r in df.select((F.col("a") | F.col("b")).alias("o")).collect()]
    assert got == [True, False, True]
