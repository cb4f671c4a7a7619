"""Round-11 optimization-round tests: the vectorized HALF_UP replica
must bit-match the engine form it replaces, and the vector-panel
parser must decline unclean panels."""

from __future__ import annotations

import random

import pytest

from grouper_spark.functions.exact import round0_half_up, round0_half_up_vec
from grouper_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-opt-r11")


def test_round0_half_up_vec_matches_scalar():
    import numpy as np

    rng = random.Random(11)
    vals = [
        0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
        0.49999999999999994, -0.49999999999999994,
        2.4999999999999996, 1.9999999999999998, 0.9999999999999999,
        4503599627370495.5, -4503599627370495.5,  # 2**52 - 0.5
        float(2**52), float(2**53), -float(2**53),
        1e9, 1e12, 123456789.123456789, -987654321.5,
    ]
    vals += [rng.uniform(-1e12, 1e12) for _ in range(5000)]
    vals += [rng.uniform(-5.0, 5.0) for _ in range(5000)]
    # values engineered to sit just off an n.5 boundary
    vals += [k + 0.5 + eps for k in range(-3, 4)
             for eps in (-1e-16, -5e-16, 1e-16, 5e-16)]
    a = np.array(vals, dtype=np.float64)
    got = round0_half_up_vec(a)
    for v, g in zip(vals, got.tolist()):
        assert g == round0_half_up(v), (v, g, round0_half_up(v))


def test_round0_half_up_vec_matches_spark_round(spark):
    """The vector replica must match F.round(double, 0) itself, not
    just the scalar replica (which has its own equivalence proof)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = random.Random(7)
    vals = [rng.uniform(-1e9, 1e9) for _ in range(2000)]
    vals += [rng.uniform(-2.0, 2.0) for _ in range(2000)]
    vals += [0.5, -0.5, 2.5, -2.5, 0.49999999999999994]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [
        r["r"]
        for r in df.select(
            F.round("x", 0).cast("bigint").alias("r")
        ).collect()
    ]
    got_vec = round0_half_up_vec(
        np.array(vals, dtype=np.float64)
    ).tolist()
    assert got_spark == got_vec


def test_collect_vector_panel_guards(spark):
    """NULL vectors, ragged widths, NaN and float ids all return None
    (the kernel declines, so bounded_panel runs the fallback)."""
    from grouper_spark.operators.core import collect_vector_panel

    def parse(rows, schema="id bigint, v array<double>"):
        return collect_vector_panel(
            spark.createDataFrame(rows, schema).toArrow()
        )

    got = parse([(1, [1.0, 2.0]), (2, [3.0, 4.0])])
    assert got is not None
    ids, X = got
    assert ids.tolist() == [1, 2] and X.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    assert parse([(1, [1.0, None])]) is None
    assert parse([(1, [1.0, 2.0]), (2, [3.0])]) is None  # ragged
    assert parse([(1, [float("nan"), 2.0])]) is None
    # float ids would truncate through astype(int64) and alias 1.5 with 1
    assert parse(
        [(1.5, [1.0, 2.0]), (1.0, [3.0, 4.0])], "id double, v array<double>"
    ) is None
