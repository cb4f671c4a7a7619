"""``operators.core.bounded_panel``: the one collect → kernel → fallback
path of the driver-exact queries.

Every driver-exact query must return row-for-row, bit-for-bit what its
distributed fallback returns. The fallback is forced through one seam,
``operators.core.bounded_panel`` called with a cap of 0, so the test
never imports a query's ``_aNNN_distributed`` twin.
"""

from __future__ import annotations

import datetime
import logging
from pathlib import Path

import pytest

import grouper_spark.operators.core as core
from grouper_spark.queries import load_all

_LOGGER = "grouper_spark.operators.core"

# a191: (v, y-kilodollars) per day, engineered to hit the estimator's
# branches — v repeats (5 twice: den = 0 pairs dropped), one pair with
# slope exactly -1 ((1,10) vs (2,9), excluded), steep negative slopes
# via (3,40)->(4,2) (k_neg > 0), slope ties, and an even residual count
# (mean-of-two intercept)
_A191_PANEL = [
    (1, 10), (2, 9), (3, 40), (4, 2), (5, 12), (5, 30),
    (6, 18), (7, 18), (8, 25), (9, 60), (10, 33), (12, 41),
]
# a208: even n with repeated v (slope ties, mean-of-two medians at every
# level) and odd n (middle-element picks)
_A208_N12 = [3, 7, 7, 2, 9, 9, 4, 11, 3, 8, 10, 5]
_A208_N11 = [5, 1, 6, 6, 2, 8, 4, 9, 7, 3, 12]


def _orders(day_prices):
    """Input maker: orders.parquet with one order per price, one
    calendar day per list in ``day_prices``."""

    def make(spark, sf_dir, tmp_path):
        base = datetime.date(2024, 1, 1)
        rows = []
        for day, prices in enumerate(day_prices):
            d = base + datetime.timedelta(days=day)
            rows += [(len(rows) + k, d, p) for k, p in enumerate(prices)]
        spark.createDataFrame(
            rows, "o_orderkey bigint, o_orderdate date, o_totalprice double"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/orders.parquet"
        )
        return str(tmp_path)

    return make


def _fixture(scale):
    """Input maker: the fixture directory at ``scale``, a sibling of
    the suite's default one."""

    def make(spark, sf_dir, tmp_path):
        return str(Path(sf_dir).with_name(scale))

    return make


# a191 days: v-1 orders of 1000.00 plus one carrying the remainder, so
# the day's (v, revenue in kilodollars) is exactly the _A191_PANEL pair
CASES = [
    pytest.param(
        "a191_passing_bablok",
        _orders(
            [[1000.0] * (v - 1) + [float((yk - v + 1) * 1000)]
             for v, yk in _A191_PANEL]
        ),
        id="a191-panel12",
    ),
    pytest.param(
        "a208_siegel_repeated_medians",
        _orders([[100.0] * v for v in _A208_N12]),
        id="a208-n12",
    ),
    pytest.param(
        "a208_siegel_repeated_medians",
        _orders([[100.0] * v for v in _A208_N11]),
        id="a208-n11",
    ),
] + [
    pytest.param(name, _fixture(scale), id=f"{name[:4]}-{scale}")
    for name in (
        "a440_geometric_median",
        "a448_ipf_raking",
        "a450_lof_panel",
        "a459_kcenter_seeding",
    )
    for scale in ("sf0.001", "sf0.01")
]


def _force_cap(monkeypatch, cap):
    real = core.bounded_panel
    monkeypatch.setattr(
        core,
        "bounded_panel",
        lambda panel_df, _cap, kernel, fallback: real(
            panel_df, cap, kernel, fallback
        ),
    )


def _bits(df):
    # repr of a float is its shortest round-trip form: equal reprs are
    # equal bits, including the sign of zero
    return sorted(repr(tuple(r)) for r in df.collect())


def _records(caplog):
    out = [r for r in caplog.records if r.name == _LOGGER]
    caplog.clear()
    return out


@pytest.mark.parametrize("name, make_dir", CASES)
def test_forced_fallback_bit_identical(
    spark, sf_dir, tmp_path, monkeypatch, caplog, name, make_dir
):
    caplog.set_level(logging.INFO, logger=_LOGGER)
    data_dir = make_dir(spark, sf_dir, tmp_path)
    fn = load_all()[name].fn

    driver = _bits(fn(spark, data_dir))
    (rec,) = _records(caplog)
    assert (rec.path, rec.reason) == ("driver", "within cap")
    assert rec.rows > 0

    _force_cap(monkeypatch, 0)
    fallback = _bits(fn(spark, data_dir))
    (rec,) = _records(caplog)
    assert (rec.path, rec.reason, rec.rows) == ("fallback", "over cap 0", 1)

    assert driver and driver == fallback


@pytest.mark.parametrize("name", ["a493_hits", "a498_absorbing_markov"])
def test_no_fallback_query_raises_above_cap(spark, sf_dir, monkeypatch, name):
    """a493/a498 have no distributed twin: an edge list over the cap
    (3, below the fixture's 20–25 cells) fails loudly."""
    _force_cap(monkeypatch, 3)
    with pytest.raises(ValueError, match=r"over cap 3 \(4 rows collected"):
        load_all()[name].fn(spark, sf_dir)


def test_over_cap_panel_collects_at_most_cap_plus_one(spark, caplog):
    caplog.set_level(logging.INFO, logger=_LOGGER)
    fallback = spark.range(1)

    def kernel(table):
        raise AssertionError("kernel ran on an over-cap panel")

    got = core.bounded_panel(spark.range(1000), 10, kernel, lambda: fallback)
    assert got is fallback
    (rec,) = _records(caplog)
    assert (rec.path, rec.reason, rec.rows) == ("fallback", "over cap 10", 11)


def test_float_id_vector_panel_declines(spark, caplog):
    caplog.set_level(logging.INFO, logger=_LOGGER)
    fallback = spark.range(1)
    float_ids = spark.createDataFrame(
        [(1.5, [1.0, 2.0]), (1.0, [3.0, 4.0])], "id double, v array<double>"
    )

    def driver(ids, X):
        raise AssertionError("float ids reached the kernel")

    kernel = core.vector_kernel(driver)
    got = core.bounded_panel(float_ids, 10, kernel, lambda: fallback)
    assert got is fallback
    (rec,) = _records(caplog)
    assert (rec.path, rec.reason, rec.rows) == ("fallback", "kernel declined", 2)
    assert rec.kernel.endswith("driver")
    with pytest.raises(ValueError, match="kernel declined"):
        core.bounded_panel(float_ids, 10, kernel, None)
