"""Siegel repeated-medians slope (operators/stats.siegel_slope_by_key)."""

from __future__ import annotations

import pytest

from ultraviolet_spark.operators.stats import (siegel_slope_by_key,
                                               theil_sen_by_key)

pytestmark = pytest.mark.usefixtures("spark")


def _mk(spark, series):
    rows = [(k, i, float(x), float(y)) for k, pts in series.items()
            for i, (x, y) in enumerate(pts)]
    return spark.createDataFrame(
        rows, "k string, tb long, x double, y double")


def _ref(pts):
    xm = [round(x * 1e6) for x, _ in pts]
    ym = [round(y * 1e6) for _, y in pts]
    n = len(pts)

    def med(vals):
        vals = sorted(vals)
        m = len(vals)
        k1, k2 = (m + 1) // 2, (m + 2) // 2
        s = vals[k1 - 1] + vals[k2 - 1]
        return int(s / 2)  # truncating mean of the two middles

    inner = []
    for i in range(n):
        sl = [round((ym[j] - ym[i]) * 1e6 / (xm[j] - xm[i]))
              for j in range(n) if j != i and xm[j] != xm[i]]
        if sl:
            inner.append(med(sl))
    return med(inner) if inner else None


def test_matches_sequential_reference(spark):
    pts = [(float(i), 2.0 * i + ((i * 7) % 5) * 0.3) for i in range(15)]
    got = siegel_slope_by_key(_mk(spark, {"a": pts}), by="k",
                              x_col="x", y_col="y",
                              tiebreak_col="tb").head()
    assert got["slope_micro"] == _ref(pts)
    assert got["n"] == 15 and got["n_anchors"] == 15


def test_survives_40pct_outliers_where_theil_sen_breaks(spark):
    # 60% of points on slope 2, a coordinated 40% burst on slope 50:
    # Theil-Sen (29.3% breakdown) is dragged far off; repeated
    # medians (50%) stays on the inlier slope.
    inlier = [(float(i), 2.0 * i) for i in range(12)]
    burst = [(100.0 + i, 50.0 * (100.0 + i) - 4000.0) for i in range(8)]
    pts = inlier + burst
    df = _mk(spark, {"a": pts})
    sieg = siegel_slope_by_key(df, by="k", x_col="x", y_col="y",
                               tiebreak_col="tb").head()["slope_micro"]
    ts = theil_sen_by_key(df, by="k", x_col="x",
                          y_col="y").head()["slope_micro"]
    assert abs(sieg / 1e6 - 2.0) < 0.7
    assert ts / 1e6 > 5.0   # Theil-Sen dragged toward the burst


def test_same_x_pairs_excluded_and_degenerate_null(spark):
    # all x equal: no valid pair anywhere -> NULL slope, 0 anchors
    const = [(1.0, float(i)) for i in range(6)]
    got = siegel_slope_by_key(_mk(spark, {"c": const}), by="k",
                              x_col="x", y_col="y",
                              tiebreak_col="tb").head()
    assert got["slope_micro"] is None and got["n_anchors"] == 0


def test_middle_sums_past_bigint_stay_exact(spark):
    # x one micro-unit apart, y 5e12 micro-units apart: every pair's
    # micro-slope is 5e18, so the sum of the two middles is 1e19, past
    # BIGINT's 9.2e18 (key "in": even inner count n-1 = 2; key "out":
    # even outer count of 4 anchors).  The mean itself fits a long.
    series = {
        "in": [(i * 1e-6, i * 5e6) for i in range(3)],
        "out": [(i * 1e-6, i * 5e6) for i in range(4)],
    }
    got = siegel_slope_by_key(_mk(spark, series), by="k", x_col="x",
                              y_col="y", tiebreak_col="tb").collect()
    got = {r["k"]: r["slope_micro"] for r in got}
    assert got == {k: _ref(pts) for k, pts in series.items()}
    assert got["in"] == got["out"] == 5 * 10**18
