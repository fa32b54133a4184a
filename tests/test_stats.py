"""Independent validation of the pure-Python statistical primitives.

The t CDF backs both the engine's merge scorer and the scipy shim the
reference oracle imports, so it must be validated against sources that do
NOT go through our own code: closed forms for df=1 (Cauchy) and df=2, the
normal limit for large df, and hand-computed WoE values from the reference's
own test fixture (/root/reference/tests/test_utils.py:270-277).
"""

import math

import numpy as np
import pytest

from monotonic_optimal_binning_spark.core.stats import (
    betainc_reg,
    norm_cdf,
    pearson_corr,
    t_cdf,
    welch_two_tailed_pvalue,
    woe_iv,
)


class TestTCdf:
    def test_symmetry_and_center(self):
        for df in (1, 2, 5, 30, 1000):
            assert t_cdf(0.0, df) == pytest.approx(0.5, abs=1e-12)
            for x in (0.3, 1.0, 2.5, 7.0):
                assert t_cdf(x, df) + t_cdf(-x, df) == pytest.approx(1.0, abs=1e-12)

    def test_df1_is_cauchy(self):
        # t(df=1) == Cauchy: cdf(x) = 1/2 + atan(x)/pi
        for x in (-5.0, -1.0, -0.2, 0.7, 3.0, 10.0):
            expected = 0.5 + math.atan(x) / math.pi
            assert t_cdf(x, 1) == pytest.approx(expected, abs=1e-12)

    def test_df2_closed_form(self):
        # t(df=2): cdf(x) = 1/2 + x / (2*sqrt(2 + x^2))
        for x in (-4.0, -1.5, 0.5, 2.0, 6.0):
            expected = 0.5 + x / (2.0 * math.sqrt(2.0 + x * x))
            assert t_cdf(x, 2) == pytest.approx(expected, abs=1e-12)

    def test_large_df_approaches_normal(self):
        for x in (-2.0, -0.5, 1.0, 1.96):
            assert t_cdf(x, 1e7) == pytest.approx(norm_cdf(x), abs=1e-6)

    def test_norm_cdf_known_values(self):
        assert norm_cdf(0.0) == pytest.approx(0.5, abs=1e-15)
        assert norm_cdf(1.959963984540054) == pytest.approx(0.975, abs=1e-12)
        assert norm_cdf(-1.6448536269514722) == pytest.approx(0.05, abs=1e-12)

    def test_betainc_bounds(self):
        assert betainc_reg(2.0, 3.0, 0.0) == 0.0
        assert betainc_reg(2.0, 3.0, 1.0) == 1.0
        # I_x(1,1) = x (uniform)
        for x in (0.1, 0.5, 0.9):
            assert betainc_reg(1.0, 1.0, x) == pytest.approx(x, abs=1e-12)

    def test_welch_pvalue_range(self):
        assert welch_two_tailed_pvalue(0.0, 10) == pytest.approx(1.0, abs=1e-12)
        assert welch_two_tailed_pvalue(100.0, 10) < 1e-10
        p = welch_two_tailed_pvalue(2.0, 20)
        assert 0.05 < p < 0.07  # 2*(1 - t.cdf(2, 20)) ≈ 0.0593


class TestWoeIv:
    def test_reference_fixture_values(self):
        # goods=[80,60,40], bads=[20,40,60], smoothing=0.5: hand-computed
        goods = np.array([80.0, 60.0, 40.0])
        bads = np.array([20.0, 40.0, 60.0])
        woe, iv = woe_iv(goods, bads, smoothing=0.5)
        g_rate = (goods + 0.5) / (180.0 + 1.5)
        b_rate = (bads + 0.5) / (120.0 + 1.5)
        np.testing.assert_allclose(woe, np.log(g_rate / b_rate), rtol=1e-12)
        np.testing.assert_allclose(iv, (g_rate - b_rate) * woe, rtol=1e-12)

    def test_degenerate_all_good(self):
        woe, iv = woe_iv(np.array([10.0, 20.0]), np.array([0.0, 0.0]))
        assert (woe == 0).all() and (iv == 0).all()

    def test_zero_cell_smoothing(self):
        woe, iv = woe_iv(np.array([0.0, 100.0]), np.array([50.0, 50.0]))
        assert np.isfinite(woe).all() and np.isfinite(iv).all()

    def test_matches_reference_implementation(self):
        ref_woe_iv = pytest.importorskip("MOBPY.core.utils").woe_iv

        rng = np.random.default_rng(7)
        goods = rng.integers(0, 500, size=8).astype(float)
        bads = rng.integers(0, 300, size=8).astype(float)
        woe, iv = woe_iv(goods, bads, smoothing=0.5)
        ref_w, ref_i = ref_woe_iv(goods, bads, smoothing=0.5)
        np.testing.assert_allclose(woe, ref_w, rtol=1e-12)
        np.testing.assert_allclose(iv, ref_i, rtol=1e-12)


class TestPearson:
    def test_matches_pandas(self):
        import pandas as pd

        rng = np.random.default_rng(3)
        x = rng.normal(size=50)
        y = 2 * x + rng.normal(size=50)
        expected = pd.Series(x).corr(pd.Series(y))
        assert pearson_corr(x, y) == pytest.approx(expected, abs=1e-12)

    def test_guards(self):
        assert pearson_corr(np.array([1.0]), np.array([2.0])) == 0.0
        assert pearson_corr(np.array([1.0, 1.0]), np.array([2.0, 3.0])) == 0.0
        assert (
            pearson_corr(np.array([1.0, np.nan]), np.array([2.0, 3.0])) == 0.0
        )
