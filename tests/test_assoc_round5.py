"""Round-5 association/agreement/trend operators: Mood's median,
Page's L, Lin's CCC, Theil's U, Goodman-Kruskal lambda, Stuart tau-c."""

from __future__ import annotations

import math

import pytest

from ultraviolet_spark.operators.stats import (
    gk_lambda,
    lins_ccc,
    mood_median_test,
    page_trend_test,
    stuart_tau_c,
    theil_u,
)

pytestmark = pytest.mark.usefixtures("spark")


# ------------------------------------------------------------- Mood

def _mood_ref(groups):
    ms = sorted(round(v * 1e6) for vs in groups.values() for v in vs)
    n = len(ms)
    m2 = ms[(n + 1) // 2 - 1] + ms[(n + 2) // 2 - 1]
    A = sum(1 for vs in groups.values() for v in vs
            if 2 * round(v * 1e6) > m2)
    chi = 0.0
    for g in sorted(groups):
        vs = groups[g]
        ng = len(vs)
        a = sum(1 for v in vs if 2 * round(v * 1e6) > m2)
        chi += (n * a - ng * A) ** 2 / (n * ng * A)
        chi += ((n * (ng - a) - ng * (n - A)) ** 2
                / (n * ng * (n - A)))
    return m2, A, chi


def _mk_groups(spark, groups):
    rows = [(g, float(v)) for g, vs in groups.items() for v in vs]
    return spark.createDataFrame(rows, "grp string, v double")


def test_mood_matches_reference_and_fires_on_shift(spark):
    base = [float((i * 7) % 13) + 0.25 * (i % 4) for i in range(40)]
    sep = {"a": base, "b": [v + 50.0 for v in base]}
    m2, A, chi = _mood_ref(sep)
    got = mood_median_test(_mk_groups(spark, sep), value_col="v",
                           group_col="grp").head()
    assert (got["median_x2"], got["n_above"]) == (m2, A)
    assert got["chi2"] == pytest.approx(chi, abs=2e-6)
    assert got["chi2"] > 30          # fully separated groups fire
    same = {"a": base, "b": list(base)}
    got = mood_median_test(_mk_groups(spark, same), value_col="v",
                           group_col="grp").head()
    assert got["chi2"] == pytest.approx(0.0, abs=1e-6)


def test_mood_outlier_invariance_and_degenerate(spark):
    """The point of the median test: a wild outlier that stays on its
    side of the pooled median changes NOTHING."""
    g = {"a": [1.0, 2.0, 3.0, 4.0, 5.0],
         "b": [6.0, 7.0, 8.0, 9.0, 10.0]}
    before = mood_median_test(_mk_groups(spark, g), value_col="v",
                              group_col="grp").head()["chi2"]
    g2 = {"a": g["a"], "b": g["b"][:-1] + [1e6]}
    after = mood_median_test(_mk_groups(spark, g2), value_col="v",
                             group_col="grp").head()["chi2"]
    assert before == after
    one = mood_median_test(_mk_groups(spark, {"a": [1.0, 2.0, 3.0]}),
                           value_col="v", group_col="grp").head()
    assert one["chi2"] is None       # k < 2


# ----------------------------------------------------------- Page L

def _mk_blocks(spark, rows):
    return spark.createDataFrame(
        [tuple(float(v) for v in r) for r in rows],
        "x0 double, x1 double, x2 double")


def _page_ref(rows, k=3):
    l2 = 0
    n = len(rows)
    for r in rows:
        ms = [round(v * 1e6) for v in r]
        for j in range(k):
            below = sum(1 for m in ms if m < ms[j])
            tied = sum(1 for m in ms if m == ms[j])
            l2 += (j + 1) * (2 * below + tied + 1)
    num = l2 - n * k * (k + 1) ** 2 // 2
    sd = math.sqrt(n * (k * k * (k + 1) * (k * k - 1)) / 144.0)
    return l2, num / (2 * sd)


def test_page_matches_reference_and_detects_trend(spark):
    rows = [(i % 5, (i % 5) + 1 + (i % 3), (i % 5) + 3 + (i % 2))
            for i in range(30)]
    l2, z = _page_ref(rows)
    got = page_trend_test(_mk_blocks(spark, rows),
                          cols=["x0", "x1", "x2"]).head()
    assert got["l2"] == l2
    assert got["z"] == pytest.approx(z, abs=2e-6)
    assert got["z"] > 4              # monotone trend in every block
    rev = page_trend_test(_mk_blocks(spark, rows),
                          cols=["x2", "x1", "x0"]).head()
    assert rev["z"] == pytest.approx(-got["z"], abs=2e-6)


def test_page_vs_friedman_on_scrambled_order(spark):
    """A consistent but NON-monotone pattern (middle treatment always
    highest): Friedman fires, Page's z stays small — the ordered
    alternative is the whole point."""
    from ultraviolet_spark.operators.stats import friedman_test

    # middle treatment ALWAYS highest; the outer two alternate rank
    # order between blocks, so Page's position-weighted drift cancels
    # exactly while Friedman's per-treatment rank totals still diverge
    rows = [(0.0, 10.0, 0.5) if i % 2 == 0 else (0.5, 10.0, 0.0)
            for i in range(40)]
    fr = friedman_test(_mk_blocks(spark, rows),
                       cols=["x0", "x1", "x2"]).head()
    pg = page_trend_test(_mk_blocks(spark, rows),
                         cols=["x0", "x1", "x2"]).head()
    assert fr["chi2"] > 30
    assert pg["z"] == 0.0


# --------------------------------------------------------- Lin CCC

def test_ccc_identity_scale_shift_and_reference(spark):
    rows = [(float(i), float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "x double, y double")
    assert lins_ccc(df, x_col="x", y_col="y").head()["ccc"] == 1.0
    # y = 2x: Pearson r = 1, CCC well below (scale shift penalized)
    rows2 = [(float(i), 2.0 * i) for i in range(20)]
    df2 = spark.createDataFrame(rows2, "x double, y double")
    ccc = lins_ccc(df2, x_col="x", y_col="y").head()["ccc"]
    assert 0 < ccc < 0.9
    # sequential reference on the same data
    xs = [round(x * 1e6) for x, _ in rows2]
    ys = [round(y * 1e6) for _, y in rows2]
    n = len(xs)
    num = 2 * (n * sum(x * y for x, y in zip(xs, ys))
               - sum(xs) * sum(ys))
    den = (n * sum(x * x for x in xs) - sum(xs) ** 2
           + n * sum(y * y for y in ys) - sum(ys) ** 2
           + (sum(xs) - sum(ys)) ** 2)
    assert ccc == pytest.approx(num / den, abs=2e-6)
    const = spark.createDataFrame([(1.0, 1.0)] * 5, "x double, y double")
    assert lins_ccc(const, x_col="x", y_col="y").head()["ccc"] is None


# --------------------------------------------------------- Theil U

def test_theil_u_deterministic_and_independent(spark):
    # B is a FUNCTION of A -> knowing A removes all of B's entropy
    rows = [(f"a{i % 4}", f"b{(i % 4) * 2}") for i in range(40)]
    df = spark.createDataFrame(rows, "a string, b string")
    got = theil_u(df, a_col="a", b_col="b").head()
    assert got["u_b_given_a"] == pytest.approx(1.0, abs=1e-4)
    assert got["u_a_given_b"] == pytest.approx(1.0, abs=1e-4)
    # exact product structure -> U ~ 0 (both directions)
    rows2 = [(f"a{i % 2}", f"b{j % 3}")
             for i in range(2) for j in range(3) for _ in range(5)]
    df2 = spark.createDataFrame(rows2, "a string, b string")
    got2 = theil_u(df2, a_col="a", b_col="b").head()
    assert abs(got2["u_sym"]) < 1e-4
    # constant column -> NULL for the U it denominates
    rows3 = [("a0", f"b{i % 3}") for i in range(9)]
    df3 = spark.createDataFrame(rows3, "a string, b string")
    got3 = theil_u(df3, a_col="a", b_col="b").head()
    assert got3["u_a_given_b"] is None and got3["h_a_micro"] == 0


def test_theil_u_null_keys_match_q363_oracle(spark):
    import duckdb

    from ultraviolet_spark.queries import REGISTRY

    # NULL-keyed rows are outside the (a, b) table: they must count
    # neither in n nor in any entropy, exactly as the oracle filters
    rows = ([(f"l{i % 3}", f"s{(i * 7) % 4}") for i in range(30)]
            + [(None, "s0"), ("l1", None), (None, None), (None, "s2")])
    df = spark.createDataFrame(rows, "lang string, source string")
    got = theil_u(df, a_col="lang", b_col="source").head().asDict()
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    cur = con.execute(REGISTRY["q363_theil_u"].sql)
    want = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    assert got == want


# ---------------------------------------------------------- lambda

def test_gk_lambda_perfect_zero_and_guards(spark):
    # perfect prediction: every x maps to its own y
    rows = [(f"x{i % 3}", f"y{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "x string, y string")
    got = gk_lambda(df, x_col="x", y_col="y").head()
    assert got["lambda_y_given_x"] == 1.0
    assert got["lambda_x_given_y"] == 1.0
    # real dependence but every conditional mode = marginal mode:
    # lambda exactly 0 while V/U would be positive (the docstring pin)
    rows2 = ([("x0", "y0")] * 6 + [("x0", "y1")] * 1
             + [("x1", "y0")] * 6 + [("x1", "y1")] * 4)
    df2 = spark.createDataFrame(rows2, "x string, y string")
    got2 = gk_lambda(df2, x_col="x", y_col="y").head()
    assert got2["lambda_y_given_x"] == 0.0
    # constant y -> NULL lambda(Y|X)
    rows3 = [(f"x{i % 3}", "y0") for i in range(9)]
    df3 = spark.createDataFrame(rows3, "x string, y string")
    assert gk_lambda(df3, x_col="x", y_col="y") \
        .head()["lambda_y_given_x"] is None


# ----------------------------------------------------------- tau-c

def test_tau_c_rectangular_reaches_one_and_reference(spark):
    # 2x5 strictly monotone table: tau-c reaches exactly 1.0 where
    # tau-b structurally cannot
    rows = [(0, j) for j in range(5) for _ in range(3)] \
        + [(1, j + 5) for j in range(5) for _ in range(3)]
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in rows], "x long, y long")
    got = stuart_tau_c(df, x_col="x", y_col="y").head()
    n, m = got["n"], got["m"]
    assert m == 2
    assert got["tau_c"] == pytest.approx(
        2 * m * (got["c"] - got["d"]) / (n * n * (m - 1)), abs=1e-6)
    assert got["tau_c"] == 1.0
    # reversal negates exactly
    df2 = spark.createDataFrame(
        [(int(x), int(-y)) for x, y in rows], "x long, y long")
    assert stuart_tau_c(df2, x_col="x", y_col="y").head()["tau_c"] \
        == -1.0
    # 1xc table -> NULL
    df3 = spark.createDataFrame([(0, j) for j in range(4)],
                                "x long, y long")
    assert stuart_tau_c(df3, x_col="x", y_col="y").head()["tau_c"] \
        is None


# ----------------------------------------------- Jarque-Bera (r5 #2)

def test_jarque_bera_gaussianish_vs_skewed(spark):
    import random

    from ultraviolet_spark.operators.stats import jarque_bera_by_group

    rng = random.Random(11)
    sym = [sum(rng.random() for _ in range(12)) - 6 for _ in range(800)]
    skw = [rng.expovariate(1.0) for _ in range(800)]
    rows = ([("sym", float(v)) for v in sym]
            + [("skw", float(v)) for v in skw])
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {r["grp"]: r for r in jarque_bera_by_group(
        df, value_col="v", group_col="grp").collect()}
    # Irwin-Hall(12) is near-Gaussian: JB stays at the chi2(2) scale
    assert got["sym"]["jb"] < 12
    # exponential: skew ~2, excess kurt ~6 -> JB enormous
    assert got["skw"]["skew"] > 1.2 and got["skw"]["jb"] > 200
    const = spark.createDataFrame([("c", 2.0)] * 10, "grp string, v double")
    assert jarque_bera_by_group(const, value_col="v",
                                group_col="grp").head()["jb"] is None


def test_jarque_bera_matches_python_reference(spark):
    from ultraviolet_spark.operators.stats import jarque_bera_by_group

    vs = [((i * 17) % 29) + 0.25 * (i % 7) for i in range(200)]
    df = spark.createDataFrame([("a", float(v)) for v in vs],
                               "grp string, v double")
    got = jarque_bera_by_group(df, value_col="v",
                               group_col="grp").head()
    xs = [round(v * 1e2) for v in vs]
    n, s1 = len(xs), sum(xs)
    mu0, r = s1 // n, s1 % n
    d = [x - mu0 for x in xs]
    t1, t2 = sum(d), sum(v * v for v in d)
    t3 = sum(v ** 3 for v in d)
    t4 = sum(v ** 4 for v in d)
    nd, dl = float(n), float(r) / float(n)
    m2 = (t2 - 2.0 * dl * t1 + nd * dl * dl) / nd
    m3 = (t3 - 3.0 * dl * t2 + 3.0 * dl * dl * t1
          - nd * dl ** 3) / nd
    m4 = (t4 - 4.0 * dl * t3 + 6.0 * dl * dl * t2
          - 4.0 * dl ** 3 * t1 + nd * dl ** 4) / nd
    g1 = m3 / (m2 * m2 ** 0.5)
    g2 = m4 / (m2 * m2) - 3.0
    jb = nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    assert got["skew"] == pytest.approx(g1, abs=2e-6)
    assert got["kurt_excess"] == pytest.approx(g2, abs=2e-6)
    assert got["jb"] == pytest.approx(jb, abs=2e-5)


# ---------------------------------------------- Welch ANOVA (r5 #2)

def test_welch_anova_fires_on_shift_not_on_spread(spark):
    from ultraviolet_spark.operators.stats import welch_anova

    base = [float((i * 7) % 13) for i in range(60)]
    shifted = {"a": base, "b": [v + 30.0 for v in base],
               "c": [v * 3 for v in base]}   # unequal variances too
    rows = [(g, v) for g, vs in shifted.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, v double")
    got = welch_anova(df, value_col="v", group_col="grp").head()
    assert got["k"] == 3 and got["f_stat"] > 50
    assert got["df1"] == 2 and got["df2"] > 10
    same = [( "a", v) for v in base] + [("b", v) for v in base]
    got2 = welch_anova(spark.createDataFrame(same, "grp string, v double"),
                       value_col="v", group_col="grp").head()
    assert got2["f_stat"] == pytest.approx(0.0, abs=1e-9)
    # a zero-variance group -> NULL (Welch undefined)
    degen = same + [("c", 5.0), ("c", 5.0)]
    got3 = welch_anova(spark.createDataFrame(degen, "grp string, v double"),
                       value_col="v", group_col="grp").head()
    assert got3["f_stat"] is None


# -------------------------------------------------- BY FDR (r5 #2)

def test_by_more_conservative_than_bh_same_battery(spark):
    from ultraviolet_spark.operators.stats import bh_fdr

    import hashlib

    def pm(uid):
        h = int(hashlib.md5(f"{uid}:p".encode()).hexdigest()[:12], 16)
        p0 = h // 281474977
        sig = int(hashlib.md5(f"{uid}sig".encode()).hexdigest()[:2],
                  16) < 26
        return (p0 // 1000 if sig else p0) / 1e6

    rows = [(f"u{i}", pm(f"u{i}")) for i in range(400)]
    df = spark.createDataFrame(rows, "uid string, p double")
    bh = bh_fdr(df, p_col="p", id_col="uid").toPandas()
    by = bh_fdr(df, p_col="p", id_col="uid",
                yekutieli=True).toPandas()
    n_bh = int(bh["rejected"].sum())
    n_by = int(by["rejected"].sum())
    assert 0 < n_by <= n_bh          # BY pays the dependence tax
    # BY rejections are a PREFIX-subset of BH's (same p ordering)
    rej_bh = set(bh.loc[bh["rejected"], "test_id"])
    rej_by = set(by.loc[by["rejected"], "test_id"])
    assert rej_by <= rej_bh
    # q-values scale by ~c(m) before the cap
    merged = bh.merge(by, on="test_id", suffixes=("_bh", "_by"))
    free = merged[merged["q_value_by"] < 0.9]
    assert (free["q_value_by"] >= free["q_value_bh"]).all()


# ------------------------------------------------ Jain fairness (r5 #3)

def test_jains_fairness_even_vs_monopoly(spark):
    from ultraviolet_spark.operators.stats import jains_fairness

    even = [(f"g{i % 4}",) for i in range(40)]
    df = spark.createDataFrame(even, "g string")
    got = jains_fairness(df, by="g").head()
    assert (got["n_groups"], got["total"]) == (4, 40)
    assert got["fairness"] == 1.0
    mono = [("a",)] * 97 + [("b",), ("c",), ("d",)]
    got2 = jains_fairness(spark.createDataFrame(mono, "g string"),
                          by="g").head()
    # J -> ~(total)^2/(n*sum x^2): heavy monopoly ~ 1/n
    assert got2["fairness"] < 0.3
    # exact reference
    xs = [97, 1, 1, 1]
    want = sum(xs) ** 2 / (4 * sum(x * x for x in xs))
    assert got2["fairness"] == pytest.approx(want, abs=1e-6)


# ---------------------------------------------- decision stump (r5 #3)

def test_decision_stump_finds_planted_threshold(spark):
    from ultraviolet_spark.operators.stats import decision_stump

    # label = 1 iff x > 7: the perfect split is at the largest
    # candidate <= 7 (x <= 7 goes left)
    rows = [(float(i % 20), 1 if (i % 20) > 7 else 0)
            for i in range(200)]
    df = spark.createDataFrame(rows, "x double, y int")
    got = decision_stump(df, feature_col="x", label_expr="y").head()
    assert got["threshold_micro"] == 7_000_000
    assert got["pos_left"] == 0 and got["n_left"] == 80
    # perfect split -> gain == parent entropy (micro-nats)
    import math
    n, p = 200, 120
    h = math.log(n) - (p * math.log(p)
                       + (n - p) * math.log(n - p)) / n
    assert got["gain_micro"] == round(h * 1e6)
    # pure labels -> zero gain at the smallest candidate
    pure = spark.createDataFrame([(float(i), 1) for i in range(10)],
                                 "x double, y int")
    g2 = decision_stump(pure, feature_col="x", label_expr="y").head()
    assert g2["gain_micro"] == 0 and g2["threshold_micro"] == 0


def test_decision_stump_no_data_sized_broadcast(spark):
    """ADVICE: the threshold lookup used to broadcast the candidate frame
    (one row per distinct feature value, ~N rows for a continuous
    feature).  Pin the plan: every broadcast hash join builds on a
    bounded frame (B-row bucket offsets, 1-row max gain, 1-row winner),
    never on a value-keyed one."""
    import re

    from ultraviolet_spark.operators.stats import decision_stump

    rows = [(float(i) + 0.001 * i, i % 3) for i in range(500)]
    df = spark.createDataFrame(rows, "x double, y int")
    plan = decision_stump(df, feature_col="x", label_expr="y")._jdf \
        .queryExecution().executedPlan().toString()
    build_keys = [
        (right if side == "Right" else left)
        for left, right, side in re.findall(
            r"BroadcastHashJoin \[([^\]]*)\], \[([^\]]*)\], \w+, Build(Left|Right)",
            plan)]
    assert build_keys, plan
    assert not [k for k in build_keys
                if re.match(r"(__tv|__v)#", k)], build_keys
    assert [k for k in build_keys if k.startswith("threshold_micro#")], build_keys


# ------------------------------------------------ two-prop z (r5 #3)

def test_two_prop_ztest_direction_clamp_and_reference(spark):
    import math

    from ultraviolet_spark.operators.stats import two_prop_ztest

    rows = ([("a", 1)] * 60 + [("a", 0)] * 40
            + [("b", 1)] * 30 + [("b", 0)] * 70)
    df = spark.createDataFrame(rows, "g string, y int")
    got = two_prop_ztest(df, group_col="g", group_a="a", group_b="b",
                         success_expr="y").head()
    assert (got["n_a"], got["s_a"], got["n_b"], got["s_b"]) \
        == (100, 60, 100, 30)
    # sequential reference with the same continuity correction
    pa, pb, pbar = 0.6, 0.3, 0.45
    cc = 0.5 * (0.01 + 0.01)
    want = (abs(pa - pb) - cc) / math.sqrt(
        pbar * (1 - pbar) * (0.01 + 0.01))
    assert got["z"] == pytest.approx(want, abs=2e-6)
    assert got["z"] > 3
    # swapping arms negates
    rev = two_prop_ztest(df, group_col="g", group_a="b", group_b="a",
                         success_expr="y").head()
    assert rev["z"] == pytest.approx(-got["z"], abs=1e-9)
    # a difference SMALLER than the correction clamps to exactly 0
    tiny = ([("a", 1)] + [("a", 0)] * 99
            + [("b", 1)] + [("b", 0)] * 99)
    g2 = two_prop_ztest(spark.createDataFrame(tiny, "g string, y int"),
                        group_col="g", group_a="a", group_b="b",
                        success_expr="y").head()
    assert g2["z"] == 0.0


# ------------------------------------------------ Cliff delta (r5 #3)

def test_cliffs_delta_separation_overlap_and_reference(spark):
    from ultraviolet_spark.operators.stats import cliffs_delta

    rows = ([("a", float(v)) for v in range(10)]
            + [("b", float(v) + 100) for v in range(10)])
    df = spark.createDataFrame(rows, "g string, v double")
    got = cliffs_delta(df, value_col="v", group_col="g",
                       group_a="a", group_b="b").head()
    assert got["delta"] == -1.0 and got["magnitude"] == "large"
    same = ([("a", float(v % 5)) for v in range(20)]
            + [("b", float(v % 5)) for v in range(20)])
    g2 = cliffs_delta(spark.createDataFrame(same, "g string, v double"),
                      value_col="v", group_col="g",
                      group_a="a", group_b="b").head()
    assert g2["delta"] == 0.0 and g2["magnitude"] == "negligible"
    # hand reference with ties: a = [1,2,2], b = [2,3]
    hand = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)]
    g3 = cliffs_delta(spark.createDataFrame(hand, "g string, v double"),
                      value_col="v", group_col="g",
                      group_a="a", group_b="b").head()
    gt = sum(1 for x in [1, 2, 2] for y in [2, 3] if x > y)
    lt = sum(1 for x in [1, 2, 2] for y in [2, 3] if x < y)
    assert g3["delta"] == pytest.approx((gt - lt) / 6, abs=1e-6)


# --------------------------------------- Wilcoxon signed rank (r5 #4)

def test_wilcoxon_matches_reference_and_contrasts_sign_test(spark):
    from ultraviolet_spark.operators.stats import wilcoxon_signed_rank

    # pairs: mostly tiny positive shifts + a few large negative —
    # the SIGN test sees mostly-positive; Wilcoxon weighs distance
    rows = ([(10.0 + 0.1 * (i + 1), 10.0) for i in range(12)]
            + [(10.0, 20.0 + i) for i in range(4)])
    df = spark.createDataFrame(rows, "x double, y double")
    got = wilcoxon_signed_rank(df, x_col="x", y_col="y").head()
    # sequential reference (midranks over |d|, doubled)
    ds = [round((x - y) * 1e6) for x, y in rows if x != y]
    av = sorted(abs(d) for d in ds)
    import bisect
    w2 = 0
    for d in ds:
        if d > 0:
            lo = bisect.bisect_left(av, abs(d))
            hi = bisect.bisect_right(av, abs(d))
            w2 += lo + hi + 1          # 2*midrank = 2*lo + t + 1
    n = len(ds)
    from collections import Counter
    tie = sum(t ** 3 - t for t in Counter(abs(d) for d in ds).values())
    import math
    z = (w2 - n * (n + 1) // 2) / math.sqrt(
        (2 * n * (n + 1) * (2 * n + 1) - tie) / 12.0)
    assert got["w2_plus"] == w2 and got["n"] == n
    assert got["z"] == pytest.approx(z, abs=2e-6)
    # positives outnumber negatives 3:1, so the SIGN view is strongly
    # positive (z_sign ≈ 1.75 for 12+/4−) — but the negatives are the
    # four LARGEST moves, so distance-weighting tempers Wilcoxon's z
    # well below it (the contrast that is the operator's point)
    import math as _m
    z_sign = (12 - 4 - 1) / _m.sqrt(16)
    assert 0 < got["z"] < z_sign / 2
    # zero differences excluded and counted
    rows2 = rows + [(5.0, 5.0)] * 3
    g2 = wilcoxon_signed_rank(
        spark.createDataFrame(rows2, "x double, y double"),
        x_col="x", y_col="y").head()
    assert g2["n_zero"] == 3 and g2["n"] == n
    assert g2["w2_plus"] == got["w2_plus"]


# ---------------------------------------------- Cohen's h (r5 #4)

def test_cohens_h_reference_and_base_rate_transfer(spark):
    import math

    from ultraviolet_spark.operators.stats import cohens_h

    rows = ([("a", 1)] * 60 + [("a", 0)] * 40
            + [("b", 1)] * 30 + [("b", 0)] * 70)
    df = spark.createDataFrame(rows, "g string, y int")
    got = cohens_h(df, group_col="g", group_a="a", group_b="b",
                   success_expr="y").head()
    want = 2 * math.asin(math.sqrt(0.6)) - 2 * math.asin(math.sqrt(0.3))
    assert got["h"] == pytest.approx(want, abs=2e-6)
    assert got["magnitude"] == "large"
    # the SAME 2x raw ratio near the boundary scores differently:
    # 0.02 vs 0.01 is a tiny h — the arcsine base-rate transfer
    tiny = ([("a", 1)] * 2 + [("a", 0)] * 98
            + [("b", 1)] * 1 + [("b", 0)] * 99)
    g2 = cohens_h(spark.createDataFrame(tiny, "g string, y int"),
                  group_col="g", group_a="a", group_b="b",
                  success_expr="y").head()
    assert abs(g2["h"]) < 0.2 and g2["magnitude"] == "small"


# ------------------------------------------ correlation ratio (r5 #4)

def test_correlation_ratio_bounds_and_reference(spark):
    from ultraviolet_spark.operators.stats import correlation_ratio

    # groups fully determine the value -> eta^2 == 1
    det = [(f"g{i % 3}", float(i % 3) * 10) for i in range(30)]
    df = spark.createDataFrame(det, "g string, v double")
    assert correlation_ratio(df, value_col="v",
                             group_col="g").head()["eta_sq"] == 1.0
    # identical distributions in every group -> eta^2 == 0
    same = [(f"g{i % 3}", float(i % 5)) for i in range(30)]
    g2 = correlation_ratio(spark.createDataFrame(same, "g string, v double"),
                           value_col="v", group_col="g").head()
    assert g2["eta_sq"] == pytest.approx(0.0, abs=1e-9)
    # sequential reference on a mixed case
    rows = [(f"g{i % 2}", float((i * 7) % 13) + 5.0 * (i % 2))
            for i in range(40)]
    g3 = correlation_ratio(spark.createDataFrame(rows, "g string, v double"),
                           value_col="v", group_col="g").head()
    import statistics
    by = {}
    for g, v in rows:
        by.setdefault(g, []).append(round(v * 1e6))
    allv = [v for vs in by.values() for v in vs]
    ssw = sum(sum((v - statistics.fmean(vs)) ** 2 for v in vs)
              for vs in by.values())
    m = statistics.fmean(allv)
    sst = sum((v - m) ** 2 for v in allv)
    assert g3["eta_sq"] == pytest.approx(1 - ssw / sst, abs=2e-6)
    const = spark.createDataFrame([("a", 1.0)] * 5, "g string, v double")
    assert correlation_ratio(const, value_col="v",
                             group_col="g").head()["eta_sq"] is None


# ------------------------------------- periodogram / Rayleigh (r5 #4)

def _mk_ts(spark, rows):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    data = [(g, base + dt.timedelta(seconds=s), float(v))
            for g, s, v in rows]
    return spark.createDataFrame(
        data, "g string, ts timestamp_ntz, v double")


def test_periodogram_daily_clump_vs_flat(spark):
    from ultraviolet_spark.operators.stats import periodogram_power

    # 'day': all weight at the same time-of-day across 10 days -> r2 ~ 1
    day = [("day", 86400 * d + 3600 * 9, 5.0) for d in range(10)]
    # 'flat': weight spread evenly over 24 hours -> r2 ~ 0
    flat = [("flat", 3600 * h, 5.0) for h in range(24)]
    got = {r["g"]: r for r in periodogram_power(
        _mk_ts(spark, day + flat), ts_col="ts", value_col="v",
        group_col="g").collect()}
    assert got["day"]["r2"] > 0.99
    assert got["flat"]["r2"] < 0.01


def test_rayleigh_clumped_vs_uniform(spark):
    from ultraviolet_spark.operators.stats import rayleigh_test

    # midnight-straddling clump (23:30 and 00:30) — the case a LINEAR
    # uniformity test splits in half
    clump = [("c", 86400 * d + (86400 - 1800), 0) for d in range(10)] \
        + [("c", 86400 * d + 1800, 0) for d in range(10)]
    unif = [("u", 3600 * h, 0) for h in range(24)]
    got = {r["g"]: r for r in rayleigh_test(
        _mk_ts(spark, clump + unif), ts_col="ts",
        group_col="g").collect()}
    assert got["c"]["rbar"] > 0.95 and got["c"]["z"] > 15
    assert got["u"]["rbar"] < 0.01


# ------------------------------------------- G-test / Kupiec (r5 #5)

def test_g_test_equals_2n_mi_and_guards(spark):
    import math

    from ultraviolet_spark.operators.stats import g_test

    rows = ([("a", "x")] * 30 + [("a", "y")] * 10
            + [("b", "x")] * 10 + [("b", "y")] * 30)
    df = spark.createDataFrame(rows, "u string, v string")
    got = g_test(df, a_col="u", b_col="v").head()
    assert (got["n"], got["r"], got["c"], got["df"]) == (80, 2, 2, 1)
    # sequential reference with the same snap-before-sum discipline
    core = 0
    for o, ra, ca in [(30, 40, 40), (10, 40, 40),
                      (10, 40, 40), (30, 40, 40)]:
        pmi = round((math.log(80 * o) - math.log(ra * ca)) * 1e6)
        core += o * pmi
    assert got["g_micro"] == 2 * core
    assert got["g"] == pytest.approx(2 * core / 1e6, abs=1e-6)
    # exact independence scores ~0; 1xc table NULL
    ind = [("a", f"v{i % 2}") for i in range(40)]
    g2 = g_test(spark.createDataFrame(ind, "u string, v string"),
                a_col="u", b_col="v").head()
    assert g2["g"] is None


def test_kupiec_on_target_vs_breach(spark):
    import math

    from ultraviolet_spark.operators.stats import kupiec_pof

    # exactly on the promised 5% -> LR == 0
    on = [(1,)] * 5 + [(0,)] * 95
    df = spark.createDataFrame(on, "y int")
    got = kupiec_pof(df, fail_expr="y", p0_num=1, p0_den=20).head()
    assert got["lr"] == pytest.approx(0.0, abs=1e-9)
    # 3x the promised rate fires; matches the sequential reference
    hot = [(1,)] * 15 + [(0,)] * 85
    g2 = kupiec_pof(spark.createDataFrame(hot, "y int"),
                    fail_expr="y", p0_num=1, p0_den=20).head()
    n, x, p0 = 100, 15, 0.05
    lr = 2 * (x * math.log(x / n) + (n - x) * math.log(1 - x / n)
              - x * math.log(p0) - (n - x) * math.log(1 - p0))
    assert g2["lr"] == pytest.approx(lr, abs=2e-6)
    assert g2["lr"] > 10
    # zero failures stays finite (x ln x -> 0 convention)
    none = kupiec_pof(spark.createDataFrame([(0,)] * 50, "y int"),
                      fail_expr="y", p0_num=1, p0_den=20).head()
    assert none["x"] == 0 and none["lr"] is not None
