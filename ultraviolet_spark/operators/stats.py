"""Table/column statistics collection — the ANALYZE step that feeds
cost-based decisions (broadcast-vs-shuffle thresholds, skew salt
factors, partition sizing).  One pass over the table produces a tall
``(column, n, n_null, n_distinct, min_str, max_str)`` stats table; the
exact NDV uses count(DISTINCT) per column in a single multi-aggregate
(Spark plans one Expand + partial aggs — one shuffle total), which is
the right call up to ~10^9 distinct values per column; beyond that,
swap in the mergeable HLL register table (operators.sketches) that the
engine already ships.

min/max are reported as strings so one stats table covers every column
type losslessly for pruning decisions (numeric callers cast back).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def d38(c: Column) -> Column:
    """Exact-integer arithmetic: cast to DECIMAL(38,0) before products
    and sums that can leave the int64 range."""
    return c.cast("decimal(38,0)")


def nz(den: Column) -> Column:
    """``den``, or NULL where it is 0 (SQL ``NULLIF(den, 0)``), so a
    degenerate ratio comes out NULL instead of raising."""
    return F.when(den != 0, den)


def table_stats(df: DataFrame, *, cols: list[str] | None = None) -> DataFrame:
    """Tall exact stats table for ``cols`` (default: all columns)."""
    cols = list(df.columns) if cols is None else list(cols)
    if not cols:
        raise ValueError("no columns to profile")
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"__cnt_{c}"),
            F.count(F.when(col.isNull(), 1)).alias(f"__null_{c}"),
            F.countDistinct(col).alias(f"__ndv_{c}"),
            F.min(col).cast("string").alias(f"__min_{c}"),
            F.max(col).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            (F.col(f"__cnt_{c}") + F.col(f"__null_{c}")).alias("n"),
            F.col(f"__null_{c}").alias("n_null"),
            F.col(f"__ndv_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_str"),
            F.col(f"__max_{c}").alias("max_str"),
        ) for c in cols])
    return (one.select(F.explode(rows).alias("s"))
            .select("s.column", F.col("s.n").cast("long").alias("n"),
                    F.col("s.n_null").cast("long").alias("n_null"),
                    F.col("s.n_distinct").cast("long").alias("n_distinct"),
                    "s.min_str", "s.max_str"))


def join_cardinality(a: DataFrame, b: DataFrame, *, a_key: str,
                     b_key: str | None = None) -> DataFrame:
    """Exact inner-equi-join output size WITHOUT running the join:
    Σ over matching keys of count_a(k)·count_b(k), plus the per-side
    distinct/match breakdowns a planner wants before choosing
    broadcast vs shuffle vs salting (a huge ``sum_products`` with few
    ``matching_keys`` = a skewed join that needs salting).

    Cost: two partial-aggregated count shuffles (∝ distinct keys, not
    rows) and a join of the two count tables — orders cheaper than the
    join it predicts."""
    b_key = a_key if b_key is None else b_key
    ca = a.groupBy(F.col(a_key).alias("__k")).agg(
        F.count("*").alias("__ca"))
    cb = b.groupBy(F.col(b_key).alias("__k")).agg(
        F.count("*").alias("__cb"))
    j = ca.join(cb, "__k")
    return j.agg(
        F.coalesce(F.sum(F.col("__ca") * F.col("__cb")), F.lit(0))
         .cast("long").alias("join_rows"),
        F.count("*").cast("long").alias("matching_keys"),
        F.coalesce(F.max(F.col("__ca") * F.col("__cb")), F.lit(0))
         .cast("long").alias("max_key_rows"))


def zipf_fit(docs: DataFrame, *, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Zipf power-law fit of the corpus token-frequency distribution:
    least-squares slope of ``ln(freq)`` on ``ln(rank)`` (frequency-desc
    rank, token as deterministic tie-break).  A healthy natural-language
    corpus sits near slope −1 (Zipf 1949); strong deviation is a
    corpus-quality signal (boilerplate floods flatten the head,
    dedup failures fatten individual ranks).

    Returns one row: ``(n_vocab, n_tokens, zipf_slope, zipf_r2)``.

    The slope is computed from the five explicit sums
    (n, Σx, Σy, Σxy, Σx²) so the oracle can replay the identical
    formula; both sides round to 6.

    Scale notes: the only corpus-sized work is the token-count groupBy
    (one partial-agg shuffle).  Ranking and regression run on the
    AGGREGATED vocabulary table, which is bounded by distinct-token
    count — the same post-agg global-sort regime as top-k; the final
    reduction is a single-row aggregate.
    """
    from pyspark.sql import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    freq = (docs.filter(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.explode(toks).alias("__t"))
            .filter(F.col("__t") != "")
            .groupBy("__t").agg(F.count("*").alias("__f")))
    w = Window.orderBy(F.col("__f").desc(), F.col("__t"))
    xy = (freq.withColumn("__r", F.row_number().over(w))
          .select(F.log(F.col("__r").cast("double")).alias("__x"),
                  F.log(F.col("__f").cast("double")).alias("__y"),
                  "__f"))
    agg = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("__x").alias("sx"), F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("syy"),
        F.sum("__f").cast("long").alias("n_tokens"))
    num = agg["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = agg["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = agg["n"] * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        F.col("n").cast("long").alias("n_vocab"),
        F.col("n_tokens"),
        F.round(num / dx, 6).alias("zipf_slope"),
        F.round(F.when(dy > 0, num * num / (dx * dy))
                 .otherwise(F.lit(1.0)), 6).alias("zipf_r2"))


def mad_outliers(df: DataFrame, *, value_col: str, by: str,
                 k: float = 3.0) -> DataFrame:
    """Robust per-group outlier accounting via median absolute
    deviation: ``(group, n, med, mad, n_outliers)`` where an outlier is
    ``|x − med| > k·mad`` (no normal-consistency constant — k is the
    caller's knob).  Median/MAD use EXACT linear-interpolated
    percentiles, which both engines define identically.

    The threshold compares against the ROUNDED med/mad (6 places) on
    both sides, so the oracle's count can never flip on a last-ULP
    difference in the interpolation — the q79 lesson.

    Scale notes: exact percentiles need the group's values on one
    reducer (Spark's percentile is a typed-imperative aggregate) — the
    right call while groups fit a task (10^7 rows/group is fine); beyond
    that swap in approx_percentile with documented error, same shape.
    Two aggregations over the same ``by`` hash exchange (med first, MAD
    of residuals second) + a broadcast join back.
    """
    v = F.col(value_col).cast("double")
    med = (df.groupBy(by)
           .agg(F.round(F.percentile(v, F.lit(0.5)), 6).alias("med")))
    j = df.join(F.broadcast(med), by)
    res = F.abs(F.col(value_col).cast("double") - F.col("med"))
    out = (j.groupBy(by, "med")
           .agg(F.count("*").cast("long").alias("n"),
                F.round(F.percentile(res, F.lit(0.5)), 6).alias("mad")))
    j2 = df.join(F.broadcast(out), by)
    flag = (F.abs(F.col(value_col).cast("double") - F.col("med"))
            > F.lit(float(k)) * F.col("mad")).cast("long")
    return (j2.groupBy(by, "n", "med", "mad")
            .agg(F.sum(flag).alias("n_outliers"))
            .select(F.col(by), "n", "med", "mad", "n_outliers"))


def psi_drift(ref: DataFrame, cur: DataFrame, *, value_col: str,
              bins: int = 10) -> DataFrame:
    """Population Stability Index per decile bin — the standard
    feature-drift monitor between a reference window (training-time
    distribution) and a current window.  Bins are the reference's exact
    interpolated quantiles (boundaries rounded to 6, the q168 policy);
    counts are +1-smoothed so empty current-side bins stay finite.

    Returns one row per bin: ``(bin_idx, ref_n, cur_n, psi_term)``
    where ``psi_term = (p−q)·ln(p/q)`` with the smoothed proportions.
    Per-bin terms round to 12 places: the integer-derived arithmetic is
    bit-identical cross-engine, but ln() is a transcendental whose last
    ULP differs between the JVM and libm (found at sf0.01) — and with
    |term| ≤ 1e-1 a 1e-12 grid sits ~6 orders above double ULP, so the
    rounding itself cannot tie-flip (unlike round(6) at 1e8 magnitude,
    the q169 lesson).  No cross-row float sum — callers sum the terms
    client-side for the headline PSI.

    Scale notes: the boundary frame is one 1-row aggregate broadcast-
    cross-joined to both sides (whitelisted scalar-propagation shape);
    binning is a scan-stage array fold; each side contributes one
    partial-agg groupBy.
    """
    fracs = [i / bins for i in range(1, bins)]
    b = ref.agg(F.transform(
        F.percentile(F.col(value_col).cast("double"),
                     F.array(*[F.lit(f) for f in fracs])),
        lambda x: F.round(x, 6)).alias("__b"))

    def binned(df: DataFrame) -> DataFrame:
        x = F.col(value_col).cast("double")
        idx = F.aggregate(
            F.col("__b"), F.lit(1),
            lambda acc, bd: acc + (x > bd).cast("int"))
        return (df.crossJoin(F.broadcast(b))
                .select(idx.alias("bin_idx"))
                .groupBy("bin_idx").agg(F.count("*").alias("n")))

    r = binned(ref).withColumnRenamed("n", "ref_n")
    c = binned(cur).withColumnRenamed("n", "cur_n")
    tot = (r.agg(F.sum("ref_n").alias("rt"))
           .crossJoin(c.agg(F.sum("cur_n").alias("ct"))))
    j = (r.join(c, "bin_idx", "left")
         .withColumn("cur_n", F.coalesce("cur_n", F.lit(0)))
         .crossJoin(F.broadcast(tot)))
    p = (F.col("ref_n") + 1).cast("double") / (F.col("rt") + bins)
    qq = (F.col("cur_n") + 1).cast("double") / (F.col("ct") + bins)
    return j.select(
        "bin_idx", F.col("ref_n").cast("long").alias("ref_n"),
        F.col("cur_n").cast("long").alias("cur_n"),
        F.round((p - qq) * F.log(p / qq), 12).alias("psi_term"))


def benford_digits(df: DataFrame, *, value_col: str) -> DataFrame:
    """Benford's-law first-significant-digit audit — the classic
    fabricated-numbers / data-quality screen for positive measures
    (prices, populations, counts): observed count per leading digit vs
    the Benford expectation ``n·log10(1 + 1/d)``, with the per-digit
    chi-square contribution.

    Returns ``(digit, n_obs, expected, chi2_term)`` for d = 1..9
    (digits with zero observations included).  Rounded to 6 — the
    expectation is transcendental (log10), whose last ULP differs
    across engines, and magnitudes here are modest so a 1e-6 grid is
    safe (q175 reasoning).  Non-positive values are excluded.

    One partial-agg groupBy on a 9-value key; the digit extraction is
    scan-stage arithmetic (floor(x / 10^floor(log10 x))).
    """
    x = F.col(value_col).cast("double")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))) \
        .cast("int")
    obs = (df.filter(x > 0)
           .select(digit.alias("digit"))
           .groupBy("digit").agg(F.count("*").cast("long").alias("n_obs")))
    spark = df.sparkSession
    digits = spark.range(1, 10).select(F.col("id").cast("int")
                                       .alias("digit"))
    tot = obs.agg(F.sum("n_obs").alias("__n"))
    j = (digits.join(obs, "digit", "left")
         .withColumn("n_obs", F.coalesce("n_obs", F.lit(0)))
         .crossJoin(F.broadcast(tot)))
    exp = F.col("__n") * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return j.select(
        "digit", F.col("n_obs").cast("long").alias("n_obs"),
        F.round(exp, 6).alias("expected"),
        F.round(F.pow(F.col("n_obs") - exp, F.lit(2.0)) / exp, 6)
        .alias("chi2_term"))


def weighted_median(df: DataFrame, *, value_col: str, weight_col: str,
                    by: str) -> DataFrame:
    """Exact per-group LOWER weighted median: the smallest value v
    with cumulative weight(≤v) ≥ ⌈W/2⌉, i.e. ``2·cum ≥ W`` in pure
    integer arithmetic — no interpolation, no float weight sums, so
    the pick is bit-identical cross-engine for integer weights.

    Equal values are merged FIRST (one partial-agg shuffle on
    (group, value) — map-side combine takes the sting out of repeated
    values), then one cumulative window runs over the per-group
    DISTINCT-value table only, and one min-of-struct aggregate picks
    the crossing value — the full rows never sort globally.  Returns
    ``(by, w_total, weighted_median)``.
    """
    from pyspark.sql import Window

    w = F.col(weight_col).cast("long")
    per_v = (df.groupBy(F.col(by).alias(by), F.col(value_col).alias("__v"))
             .agg(F.sum(w).alias("__w")))
    win = (Window.partitionBy(by).orderBy("__v")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = Window.partitionBy(by)
    cum = per_v.select(
        by, "__v",
        F.sum("__w").over(win).alias("__cum"),
        F.sum("__w").over(tot).alias("__W"))
    hit = cum.filter(2 * F.col("__cum") >= F.col("__W"))
    return (hit.groupBy(by)
            .agg(F.max("__W").cast("long").alias("w_total"),
                 F.min("__v").alias("weighted_median")))


def chi2_feature_selection(docs: DataFrame, *, label_col: str,
                           text_col: str = "text", top_k: int = 50,
                           min_df: int = 2) -> DataFrame:
    """Top-k tokens by chi-squared association with a binary label —
    the classic supervised feature-selection pass before training a
    text classifier (and, inverted, a leakage detector: a token whose
    chi² is near N perfectly encodes the label).

    Per token t the 2×2 presence contingency (A = positive docs
    containing t, B = negative containing, C = positive lacking,
    D = negative lacking) is built from EXACT int64 sufficient
    statistics; χ² = N·(AD−BC)² / ((A+B)(C+D)(A+C)(B+D)) is emitted in
    a fixed IEEE op sequence over those integers, so both engines land
    the identical double.  Degenerate tokens (present in every doc —
    a zero margin) get NULL, not a division crash.  ``min_df`` prunes
    the hapax tail before ranking; ties rank by token ascending.

    Scale: doc-distinct tokenization → one (token) partial-agg shuffle;
    the corpus totals are a 1-row broadcast; ranking is a global top-k
    (TakeOrdered, no full sort).  Int64 is exact for N·(AD−BC)² up to
    N ≈ 6·10⁹ docs; past that the counts still fit and only the final
    double expression loses ulps, which is the right failure mode.
    """
    y = F.col(label_col).cast("long")
    base = docs.select(y.alias("__y"),
                       F.explode(F.array_distinct(F.split(
                           F.lower(F.trim(F.col(text_col))),
                           r"\s+"))).alias("token"))
    base = base.filter(F.col("token") != "")
    per_tok = (base.groupBy("token")
               .agg(F.sum("__y").cast("long").alias("a"),
                    (F.count("*") - F.sum("__y")).cast("long").alias("b")))
    totals = docs.agg(F.count("*").cast("long").alias("__n"),
                      F.sum(y).cast("long").alias("__p"))
    j = per_tok.crossJoin(F.broadcast(totals))
    a, b = F.col("a"), F.col("b")
    c = (F.col("__p") - a).alias("c")
    d = (F.col("__n") - F.col("__p") - b).alias("d")
    j = j.select("token", a, b, c, d, F.col("__n"))
    # (AD−BC) is exact int64 (|AD| ≤ N²/4, safe to N ≈ 6·10⁹); square it
    # as double·double — a single correctly-rounded IEEE multiply — NOT
    # pow(x, 2), which is not guaranteed correctly rounded and differs
    # across libm implementations in the last ulp.
    diff = (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
    num = F.col("__n").cast("double") * (diff * diff)
    den = ((F.col("a") + F.col("b")) * (F.col("c") + F.col("d"))
           * (F.col("a") + F.col("c"))
           * (F.col("b") + F.col("d"))).cast("double")
    out = (j.filter(F.col("a") + F.col("b") >= min_df)
           .withColumn("chi2", F.when(den > 0, num / den))
           .select("token", "a", "b", "c", "d", "chi2"))
    return (out.orderBy(F.col("chi2").desc_nulls_last(),
                        F.col("token").asc())
            .limit(top_k))


def acf_by_key(df: DataFrame, *, key_col: str, order_col: str,
               value_col: str, tiebreak_col: str,
               max_lag: int = 3) -> DataFrame:
    """Sample autocorrelation r(l), l = 1..max_lag, per key over an
    ordered integer series — the periodicity / burstiness probe for
    per-entity time series (recrawl scheduling: is a site's update
    signal self-correlated at lag 1?).

    Works entirely on exact int64 sufficient statistics: per key one
    window pass computes the lagged products P_l = Σ xₜ·xₜ₊ₗ and the
    pair-boundary sums Saₗ = Σ xₜ (pairs' left ends) / Sbₗ = Σ xₜ₊ₗ
    (right ends); the biased-estimator ACF then clears its mean terms
    by multiplying through by n²:

        r(l) = (n²Pₗ − nS(Saₗ+Sbₗ) + (n−l)S²)  /  (n(nS2 − S²))

    — integer numerator and denominator, one final IEEE division, so
    the result is independent of partitioning and aggregation order and
    bit-identical cross-engine.  ``value_col`` must already be an exact
    integer (convert currency/doubles to cents/micros upstream);
    constant series (den = 0) yield NULL, lags ≥ series length are not
    emitted.  Ordering ties break on ``tiebreak_col`` — REQUIRED, an
    ambiguous order would make P_l partitioning-dependent.

    Scale: ONE key-partitioned sort-window exchange computes all lags
    (lead(x, l) shares the frame), and the groupBy that follows reuses
    the same hash partitioning — no second shuffle.  int64 is exact up
    to n·S·(Sa+Sb) ≈ 8·10¹² at n = 10⁴ events of 2·10³ units each;
    overflow scale is documented, not silently wrapped, by Spark's
    ANSI-off long semantics — callers at extreme n should pre-scale.
    """
    from pyspark.sql import Window

    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    w = Window.partitionBy(key_col).orderBy(
        F.col(order_col).asc(), F.col(tiebreak_col).asc())
    x = F.col(value_col).cast("long")
    cols = [F.col(key_col).alias("__k"), x.alias("__x")]
    for lag in range(1, max_lag + 1):
        cols.append(F.lead(x, lag).over(w).alias(f"__x{lag}"))
    base = df.select(*cols)
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum("__x").cast("long").alias("s"),
            F.sum(F.col("__x") * F.col("__x")).cast("long").alias("s2")]
    for lag in range(1, max_lag + 1):
        xl = F.col(f"__x{lag}")
        aggs += [
            F.sum(F.col("__x") * xl).cast("long").alias(f"p{lag}"),
            F.sum(F.when(xl.isNotNull(), F.col("__x")))
             .cast("long").alias(f"sa{lag}"),
            F.sum(xl).cast("long").alias(f"sb{lag}")]
    g = base.groupBy("__k").agg(*aggs)
    n, s, s2 = F.col("n"), F.col("s"), F.col("s2")
    per_lag = []
    for lag in range(1, max_lag + 1):
        p = F.coalesce(F.col(f"p{lag}"), F.lit(0))
        sa = F.coalesce(F.col(f"sa{lag}"), F.lit(0))
        sb = F.coalesce(F.col(f"sb{lag}"), F.lit(0))
        num = n * n * p - n * s * (sa + sb) + (n - lag) * s * s
        den = n * (n * s2 - s * s)
        per_lag.append(F.struct(
            F.lit(lag).cast("long").alias("lag"),
            num.cast("long").alias("acf_num"),
            den.cast("long").alias("acf_den")))
    out = (g.select("__k", "n",
                    F.explode(F.array(*per_lag)).alias("__l"))
           .select(F.col("__k").alias(key_col), "n",
                   F.col("__l.lag").alias("lag"),
                   F.col("__l.acf_num").alias("acf_num"),
                   F.col("__l.acf_den").alias("acf_den"))
           .filter(F.col("lag") < F.col("n")))
    return out.withColumn(
        "acf",
        F.when(F.col("acf_den") > 0,
               F.col("acf_num").cast("double")
               / F.col("acf_den").cast("double")))


def ols_trend_by_key(df: DataFrame, *, key_col: str, x_col: str,
                     y_col: str) -> DataFrame:
    """Per-key ordinary-least-squares trend over integer (x, y) pairs —
    the is-this-domain-growing / is-quality-drifting slope, computed
    from the five exact int64 sufficient sums (n, Σx, Σy, Σxy, Σx²,
    plus Σy² for r²):

        slope_num = n·Σxy − Σx·Σy        slope_den = n·Σx² − (Σx)²
        slope     = slope_num / slope_den     (one IEEE division)
        r²        = slope_num² / (slope_den · (n·Σy² − (Σy)²))

    Integer all the way to the final divisions ⇒ order- and
    partitioning-independent, replayable in plain SQL.  x is re-based
    per key (x − min x) FIRST: with raw epoch-day x ≈ 2·10⁴ the n·Σxy
    product nears int64 at a few 10⁵ points/key, re-based it is exact
    to ~10⁹ points/key.  Re-basing shifts the intercept, never the
    slope or r².  Keys with a single point or constant x (slope_den
    = 0) and constant y (r² 0/0) yield NULL.

    Scale: the min(x) re-base is a window over the key partition and
    the sufficient-statistics groupBy hashes on the same key, so both
    share ONE exchange; everything after is per-key arithmetic on a
    keys-sized table.
    """
    from pyspark.sql import Window

    x = F.col(x_col).cast("long")
    xb = (x - F.min(x).over(Window.partitionBy(key_col))).alias("__x")
    y = F.col(y_col).cast("long")
    base = df.select(F.col(key_col), xb, y.alias("__y"))
    g = base.groupBy(key_col).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__x").cast("long").alias("sx"),
        F.sum("__y").cast("long").alias("sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("long").alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("long").alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).alias("slope_num")
    den = (n * F.col("sxx") - sx * sx).alias("slope_den")
    dy = n * F.col("syy") - sy * sy
    out = g.select(key_col, "n", num, den, dy.alias("__dy"))
    return (out.withColumn(
        "slope",
        F.when(F.col("slope_den") > 0,
               F.col("slope_num").cast("double")
               / F.col("slope_den").cast("double")))
        .withColumn(
        "r2",
        F.when((F.col("slope_den") > 0) & (F.col("__dy") > 0),
               (F.col("slope_num").cast("double")
                * F.col("slope_num").cast("double"))
               / (F.col("slope_den").cast("double")
                  * F.col("__dy").cast("double"))))
        .drop("__dy"))


def inter_event_regularity(events: DataFrame, *, key_col: str,
                           ts_col: str, tiebreak_col: str,
                           min_gaps: int = 5,
                           cv2_threshold_tenths: int = 1) -> DataFrame:
    """Bot-likeness via inter-event timing regularity: humans burst,
    schedulers tick.  Per key, the coefficient of variation of the
    inter-event gaps CV² = (n·Σg² − (Σg)²)/(Σg)² is computed entirely
    from int64 sufficient statistics (gaps in whole seconds, exact
    epoch arithmetic), and the ``is_regular`` boundary is the integer
    cross-multiplication ``cv2_num·10 < cv2_den·threshold_tenths`` —
    no float ever decides classification.  Sparse keys (< ``min_gaps``
    gaps) and zero-span histories (all events at one instant, Σg = 0)
    never flag: a degenerate clock is not evidence of a scheduler.

    ``tiebreak_col`` is REQUIRED: without a total order, equal
    timestamps make the gap sequence partitioning-dependent.

    Scale: one window pass and the groupBy share a single key
    exchange; output is one row per key.  Gaps in seconds keep
    n·Σg² inside int64 for ~10⁶ events/key over a decade.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc())
    sec = F.expr(
        f"unix_micros(CAST({ts_col} AS TIMESTAMP)) DIV 1000000")
    o = events.select(key_col, ts_col, tiebreak_col, sec.alias("__s"))
    o = o.withColumn("__prev", F.lag("__s").over(w))
    g = (o.filter(F.col("__prev").isNotNull())
         .select(key_col, (F.col("__s") - F.col("__prev")).alias("__g")))
    a = g.groupBy(key_col).agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("__g").cast("long").alias("gap_sum_s"),
        F.sum(F.col("__g") * F.col("__g")).cast("long")
         .alias("gap_sq_sum_s"))
    num = (F.col("n_gaps") * F.col("gap_sq_sum_s")
           - F.col("gap_sum_s") * F.col("gap_sum_s"))
    den = F.col("gap_sum_s") * F.col("gap_sum_s")
    return a.select(
        key_col, "n_gaps", "gap_sum_s", "gap_sq_sum_s",
        num.alias("cv2_num"), den.alias("cv2_den"),
        F.when(F.col("gap_sum_s") > 0,
               num.cast("double") / den.cast("double")).alias("cv2"),
        ((F.col("n_gaps") >= F.lit(min_gaps)) & (F.col("gap_sum_s") > 0)
         & (num * 10 < den * F.lit(cv2_threshold_tenths)))
        .alias("is_regular"))


#: ln(2) as the correctly-rounded IEEE double, hardcoded in BOTH engines
#: (computing ln(2.0) at runtime could differ in the last ULP between
#: the JVM's Math.log and DuckDB's libm).
_LN2 = 0.6931471805599453


def jsd_drift_pairs(df: DataFrame, *, group_col: str,
                    item_col: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between each group's unigram
    item distribution — the corpus-drift monitor (0 = identical
    vocabulary usage, ln 2 = disjoint).

    The non-shared mass needs no outer join: for a token only in P,
    its KL term is p·ln 2, so the one-sided tails contribute
    ln 2·(1 − P_shared) and ln 2·(1 − Q_shared), both derived from
    EXACT int64 shared-count sums.  Only shared tokens meet through
    one token equi-join, and each shared term p·ln(2p/(p+q)) +
    q·ln(2q/(p+q)) — ≥ 0 by the log-sum inequality — is rounded to
    integer MICRO-nats before summing, so the cross-token sum is an
    int64 and therefore order- and partitioning-independent; ln's
    last-ULP difference between JVM and libm (~1e-16) cannot move a
    term across a 0.5e-6 rounding boundary except on astronomically
    exact ties.  The final ``jsd`` is one fixed IEEE expression over
    those integers (ln 2 as a hardcoded correctly-rounded literal).

    Pairs with ZERO shared vocabulary are absent from the output
    (their JSD is exactly ln 2); emitting them would need a G² outer
    pair frame for no information.

    Scale: one (group, item) count exchange, a broadcast of per-group
    totals, one item equi-join; never a cartesian.
    """
    cnt = (df.select(F.col(group_col).alias("g"),
                     F.col(item_col).alias("t"))
           .filter(F.col("t").isNotNull())
           .groupBy("g", "t").agg(F.count("*").cast("long").alias("c")))
    tot = cnt.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    ct = cnt.join(F.broadcast(tot), "g")
    a = ct.select(F.col("g").alias("g1"), F.col("t"),
                  F.col("c").alias("ca"), F.col("n").alias("na"))
    b = ct.select(F.col("g").alias("g2"), F.col("t"),
                  F.col("c").alias("cb"), F.col("n").alias("nb"))
    j = a.join(b, ["t"]).filter(F.col("g1") < F.col("g2"))
    p = F.col("ca").cast("double") / F.col("na").cast("double")
    q = F.col("cb").cast("double") / F.col("nb").cast("double")
    term = (p * F.log(F.lit(2.0) * p / (p + q))
            + q * F.log(F.lit(2.0) * q / (p + q)))
    micro = F.round(term * F.lit(1e6), 0).cast("long")
    agg = (j.select("g1", "g2", "ca", "cb", "na", "nb",
                    micro.alias("__m"))
           .groupBy("g1", "g2")
           .agg(F.count("*").cast("long").alias("n_shared"),
                F.sum("ca").cast("long").alias("a_shared"),
                F.sum("cb").cast("long").alias("b_shared"),
                F.max("na").alias("__na"), F.max("nb").alias("__nb"),
                F.sum("__m").cast("long").alias("jsd_micro_shared")))
    jsd = (F.lit(0.5)
           * (F.col("jsd_micro_shared").cast("double") / F.lit(1e6)
              + F.lit(_LN2)
              * (F.lit(1.0) - F.col("a_shared").cast("double")
                 / F.col("__na").cast("double"))
              + F.lit(_LN2)
              * (F.lit(1.0) - F.col("b_shared").cast("double")
                 / F.col("__nb").cast("double"))))
    return agg.select("g1", "g2", "n_shared", "a_shared", "b_shared",
                      "jsd_micro_shared", jsd.alias("jsd"))


def json_schema_profile(df: DataFrame, *, json_col: str) -> DataFrame:
    """Schema profile of a free-form JSON column (the ingestion audit
    for a JSONL feed): per top-level key, presence count and a type
    histogram (int / double / bool / string / array / object / null),
    plus the dominant type under a FIXED priority tiebreak — so two
    runs, engines or cluster sizes always name the same winner.

    Values are observed through ``from_json(map<string,string>)``
    string coercion: numbers/bools keep their JSON text, nested
    arrays/objects keep their serialized form, JSON nulls surface as
    SQL NULL.  One documented blind spot: a quoted numeric string
    (``"7"``) coerces to the same text as the number ``7`` and is
    classified int — string-coerced profiling trades that corner for
    never needing per-row schema inference.  Rows whose document
    fails to parse are simply absent (no keys to profile); count them
    upstream if malformed-rate matters.

    Scale: scan-stage parse + explode, one key exchange with map-side
    partial aggregation; no UDF, no join, output is vocabulary-of-
    keys-sized.
    """
    kv = (df.select(F.explode(F.from_json(F.col(json_col),
                                          "map<string,string>"))
                    .alias("key", "v")))
    cls = (F.when(F.col("v").isNull(), "null")
           .when(F.col("v").rlike(r"^-?[0-9]+$"), "int")
           .when(F.col("v").rlike(r"^-?[0-9]+\.[0-9]+$"), "double")
           .when(F.col("v").isin("true", "false"), "bool")
           .when(F.col("v").startswith("["), "array")
           .when(F.col("v").startswith("{"), "object")
           .otherwise("string"))
    counted = (kv.select("key", cls.alias("__c"))
               .groupBy("key")
               .agg(F.count("*").cast("long").alias("n_present"),
                    *[F.sum(F.when(F.col("__c") == t, 1).otherwise(0))
                      .cast("long").alias(f"n_{t}")
                      for t in ["int", "double", "bool", "string",
                                "array", "object", "null"]]))
    mx = F.greatest(*[F.col(f"n_{t}") for t in
                      ["int", "double", "bool", "string",
                       "array", "object", "null"]])
    dom = F.when(F.col("n_int") == mx, "int")
    for t in ["double", "bool", "string", "array", "object", "null"]:
        dom = dom.when(F.col(f"n_{t}") == mx, t)
    return counted.withColumn("dominant_type", dom)


def ks_mw_tests(df: DataFrame, *, value_col: str, group_col: str,
                group_a, group_b, n_buckets: int = 64) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov and Mann–Whitney statistics
    between the ``group_a`` and ``group_b`` strata of ``value_col`` —
    the distribution-shift monitors that complement PSI (binned) and
    JSD (vocabulary): KS is binning-free and catches location/shape
    drift anywhere in the CDF; the Mann–Whitney U is the exact
    rank-sum whose normalization U/(n_a·n_b) is the AUC / common-
    language effect size ("probability a random A value exceeds a
    random B value").

    Both statistics are EXACT integers until one final division:

    * ``ks_num  = max over observed v of |cumA(v)·n_b − cumB(v)·n_a|``
      (the sup of |F_A−F_B| is attained at an observed point, so the
      max over the merged support is the true supremum);
      ``ks_stat = ks_num / (n_a·n_b)``.
    * ``u2_a = Σ_v cA(v)·(2·cumB_less(v) + cB(v))`` — twice U_A with
      the standard half-credit for ties, kept doubled so it stays an
      integer; ``auc_a = u2_a / (2·n_a·n_b)``.

    Values are snapped once to integer micro-units; counts per distinct
    value come from ONE map-side-combined groupBy; the prefix sums over
    the distinct-value frame run through the two-phase value-range
    bucketed cumsum (in-bucket window + exclusive broadcast bucket
    offsets), so no data-sized single-partition window exists even when
    the value column is near-unique.  n_a·n_b at 10^6×10^6 overflows
    nothing (≤ 10^12 « 2^63); the u2 sum is bounded by 2·n_a·n_b.
    """
    from pyspark.sql import Window

    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = df.filter(g.isin([group_a, group_b]) & v.isNotNull())
    per_v = base.groupBy(v.alias("v")).agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long")
        .alias("ca"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long")
        .alias("cb"))

    bounds = per_v.agg(F.min("v").alias("__lo"), F.max("v").alias("__hi"),
                       F.sum("ca").alias("__na"), F.sum("cb").alias("__nb"))
    pv = (per_v.crossJoin(F.broadcast(bounds))
          .withColumn("__b", F.expr(
              f"(v - __lo) div ((__hi - __lo) div {int(n_buckets)} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pv = (pv.withColumn("__a_in", F.sum("ca").over(w_in))
          .withColumn("__b_in", F.sum("cb").over(w_in)))
    btot = pv.groupBy("__b").agg(F.sum("ca").alias("__ba"),
                                 F.sum("cb").alias("__bb"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__b",
        F.coalesce(F.sum("__ba").over(w_b), F.lit(0)).alias("__oa"),
        F.coalesce(F.sum("__bb").over(w_b), F.lit(0)).alias("__ob"))
    pv = (pv.join(F.broadcast(boff), "__b")
          .withColumn("cum_a", F.col("__oa") + F.col("__a_in"))
          .withColumn("cum_b", F.col("__ob") + F.col("__b_in")))

    out = pv.agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.max(F.abs(F.col("cum_a") * F.col("__nb")
                    - F.col("cum_b") * F.col("__na"))).alias("ks_num"),
        F.sum(F.col("ca") * (2 * (F.col("cum_b") - F.col("cb"))
                             + F.col("cb"))).alias("u2_a"))
    return out.select(
        "n_a", "n_b", "ks_num",
        F.round(F.col("ks_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"), 6)
        .alias("ks_stat"),
        "u2_a",
        F.round(F.col("u2_a").cast("double")
                / (2 * F.col("n_a") * F.col("n_b")).cast("double"), 6)
        .alias("auc_a"))


def woe_iv(df: DataFrame, *, cat_col: str, label_expr: str) -> DataFrame:
    """Weight of evidence per category of ``cat_col`` against the
    binary ``label_expr``, plus each category's information-value
    contribution — the credit-scoring-era feature-selection pair that
    complements chi² (chi2_feature_selection): WOE is the log-odds
    ratio a monotone model would assign the category, IV the
    divergence-weighted summary of how much the column separates the
    classes (rule of thumb: Σ contrib < 0.02 useless, > 0.5 suspect).

    Half-count (Yates/Laplace-½) smoothing keeps empty cells finite
    and is held EXACT by integer doubling: p_c = (2·pos_c+1)/(2·pos+K)
    and q_c likewise, so

    ``woe = ln(2·pos_c+1) − ln(2·pos+K) − ln(2·neg_c+1) + ln(2·neg+K)``

    evaluated in that fixed operand order and snapped once to integer
    micro-nats; the IV contribution (p_c − q_c)·woe snaps to micro
    units per category BEFORE any cross-category sum, so a total IV is
    an order-independent integer sum.  One (category) partial-agg
    exchange; totals ride a broadcast one-row frame.
    """
    lbl = F.expr(label_expr)
    per = df.groupBy(F.col(cat_col).alias("cat")).agg(
        F.sum(F.when(lbl, 1).otherwise(0)).cast("long").alias("pos_c"),
        F.sum(F.when(lbl, 0).otherwise(1)).cast("long").alias("neg_c"))
    tot = per.agg(F.sum("pos_c").alias("__pt"),
                  F.sum("neg_c").alias("__nt"),
                  F.count("*").alias("__k"))
    j = per.crossJoin(F.broadcast(tot))
    a = 2 * F.col("pos_c") + 1
    b = 2 * F.col("__pt") + F.col("__k")
    c = 2 * F.col("neg_c") + 1
    d = 2 * F.col("__nt") + F.col("__k")
    woe_micro = F.round(
        (F.log(a.cast("double")) - F.log(b.cast("double"))
         - F.log(c.cast("double")) + F.log(d.cast("double"))) * 1e6
    ).cast("long")
    j = j.withColumn("woe_micro", woe_micro)
    contrib = F.round(
        (a.cast("double") / b.cast("double")
         - c.cast("double") / d.cast("double"))
        * (F.col("woe_micro").cast("double") / F.lit(1e6)) * 1e6
    ).cast("long")
    return (j.withColumn("iv_contrib_micro", contrib)
            .select("cat", "pos_c", "neg_c", "woe_micro",
                    "iv_contrib_micro"))


# Poisson(1) inverse-CDF thresholds scaled to 48-bit integers:
# T[k] = floor(P(X ≤ k) · 2^48).  A 48-bit md5 uniform u maps to the
# weight w = #{k : u ≥ T[k]} ∈ 0..9; the truncation at 9 drops
# P(X > 8) ≈ 1.1e-6 of the distribution — irrelevant to CI coverage
# and the price of a bounded, engine-portable integer comparison chain.
_POIS1_T48 = [103548857136060, 207097714272121, 258872142840152,
              276130285696162, 280444821410164, 281307728552965,
              281451546410098, 281472091818260, 281474659994280]


def poisson_bootstrap_ci(df: DataFrame, *, value_col: str, id_col: str,
                         n_reps: int = 40, salt: str = "") -> DataFrame:
    """Bootstrap confidence interval for the mean via the POISSON
    bootstrap — the resampling scheme that actually distributes: the
    classical bootstrap draws n rows WITH replacement per replicate
    (a global operation no shard can do alone), while Poisson(1)
    per-(row, replicate) weights approximate it exactly in the n→∞
    limit and need only a row-local deterministic draw.

    Determinism discipline: the weight for (row, replicate b) derives
    from the 48-bit integer u = md5(id ‖ ':' ‖ b ‖ salt) compared
    against the hardcoded Poisson(1) inverse-CDF thresholds — never
    RNG, never partition-dependent, identical in Spark and DuckDB.
    Replicate means are one fixed-order double division of exact
    integer pairs (Σw·x_micro, Σw) — the weighted sums accumulate in
    DECIMAL(38,0) since Σw·x_micro crosses int64 at ~10^11 rows.  The
    95 % CI is the exact (⌊.025B⌋+1)-th / (⌈.975B⌉)-th order
    statistics of the B means with (mean, b) tie-break.

    Scale: the row×B expansion is the inherent bootstrap cost (B=40
    ⇒ 40× one scan, all map-side until the B-group agg); the order
    statistics run on a B-row frame.
    """
    from pyspark.sql import Window

    B = int(n_reps)
    x = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(x.isNotNull())
            .select(F.col(id_col).cast("string").alias("id"),
                    x.alias("x")))
    est = base.agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("x").cast("decimal(38,0)")).cast("double")
                / F.count("*").cast("double") / F.lit(1e6), 6)
        .alias("mean_est"))

    e = base.withColumn("b", F.explode(F.sequence(F.lit(0),
                                                  F.lit(B - 1))))
    u = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("id"), F.col("b").cast("string"), F.lit(salt))
        .cast("binary")), 1, 12), 16, 10).cast("long")
    w = sum((u >= F.lit(t)).cast("int") for t in _POIS1_T48).cast("long")
    per = (e.withColumn("w", w)
           .groupBy("b")
           .agg(F.sum(F.col("w").cast("decimal(38,0)")
                      * F.col("x").cast("decimal(38,0)")).alias("__swx"),
                F.sum("w").cast("long").alias("__sw")))
    per = per.withColumn(
        "mean_b",
        F.round(F.col("__swx").cast("double")
                / F.col("__sw").cast("double") / F.lit(1e6), 6))
    rk = F.row_number().over(Window.orderBy("mean_b", "b"))
    k_lo = (B * 25) // 1000 + 1                    # 1-based rank
    k_hi = (B * 975 + 999) // 1000
    ci = (per.withColumn("__rk", rk)
          .agg(F.max(F.when(F.col("__rk") == k_lo, F.col("mean_b")))
               .alias("ci_lo"),
               F.max(F.when(F.col("__rk") == k_hi, F.col("mean_b")))
               .alias("ci_hi"),
               F.count("*").cast("long").alias("b_reps")))
    return est.crossJoin(F.broadcast(ci)).select(
        "n", "mean_est", "b_reps", "ci_lo", "ci_hi")


def mutual_information(df: DataFrame, *, col_a: str,
                       col_b: str) -> DataFrame:
    """Mutual information I(A;B) between two categorical columns, plus
    the per-cell decomposition — the dependence measure that completes
    chi² (deviation from independence) and WOE/IV (binary-label
    log-odds) with the information-theoretic view, valid for ANY pair
    of categorical columns.

    I(A;B) = Σ_{a,b} (n_ab/N)·ln(N·n_ab / (n_a·n_b)).  Exactness: each
    cell's pointwise term ln(N·n_ab) − ln(n_a·n_b) evaluates in fixed
    operand order and snaps to integer micro-nats; the cell
    contribution (pmi_micro weighted by the exact rational n_ab/N)
    snaps to integer micro-nats-per-draw BEFORE summing, so the total
    is an order-independent integer sum — the q86/q259 discipline.
    Zero cells contribute exactly zero by the x·ln x → 0 convention
    (absent rows, absent terms).

    Scale: one (a, b) partial-agg exchange for cells; marginals are
    two more partial aggs joined back broadcast-style (cell-frame
    sized, not data-sized).  N·n_ab and n_a·n_b stay inside int64 up
    to ~10^9 rows; both products route through DECIMAL(38,0) for the
    10^12 case.
    """
    cells = df.groupBy(F.col(col_a).alias("a"),
                       F.col(col_b).alias("b")).agg(
        F.count("*").alias("n_ab"))
    ma = cells.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    mb = cells.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    tot = cells.agg(F.sum("n_ab").alias("__n"))
    j = (cells.join(ma, "a").join(mb, "b")
         .crossJoin(F.broadcast(tot)))
    pmi_micro = F.round(
        (F.log((d38(F.col("__n")) * d38(F.col("n_ab"))).cast("double"))
         - F.log((d38(F.col("n_a")) * d38(F.col("n_b"))).cast("double"))) * 1e6
    ).cast("long")
    j = j.withColumn("pmi_micro", pmi_micro)
    contrib = F.round(
        F.col("n_ab").cast("double") / F.col("__n").cast("double")
        * F.col("pmi_micro").cast("double")).cast("long")
    return (j.withColumn("mi_contrib_micro", contrib)
            .select("a", "b", "n_ab", "n_a", "n_b", "pmi_micro",
                    "mi_contrib_micro"))


def w1_distance(df: DataFrame, *, value_col: str, group_col: str,
                group_a, group_b, n_buckets: int = 64) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between the
    ``group_a`` and ``group_b`` strata of ``value_col`` — the INTEGRAL
    companion to ``ks_mw_tests``'s sup metric: KS sees the worst single
    CDF gap, W₁ = ∫|F_A − F_B| dv weights every gap by how far the
    mass must move, so a small shift of much mass and a large shift of
    little mass are told apart.

    Over the merged support v₁ < … < v_m:

        W₁·(n_a·n_b) = Σᵢ |cumA(vᵢ)·n_b − cumB(vᵢ)·n_a| · (vᵢ₊₁ − vᵢ)

    — all integers (values micro-snapped once).  The summand reaches
    ~10²² at corpus scale, so it accumulates in DECIMAL(38,0); the
    reported ``w1`` is one fixed-order double division at the end.

    The global prefix sums reuse the two-phase value-range bucket
    machinery; the gap to the NEXT distinct value crosses bucket
    boundaries via the tiny per-bucket-min frame (in-bucket lead,
    bucket-last rows coalesce to the next bucket's min — both frames
    ≤ n_buckets+1 rows).  The largest v has both CDFs complete, so its
    (undefined) gap multiplies a provably-zero term and coalesces to 0.
    """
    from pyspark.sql import Window

    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = df.filter(g.isin([group_a, group_b]) & v.isNotNull())
    per_v = base.groupBy(v.alias("v")).agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long")
        .alias("ca"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long")
        .alias("cb"))
    bounds = per_v.agg(F.min("v").alias("__lo"), F.max("v").alias("__hi"),
                       F.sum("ca").alias("__na"), F.sum("cb").alias("__nb"))
    pv = (per_v.crossJoin(F.broadcast(bounds))
          .withColumn("__b", F.expr(
              f"(v - __lo) div ((__hi - __lo) div {int(n_buckets)} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pv = (pv.withColumn("__a_in", F.sum("ca").over(w_in))
          .withColumn("__b_in", F.sum("cb").over(w_in))
          .withColumn("__nx_in",
                      F.lead("v").over(Window.partitionBy("__b")
                                       .orderBy("v"))))
    btot = pv.groupBy("__b").agg(F.sum("ca").alias("__ba"),
                                 F.sum("cb").alias("__bb"),
                                 F.min("v").alias("__bmin"))
    w_b = Window.orderBy("__b")
    boff = btot.select(
        "__b",
        F.coalesce(F.sum("__ba").over(
            w_b.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
        .alias("__oa"),
        F.coalesce(F.sum("__bb").over(
            w_b.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
        .alias("__ob"),
        F.lead("__bmin").over(w_b).alias("__nxb"))
    pv = (pv.join(F.broadcast(boff), "__b")
          .withColumn("cum_a", F.col("__oa") + F.col("__a_in"))
          .withColumn("cum_b", F.col("__ob") + F.col("__b_in"))
          .withColumn("next_v", F.coalesce("__nx_in", "__nxb")))
    term = (F.abs(F.col("cum_a") * F.col("__nb")
                  - F.col("cum_b") * F.col("__na")).cast("decimal(38,0)")
            * F.coalesce(F.col("next_v") - F.col("v"), F.lit(0))
            .cast("decimal(38,0)"))
    out = pv.agg(F.max("__na").alias("n_a"), F.max("__nb").alias("n_b"),
                 F.sum(term).cast("decimal(38,0)").alias("__num"))
    return out.select(
        "n_a", "n_b",
        F.round(F.col("__num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
                / F.lit(1e6), 6).alias("w1"))


def cuped_adjust(users: DataFrame, *, x_col: str, y_col: str,
                 variant_col: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data)
    adjustment — the experimentation-platform standard for variance
    reduction: regress the experiment metric y on the pre-period
    covariate x POOLED across variants (θ = Cov(x,y)/Var(x)) and
    report each variant's adjusted mean  ȳ_v − θ·(x̄_v − x̄) .  The
    adjustment removes the x-explained variance (factor 1−ρ²) without
    biasing the treatment contrast, because θ is shared.

    Input is one row per unit (user) with micro-integer x and y.
    Exactness: the five pooled moments (n, Σx, Σy, Σx², Σxy) are exact
    integer sums accumulated in DECIMAL(38,0) (Σxy crosses int64 at
    ~10^7 users with ~10^6-micro metrics); θ, ρ² and every mean are
    fixed-order double expressions over those integers.  One (variant)
    partial agg + one pooled agg broadcast back; output is
    variant-count-sized.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    base = users.select(F.col(variant_col).alias("variant"),
                        x.alias("x"), y.alias("y"))
    pooled = base.agg(
        F.count("*").alias("__n"),
        F.sum(d38(F.col("x"))).alias("__sx"),
        F.sum(d38(F.col("y"))).alias("__sy"),
        F.sum(d38(F.col("x")) * d38(F.col("x"))).alias("__sxx"),
        F.sum(d38(F.col("x")) * d38(F.col("y"))).alias("__sxy"),
        F.sum(d38(F.col("y")) * d38(F.col("y"))).alias("__syy"))
    per_v = base.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum(d38(F.col("x"))).alias("__svx"),
        F.sum(d38(F.col("y"))).alias("__svy"))
    j = per_v.crossJoin(F.broadcast(pooled))
    dn = F.col("__n").cast("double")
    dsx, dsy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    dsxx = F.col("__sxx").cast("double")
    dsxy = F.col("__sxy").cast("double")
    dsyy = F.col("__syy").cast("double")
    cov_n = dn * dsxy - dsx * dsy
    var_n = dn * dsxx - dsx * dsx
    vary_n = dn * dsyy - dsy * dsy
    theta = cov_n / var_n
    rho2 = cov_n * cov_n / (var_n * vary_n)
    mean_y_v = F.col("__svy").cast("double") / F.col("n").cast("double")
    mean_x_v = F.col("__svx").cast("double") / F.col("n").cast("double")
    mean_x = dsx / dn
    adj = mean_y_v - theta * (mean_x_v - mean_x)
    return j.select(
        "variant", "n",
        F.round(mean_y_v / F.lit(1e6), 6).alias("mean_y"),
        F.round(adj / F.lit(1e6), 6).alias("mean_y_cuped"),
        F.round(theta, 6).alias("theta"),
        F.round(rho2, 6).alias("rho2"))


def sprt_decision(df: DataFrame, *, ts_col: str, id_col: str,
                  success_expr: str, group_col: str,
                  lr1_micro: int, lr0_micro: int,
                  upper_micro: int, lower_micro: int,
                  n_buckets: int = 64) -> DataFrame:
    """Wald's sequential probability ratio test per group — the
    early-stopping machinery for streaming experiments: after each
    Bernoulli observation the log-likelihood ratio moves by one of TWO
    constants (``lr1_micro`` on success, ``lr0_micro`` on failure,
    both precomputed µ-nat integers, e.g. ln(p₁/p₀) for a p₀ vs p₁
    conversion test), and the test stops the first time the running
    sum crosses ``upper_micro`` (accept H₁) or ``lower_micro``
    (accept H₀).

    The whole trajectory is INTEGER: increments, cumulative sums and
    boundaries, so the crossing index is exact — no float-accumulation
    drift can move a decision by one observation.  Observation order
    is (ts, id); same-timestamp ties resolve by id as the arrival
    proxy (documented, deterministic).  Per-group cumulative sums and
    ranks run through the (group, time-bucket) two-phase prefix; the
    crossing scan is one aggregation over the trajectory (min index
    where cum ≥ U / ≤ L), never a driver-side loop.

    Output per group: n, successes, final_llr_micro, cross_idx (1-based
    observation number of the FIRST boundary hit, NULL if none),
    decision ('accept_h1' / 'accept_h0' / 'continue').
    """
    from pyspark.sql import Window

    um = F.unix_micros(F.col(ts_col).cast("timestamp"))
    inc = F.when(F.expr(success_expr), F.lit(int(lr1_micro))) \
        .otherwise(F.lit(int(lr0_micro))).cast("long")
    d = df.select(F.col(group_col).alias("grp"), um.alias("t"),
                  F.col(id_col).alias("i"), inc.alias("inc"),
                  F.when(F.expr(success_expr), 1).otherwise(0)
                  .alias("succ"))
    bounds = d.groupBy("grp").agg(F.min("t").alias("__lo"),
                                  F.max("t").alias("__hi"))
    d = (d.join(F.broadcast(bounds), "grp")
         .withColumn("__b", F.expr(
             f"(t - __lo) div ((__hi - __lo) div {int(n_buckets)} + 1)")))
    o_in = Window.partitionBy("grp", "__b").orderBy("t", "i")
    w_in = o_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = (d.withColumn("__rn_in", F.row_number().over(o_in).cast("long"))
         .withColumn("__s_in", F.sum("inc").over(w_in)))
    btot = d.groupBy("grp", "__b").agg(F.count("*").alias("__bc"),
                                       F.sum("inc").alias("__bs"))
    w_b = (Window.partitionBy("grp").orderBy("__b")
           .rowsBetween(Window.unboundedPreceding, -1))
    boff = btot.select(
        "grp", "__b",
        F.coalesce(F.sum("__bc").over(w_b), F.lit(0)).alias("__oc"),
        F.coalesce(F.sum("__bs").over(w_b), F.lit(0)).alias("__os"))
    d = (d.join(F.broadcast(boff), ["grp", "__b"])
         .withColumn("idx", F.col("__oc") + F.col("__rn_in"))
         .withColumn("cum", F.col("__os") + F.col("__s_in")))
    U, L = F.lit(int(upper_micro)), F.lit(int(lower_micro))
    agg = d.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("succ").cast("long").alias("successes"),
        F.sum("inc").cast("long").alias("final_llr_micro"),
        F.min(F.when(F.col("cum") >= U, F.col("idx"))).alias("__up"),
        F.min(F.when(F.col("cum") <= L, F.col("idx"))).alias("__dn"))
    # least() ignores NULLs in both engines: NULL only when neither
    # boundary was ever hit
    cross = F.least(F.col("__up"), F.col("__dn"))
    decision = (F.when(F.col("__up").isNotNull()
                       & (F.col("__dn").isNull()
                          | (F.col("__up") <= F.col("__dn"))),
                       "accept_h1")
                .when(F.col("__dn").isNotNull(), "accept_h0")
                .otherwise("continue"))
    return agg.select("grp", "n", "successes", "final_llr_micro",
                      cross.alias("cross_idx"),
                      decision.alias("decision"))


def mantel_haenszel(df: DataFrame, *, stratum_col: str, group_expr: str,
                    outcome_expr: str) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio across strata — the
    Simpson's-paradox defense: a naive pooled 2×2 table can show an
    effect REVERSED from every stratum's own effect when group sizes
    correlate with stratum base rates; MH pools the per-stratum odds
    ratios with their efficient weights instead:

        OR_MH = Σ_s (a_s·d_s / n_s)  /  Σ_s (b_s·c_s / n_s)

    (a = exposed-positive, b = exposed-negative, c = unexposed-
    positive, d = unexposed-negative).  Each stratum term has an exact
    integer numerator (a·d or b·c, DECIMAL(38,0) at corpus scale) over
    the stratum total; terms snap to micro-units per stratum, the two
    pools are order-independent integer sums, and OR_MH is one
    fixed-order division.  Also emits the naive pooled OR from the
    collapsed table so the paradox is visible in the output.

    One (stratum) partial-agg exchange; strata-count-sized thereafter.
    """
    g = F.expr(group_expr)
    y = F.expr(outcome_expr)
    cells = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum(F.when(g & y, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(g & ~y, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~g & y, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~g & ~y, 1).otherwise(0)).cast("long").alias("d"))
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    num_t = F.round((d38(F.col("a")) * d38(F.col("d"))).cast("double")
                    / n.cast("double") * 1e6).cast("long")
    den_t = F.round((d38(F.col("b")) * d38(F.col("c"))).cast("double")
                    / n.cast("double") * 1e6).cast("long")
    agg = cells.agg(
        F.count("*").alias("n_strata"),
        F.sum("a").alias("pooled_a"), F.sum("b").alias("pooled_b"),
        F.sum("c").alias("pooled_c"), F.sum("d").alias("pooled_d"),
        F.sum(num_t).cast("long").alias("mh_num_micro"),
        F.sum(den_t).cast("long").alias("mh_den_micro"))
    or_mh = F.when(
        F.col("mh_den_micro") > 0,
        F.round(F.col("mh_num_micro").cast("double")
                / F.col("mh_den_micro").cast("double"), 6))
    naive = F.when(
        (F.col("pooled_b") > 0) & (F.col("pooled_c") > 0),
        F.round((F.col("pooled_a").cast("decimal(38,0)")
                 * F.col("pooled_d").cast("decimal(38,0)")).cast("double")
                / (F.col("pooled_b").cast("decimal(38,0)")
                   * F.col("pooled_c").cast("decimal(38,0)"))
                .cast("double"), 6))
    return agg.select("n_strata", "mh_num_micro", "mh_den_micro",
                      or_mh.alias("or_mh"), naive.alias("or_naive"))


def eb_beta_binomial(df: DataFrame, *, key_col: str, trials_col: str,
                     successes_col: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-key rates — the
    standard fix for ranking keys by a ratio when trial counts vary by
    orders of magnitude (a 1/1 host must not outrank a 980/1000 host):
    fit a Beta(α, β) prior to the observed per-key proportions by
    method of moments, then report each key's posterior mean
    ``(x + α)/(n + α + β)`` — small-n keys shrink hard toward the
    prior, large-n keys barely move.

    MoM: with μ, v the mean and population variance of the per-key
    proportions, ``common = μ(1−μ)/v − 1``, α = μ·common,
    β = (1−μ)·common.  Exactness: each proportion snaps once to a
    micro-integer; μ and v come from exact int64 sums of p_micro and
    its square (Σp² crosses int64 at ~10^7 keys, DECIMAL(38,0)); all
    remaining arithmetic is fixed-order doubles.  Degenerate priors
    (v = 0 — all rates identical — or common ≤ 0, over-dispersed
    beyond what a beta can express) report NULL α/β and pass raw rates
    through unshrunk, loudly rather than silently clamping.

    One (key) pass for proportions, one broadcast one-row prior frame
    joined back — output is key-count-sized.
    """
    base = df.select(F.col(key_col).alias("key"),
                     F.col(trials_col).cast("long").alias("n"),
                     F.col(successes_col).cast("long").alias("x"))
    p_micro = F.round(F.col("x").cast("double")
                      / F.col("n").cast("double") * 1e6).cast("long")
    base = base.filter(F.col("n") > 0).withColumn("p_micro", p_micro)
    prior = base.agg(
        F.count("*").alias("__k"),
        F.sum("p_micro").alias("__sp"),
        F.sum(d38(F.col("p_micro")) * d38(F.col("p_micro"))).alias("__spp"))
    dk = F.col("__k").cast("double")
    mu = F.col("__sp").cast("double") / dk / F.lit(1e6)
    # population variance of proportions, in rate² units
    v = (F.col("__spp").cast("double") / dk
         - (F.col("__sp").cast("double") / dk)
         * (F.col("__sp").cast("double") / dk)) / F.lit(1e12)
    common = mu * (F.lit(1.0) - mu) / v - F.lit(1.0)
    prior = (prior.withColumn("__mu", mu)
             .withColumn("__v", v)
             .withColumn("__common",
                         F.when(v > 0, common)))
    ok = F.col("__common") > 0
    prior = (prior
             .withColumn("alpha", F.when(ok, F.col("__mu")
                                         * F.col("__common")))
             .withColumn("beta", F.when(ok, (F.lit(1.0) - F.col("__mu"))
                                        * F.col("__common"))))
    j = base.crossJoin(F.broadcast(
        prior.select("alpha", "beta")))
    raw = F.round(F.col("x").cast("double")
                  / F.col("n").cast("double"), 6)
    shrunk = F.when(
        F.col("alpha").isNotNull(),
        F.round((F.col("x").cast("double") + F.col("alpha"))
                / (F.col("n").cast("double") + F.col("alpha")
                   + F.col("beta")), 6)).otherwise(raw)
    return j.select(
        "key", "n", "x", raw.alias("rate_raw"),
        shrunk.alias("rate_eb"),
        F.round(F.col("alpha"), 6).alias("alpha"),
        F.round(F.col("beta"), 6).alias("beta"))


def ratio_jackknife(df: DataFrame, *, num_col: str, den_col: str,
                    id_col: str, n_buckets: int = 64) -> DataFrame:
    """Standard error of a RATIO metric (CTR, revenue-per-session,
    tokens-per-doc) by the delete-one-bucket jackknife — the
    experimentation-platform workhorse for metrics that are ratios of
    sums, whose naive per-row variance is simply wrong (numerator and
    denominator covary).

    Units hash-bucket deterministically (md5, the hash_split
    discipline) into B buckets; with T_n/T_d the total sums and
    b_n/b_d each bucket's sums, the leave-one-out ratios
    r_(i) = (T_n − b_ni)/(T_d − b_di) give

        SE² = (B−1)/B · Σ_i (r_(i) − r̄_(·))²

    Everything up to the leave-one-out ratios is exact integer
    arithmetic (micro-snapped values, one (bucket) partial-agg pass);
    each r_(i) snaps to a micro-integer so the variance sum is over
    exact integers, with fixed-order double algebra only at the end.
    The delta-method SE from pooled moments ships alongside as the
    closed-form cross-check — the two agree asymptotically and BOTH
    are emitted so divergence (heavy bucket skew) is visible.

    Output one row: (n, ratio, se_jack, se_delta, b_buckets).
    """
    from ultraviolet_spark.operators.corpus import md5_bucket256

    num = F.round(F.col(num_col).cast("double") * 1e6).cast("long")
    den = F.round(F.col(den_col).cast("double") * 1e6).cast("long")
    b = (md5_bucket256(F.col(id_col)) % F.lit(int(n_buckets))).cast("int")
    per_b = (df.select(b.alias("b"), num.alias("u"), den.alias("v"))
             .groupBy("b")
             .agg(F.count("*").alias("c"),
                  F.sum("u").alias("bu"), F.sum("v").alias("bv"),
                  F.sum(d38(F.col("u")) * d38(F.col("u"))).alias("buu"),
                  F.sum(d38(F.col("v")) * d38(F.col("v"))).alias("bvv"),
                  F.sum(d38(F.col("u")) * d38(F.col("v"))).alias("buv")))
    tot = per_b.agg(
        F.sum("c").alias("__n"), F.count("*").alias("__bk"),
        F.sum("bu").alias("__tu"), F.sum("bv").alias("__tv"),
        F.sum("buu").cast("decimal(38,0)").alias("__suu"),
        F.sum("bvv").cast("decimal(38,0)").alias("__svv"),
        F.sum("buv").cast("decimal(38,0)").alias("__suv"))
    j = per_b.crossJoin(F.broadcast(tot))
    r_loo = F.round(
        (F.col("__tu") - F.col("bu")).cast("double")
        / (F.col("__tv") - F.col("bv")).cast("double") * 1e6).cast("long")
    j = j.withColumn("r_loo", r_loo)
    agg = j.agg(
        F.max("__n").alias("n"), F.max("__bk").alias("b_buckets"),
        F.max("__tu").alias("__tu"), F.max("__tv").alias("__tv"),
        F.max("__suu").alias("__suu"), F.max("__svv").alias("__svv"),
        F.max("__suv").alias("__suv"),
        F.sum("r_loo").alias("__sr"),
        F.sum(d38(F.col("r_loo")) * d38(F.col("r_loo"))).alias("__srr"))
    bk = F.col("b_buckets").cast("double")
    rbar = F.col("__sr").cast("double") / bk
    var_j = (F.lit(1.0) - F.lit(1.0) / bk) \
        * (F.col("__srr").cast("double") / bk - rbar * rbar) * bk \
        / F.lit(1e12)
    ratio = F.col("__tu").cast("double") / F.col("__tv").cast("double")
    # delta method: Var(U/V) ≈ (1/V²)(S_uu − 2r·S_uv + r²·S_vv) with
    # the S's the centered second moments of per-row (u, v)
    n_d = F.col("n").cast("double")
    mu_u = F.col("__tu").cast("double") / n_d
    mu_v = F.col("__tv").cast("double") / n_d
    s_uu = F.col("__suu").cast("double") / n_d - mu_u * mu_u
    s_vv = F.col("__svv").cast("double") / n_d - mu_v * mu_v
    s_uv = F.col("__suv").cast("double") / n_d - mu_u * mu_v
    var_d = (s_uu - F.lit(2.0) * ratio * s_uv
             + ratio * ratio * s_vv) / (mu_v * mu_v) / n_d
    return agg.select(
        "n", "b_buckets",
        F.round(ratio, 6).alias("ratio"),
        F.round(F.sqrt(var_j), 6).alias("se_jack"),
        F.round(F.sqrt(var_d), 6).alias("se_delta"))


def bh_fdr(df: DataFrame, *, p_col: str, id_col: str,
           alpha_num: int = 1, alpha_den: int = 20,
           n_buckets: int = 64, yekutieli: bool = False) -> DataFrame:
    """Benjamini–Hochberg FDR control over a battery of m hypothesis
    tests — the multiple-comparisons discipline every per-key test
    operator here (chi², log-rank, KS, SPRT batteries) needs before
    anyone acts on "significant" keys: testing 10^6 hosts at α = .05
    manufactures ~50 000 false discoveries; BH caps the expected
    FALSE-DISCOVERY FRACTION at α instead of the per-test error.

    Exactness discipline: p-values snap once to integer micro-units;
    the rank i is a unique total order by (p_micro, id); the step-up
    hit test p_(i) ≤ i·α/m clears denominators to the all-integer
    comparison  p_micro·m·α_den ≤ i·α_num·10⁶  (products through
    DECIMAL(38,0) — p_micro·m crosses int64 at m ≈ 10^13 tests), so
    the crossing index k = max{i : hit} is EXACT — no float staircase
    can move a rejection boundary by one test.  Rejection is rank ≤ k
    (the step-up property: ranks below k are rejected even where their
    own inequality fails).  BH q-values q_(i) = min_{j≥i} m·p_(j)/j
    ship alongside, each m·p/j snapped to a micro-integer BEFORE the
    suffix-min so the running min is over exact integers.

    Scale: the global rank and the suffix min both run the two-phase
    bucket machinery over the KNOWN domain [0, 10⁶] (no bounds pass):
    in-bucket windows at n_buckets-way parallelism plus two broadcast
    n_buckets-row offset/suffix frames — no single-partition window
    anywhere.  One (bucket) exchange total; the m / k frames are
    one-row broadcasts.

    Rows with NULL p or p outside [0, 1] are not tests and are
    excluded from the battery (m counts only valid rows).

    ``yekutieli=True`` applies the Benjamini–Yekutieli correction for
    ARBITRARY dependence: α is divided by the harmonic number
    c(m) = Σ_{j≤m} 1/j.  c(m) is data-dependent, so it is computed
    off the ranked battery itself as the exact integer micro-sum
    Cµ = Σ_i round(10⁶/i) (each term snapped BEFORE the sum — the
    µ-nat discipline — making Cµ an order-independent integer both
    engines agree on bit-for-bit); the step-up comparison gains the
    factor Cµ on the p side and 10⁶ on the i side, staying
    all-integer, and q-values gain one (Cµ/10⁶) double factor in the
    same fixed operand order.

    Output per test: (test_id, p, rank, m, rejected, q_value).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    a_num, a_den = int(alpha_num), int(alpha_den)
    step = 1_000_000 // B + 1
    p_micro = F.round(F.col(p_col).cast("double") * 1e6).cast("long")
    base = (df.select(F.col(id_col).cast("string").alias("test_id"),
                      p_micro.alias("__p"))
            .filter(F.col("__p").isNotNull()
                    & (F.col("__p") >= 0) & (F.col("__p") <= 1_000_000))
            .withColumn("__b", (F.col("__p") / F.lit(step))
                        .cast("long").cast("int")))
    w_in = Window.partitionBy("__b").orderBy("__p", "test_id")
    r = base.withColumn("__i_in", F.row_number().over(w_in))
    bc = base.groupBy("__b").agg(F.count("*").alias("__c"))
    w_off = (Window.orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, -1))
    boff = bc.select(
        "__b",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"))
    tot = bc.agg(F.sum("__c").cast("long").alias("__m"))
    r = (r.join(F.broadcast(boff), "__b")
         .crossJoin(F.broadcast(tot))
         .withColumn("i", (F.col("__off") + F.col("__i_in")).cast("long")))
    if yekutieli:
        cmf = r.agg(F.sum(F.round(F.lit(1e6)
                                  / F.col("i").cast("double"))
                          .cast("long")).alias("__cmu"))
        r = r.crossJoin(F.broadcast(cmf))
        hit = (d38(F.col("__p")) * d38(F.col("__m")) * F.lit(a_den)
               * d38(F.col("__cmu"))
               <= d38(F.col("i")) * F.lit(a_num) * F.lit(1_000_000)
               * F.lit(1_000_000).cast("decimal(38,0)"))
        q_raw = F.round(F.col("__m").cast("double")
                        * F.col("__p").cast("double")
                        / F.col("i").cast("double")
                        * (F.col("__cmu").cast("double") / F.lit(1e6))
                        ).cast("long")
    else:
        hit = (d38(F.col("__p")) * d38(F.col("__m")) * F.lit(a_den)
               <= d38(F.col("i")) * F.lit(a_num) * F.lit(1_000_000))
        # q_raw = m·p/i in micro units, snapped per element (the suffix
        # min then runs over exact integers — order-independent)
        q_raw = F.round(F.col("__m").cast("double")
                        * F.col("__p").cast("double")
                        / F.col("i").cast("double")).cast("long")
    r = (r.withColumn("__hit", hit).withColumn("__q_raw", q_raw))
    kf = r.agg(F.max(F.when(F.col("__hit"), F.col("i"))).alias("__k"))
    w_sfx = (Window.partitionBy("__b").orderBy("__p", "test_id")
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    r = r.withColumn("__q_in", F.min("__q_raw").over(w_sfx))
    bmin = r.groupBy("__b").agg(F.min("__q_raw").alias("__bm"))
    w_bs = Window.orderBy("__b").rowsBetween(1, Window.unboundedFollowing)
    bsfx = bmin.select("__b", F.min("__bm").over(w_bs).alias("__bs"))
    r = (r.join(F.broadcast(bsfx), "__b")
         .crossJoin(F.broadcast(kf)))
    q_micro = F.least(F.col("__q_in"),
                      F.coalesce(F.col("__bs"), F.lit(1_000_000)),
                      F.lit(1_000_000))
    return r.select(
        "test_id",
        F.round(F.col("__p").cast("double") / F.lit(1e6), 6).alias("p"),
        F.col("i").alias("rank"),
        F.col("__m").alias("m"),
        (F.col("__k").isNotNull()
         & (F.col("i") <= F.coalesce(F.col("__k"), F.lit(-1))))
        .alias("rejected"),
        F.round(q_micro.cast("double") / F.lit(1e6), 6).alias("q_value"))


def change_point(df: DataFrame, *, key_col: str, order_col: str,
                 value_col: str, tiebreak_col: str) -> DataFrame:
    """Single mean-shift change-point per key by exact maximum split
    gain — the RETROSPECTIVE complement of the sequential CUSUM
    detector (`windows.cusum_stats` asks "has the level shifted so
    far?"; this asks "WHERE did it shift?"): over the ordered series
    v₁..vₙ, the best split τ maximizes the between-segment sum of
    squares

        G(τ) = (Sτ·n − τ·Sₙ)² / (n·τ·(n−τ))

    (Sτ the prefix sum) — the maximum-likelihood single change-point
    for a mean shift under constant variance, equivalent to maximizing
    |mean_L − mean_R| weighted by balance.

    Exactness: values snap once to micro-units, so the discriminant
    D = Sτ·n − τ·Sₙ is an EXACT integer (DECIMAL(38,0) — D crosses
    int64 at n·v̄ ≈ 10^13 µ); D² would cross DECIMAL(38) too, so the
    gain is evaluated as fixed-operand-order doubles of exact integers
    (D_d·D_d / n_d / τ_d / (n−τ)_d) and ROUNDED to an integer-valued
    double before the argmax — identical in every engine, with ties
    broken by smallest τ.  Means of both segments ship alongside as
    fixed-order double divisions.

    Scale: one (key) exchange for the prefix-sum window — the same
    honest per-key-window cost as ``acf_by_key``/``ols_trend_by_key``
    (keys with 10^9-point histories need the value-bucket two-phase
    split first).  Keys with n = 1 have no admissible split and are
    absent from the output (documented, pinned).

    Output: (key, n, tau, split_at, gain, mean_l, mean_r) — tau the
    1-based size of the left segment, split_at the order value of its
    last element.
    """
    from pyspark.sql import Window

    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(v.isNotNull())
            .select(F.col(key_col).alias("key"),
                    F.col(order_col).alias("o"),
                    F.col(tiebreak_col).alias("tb"), v.alias("v")))
    w = Window.partitionBy("key").orderBy("o", "tb")
    wk = Window.partitionBy("key")
    r = base.select(
        "key", "o",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("s"),
        F.sum("v").over(wk).alias("sn"),
        F.count("*").over(wk).cast("long").alias("n"))
    r = r.filter(F.col("i") < F.col("n"))
    dd = (d38(F.col("s")) * d38(F.col("n"))
          - d38(F.col("i")) * d38(F.col("sn"))).cast("double")
    g = F.round(dd * dd / F.col("n").cast("double")
                / F.col("i").cast("double")
                / (F.col("n") - F.col("i")).cast("double"))
    r = r.withColumn("g", g)
    pick = F.row_number().over(
        Window.partitionBy("key").orderBy(F.col("g").desc(),
                                          F.col("i").asc()))
    r = r.withColumn("__pk", pick).filter(F.col("__pk") == 1)
    return r.select(
        F.col("key").alias(key_col),
        "n",
        F.col("i").alias("tau"),
        F.col("o").alias("split_at"),
        F.col("g").alias("gain"),
        F.round(F.col("s").cast("double") / F.col("i").cast("double")
                / F.lit(1e6), 6).alias("mean_l"),
        F.round((F.col("sn") - F.col("s")).cast("double")
                / (F.col("n") - F.col("i")).cast("double")
                / F.lit(1e6), 6).alias("mean_r"))


def seasonal_anomalies(df: DataFrame, *, key_col: str, ts_col: str,
                       value_col: str, period: str = "hour_of_day",
                       k: float = 3.0) -> DataFrame:
    """Seasonal-profile decomposition + robust anomaly flags — the
    fix for the failure mode where a plain threshold alarms every
    night and misses a daytime incident: per key, the value decomposes
    into the seasonal PROFILE (the mean at this position of the cycle
    — hour-of-day or day-of-week) plus a residual, and a row is
    anomalous when its |residual| exceeds k × the key's MAD of
    residuals.  BOTH the profile and the threshold are robust: the
    profile is the per-(key, position) MEDIAN, not the mean — a mean
    profile is contaminated by exactly the spikes it should expose
    (observed in this operator's own test: one daytime spike dragged
    the hour's mean 80 % off and flagged every normal row at that
    hour), and the MAD threshold is likewise immune to the outliers
    a variance threshold would absorb.

    Exactness: values snap once to micro-units; each (key, position)
    profile is the exact interpolated median of v_µ re-snapped to an
    integer (``F.percentile`` ≡ DuckDB ``quantile_cont`` bit-for-bit,
    the q79 lesson) — so residuals are EXACT integers; the per-key
    MAD is the exact interpolated median of |residual_µ|, rounded to
    6 places on both sides so the flag can never flip on a last-ULP
    interpolation difference.

    Scale: one (key, pos) exchange for profiles (≤ 24·keys / 7·keys
    reduced rows), one (key) exchange for the MAD (exact percentile
    needs a key's residuals on one reducer — fine to ~10^7 rows/key,
    same documented envelope as ``mad_outliers``), profile/MAD frames
    join back keyed (no broadcast assumption — profiles are
    keys×cycle-sized, not metadata-sized).

    Output per input row: (key, ts, pos, value, profile, resid,
    is_anomaly).
    """
    pos = {"hour_of_day": F.hour(F.col(ts_col)),
           "day_of_week": F.dayofweek(F.col(ts_col))}[period]
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(v.isNotNull())
            .select(F.col(key_col).alias("key"),
                    F.col(ts_col).alias("ts"),
                    pos.cast("int").alias("pos"), v.alias("vm")))
    prof = (base.groupBy("key", "pos")
            .agg(F.round(F.percentile(F.col("vm").cast("double"),
                                      F.lit(0.5)))
                 .cast("long").alias("pm")))
    j = (base.join(prof, ["key", "pos"])
         .withColumn("rm", F.col("vm") - F.col("pm")))
    mad = (j.groupBy("key")
           .agg(F.round(F.percentile(
               F.abs(F.col("rm")).cast("double"), F.lit(0.5)), 6)
               .alias("madm")))
    out = j.join(mad, "key")
    return out.select(
        F.col("key").alias(key_col), "ts", "pos",
        F.round(F.col("vm").cast("double") / F.lit(1e6), 6)
        .alias("value"),
        F.round(F.col("pm").cast("double") / F.lit(1e6), 6)
        .alias("profile"),
        F.round(F.col("rm").cast("double") / F.lit(1e6), 6)
        .alias("resid"),
        (F.abs(F.col("rm")).cast("double")
         > F.lit(float(k)) * F.col("madm")).alias("is_anomaly"))


def quantile_bin(df: DataFrame, *, value_col: str, id_col: str,
                 n_bins: int = 10, n_buckets: int = 64) -> DataFrame:
    """Equal-frequency (quantile) discretization — the binning step
    before WOE/IV scoring, chi² selection or monotone calibration
    turns a continuous feature into a categorical one: row rank r
    (1-based, (value, id) total order) maps to

        bin = ((r − 1) · n_bins) div n        ∈ [0, n_bins−1]

    so bins differ in size by at most 1 and the mapping is EXACT
    integer arithmetic — no float quantile boundary can put a row in
    different bins on different engines.  Ties at a bin edge split by
    the id tiebreak (deterministic; a dense-rank variant that keeps
    equal values together would make bin SIZES value-dependent —
    documented trade, this is the equal-frequency contract).

    The global rank runs the two-phase value-range bucket machinery
    (one data pass for bounds on a broadcast one-row frame, in-bucket
    row_numbers at n_buckets-way parallelism, broadcast bucket-offset
    frame) — no single-partition window.  NULL values are not binned
    and are absent from the output.

    Output per row: (id_col, value, rank, bin).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(v.isNotNull())
            .select(F.col(id_col).alias("id"), v.alias("vm")))
    bounds = base.agg(F.min("vm").alias("__lo"), F.max("vm").alias("__hi"))
    b = (base.crossJoin(F.broadcast(bounds))
         .withColumn("__b", F.expr(
             f"(vm - __lo) div ((__hi - __lo) div {B} + 1)")
             .cast("int")))
    w_in = Window.partitionBy("__b").orderBy("vm", "id")
    r = b.withColumn("__i_in", F.row_number().over(w_in))
    bc = b.groupBy("__b").agg(F.count("*").alias("__c"))
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding,
                                              -1)
    boff = bc.select(
        "__b", F.coalesce(F.sum("__c").over(w_off), F.lit(0))
        .alias("__off"))
    tot = bc.agg(F.sum("__c").cast("long").alias("__n"))
    r = (r.join(F.broadcast(boff), "__b")
         .crossJoin(F.broadcast(tot))
         .withColumn("rank",
                     (F.col("__off") + F.col("__i_in")).cast("long")))
    nb = int(n_bins)
    return r.select(
        F.col("id").alias(id_col),
        F.round(F.col("vm").cast("double") / F.lit(1e6), 6)
        .alias("value"),
        "rank",
        F.expr(f"((rank - 1) * {nb}) div __n").cast("int").alias("bin"))


def trimmed_stats(df: DataFrame, *, value_col: str, id_col: str,
                  trim_num: int = 5, trim_den: int = 100,
                  n_buckets: int = 64) -> DataFrame:
    """Trimmed and winsorized means — the robust-location pair between
    the mean (efficient, outlier-fragile) and the median (robust,
    throws away most of the data): drop (trimmed) or clamp
    (winsorized) the lowest and highest ⌊n·p⌋ ranks, p the RATIONAL
    trim_num/trim_den so the cut ranks

        k_lo = (n·p_num) div p_den + 1,   k_hi = n − (n·p_num) div p_den

    are one integer division each — never a float ⌈⌉ that moves a cut
    by one row on a near-integer (the split_conformal lesson).  Sums
    of the kept ranks are exact integer prefix algebra over micro-
    snapped values (DECIMAL(38,0)); the winsorized mean adds the
    boundary values v(k_lo)/v(k_hi) weighted by the clamped counts —
    all integers, three fixed-order divisions at the end.

    Over-trimming (k_lo > k_hi, p ≥ 1/2 on a tiny n) reports NULL
    means loudly rather than a silent empty average.

    Ranks run the two-phase value-range bucket machinery (no single-
    partition window); the k/boundary frames are one-row broadcasts.

    Output one row: (n, k_lo, k_hi, mean_raw, mean_trimmed,
    mean_winsor).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    pn, pd_ = int(trim_num), int(trim_den)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(v.isNotNull())
            .select(F.col(id_col).alias("id"), v.alias("vm")))
    bounds = base.agg(F.min("vm").alias("__lo"),
                      F.max("vm").alias("__hi"))
    b = (base.crossJoin(F.broadcast(bounds))
         .withColumn("__b", F.expr(
             f"(vm - __lo) div ((__hi - __lo) div {B} + 1)")
             .cast("int")))
    w_in = Window.partitionBy("__b").orderBy("vm", "id")
    r = b.withColumn("__i_in", F.row_number().over(w_in))
    bc = b.groupBy("__b").agg(F.count("*").alias("__c"))
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding,
                                              -1)
    boff = bc.select(
        "__b", F.coalesce(F.sum("__c").over(w_off), F.lit(0))
        .alias("__off"))
    ks = bc.agg(F.sum("__c").cast("long").alias("__n")).select(
        "__n",
        (F.expr(f"(__n * {pn}) div {pd_}") + 1).cast("long")
        .alias("__klo"),
        (F.col("__n") - F.expr(f"(__n * {pn}) div {pd_}")).cast("long")
        .alias("__khi"))
    r = (r.join(F.broadcast(boff), "__b")
         .crossJoin(F.broadcast(ks))
         .withColumn("__r", (F.col("__off") + F.col("__i_in"))
                     .cast("long")))
    agg = r.agg(
        F.max("__n").alias("n"),
        F.max("__klo").alias("k_lo"), F.max("__khi").alias("k_hi"),
        F.sum(d38(F.col("vm"))).alias("__s_all"),
        F.sum(F.when((F.col("__r") >= F.col("__klo"))
                     & (F.col("__r") <= F.col("__khi")),
                     d38(F.col("vm")))).alias("__s_tr"),
        F.max(F.when(F.col("__r") == F.col("__klo"), F.col("vm")))
        .alias("__v_lo"),
        F.max(F.when(F.col("__r") == F.col("__khi"), F.col("vm")))
        .alias("__v_hi"))
    n_d = F.col("n").cast("double")
    kept = (F.col("k_hi") - F.col("k_lo") + 1).cast("double")
    ok = F.col("k_lo") <= F.col("k_hi")
    mean_raw = F.round(F.col("__s_all").cast("double") / n_d
                       / F.lit(1e6), 6)
    mean_tr = F.when(ok, F.round(
        F.col("__s_tr").cast("double") / kept / F.lit(1e6), 6))
    wins_sum = (F.col("__s_tr")
                + d38(F.col("k_lo") - 1) * d38(F.col("__v_lo"))
                + d38(F.col("n") - F.col("k_hi"))
                * d38(F.col("__v_hi")))
    mean_wi = F.when(ok, F.round(
        wins_sum.cast("double") / n_d / F.lit(1e6), 6))
    return agg.select("n", "k_lo", "k_hi",
                      mean_raw.alias("mean_raw"),
                      mean_tr.alias("mean_trimmed"),
                      mean_wi.alias("mean_winsor"))


def rake_weights(cells: DataFrame, row_targets: DataFrame,
                 col_targets: DataFrame, *, a_col: str = "a",
                 b_col: str = "b", n_col: str = "n",
                 target_col: str = "t", rounds: int = 2) -> DataFrame:
    """Raking / iterative proportional fitting (Deming & Stephan
    1940, public) — the survey-reweighting standard: scale the cell
    weights of an (A × B) contingency table so its marginals match
    given row and column targets, alternating row and column
    proportional adjustments.  The pipeline use is drift correction /
    post-stratification: reweight a new batch's joint distribution to
    a reference period's marginals before comparing metrics.

    Exactness contract: weights live as micro-integers (w₀ = n·10⁶);
    each half-step rescales every cell by target/current-marginal as
    ONE fixed-operand-order double expression
    ``round(w · (T·10⁶) / S)`` and re-snaps, so marginal sums are
    exact integer sums between steps and the whole trajectory replays
    in any engine.  Iterations are UNROLLED (fixed ``rounds``, each =
    one row step + one column step) — the fixed-rounds honesty
    contract; IPF converges geometrically, 2–3 rounds is standard.
    Zero cells stay zero (structural zeros are preserved — the IPF
    property); a zero CURRENT marginal with a nonzero target cannot
    be satisfied and leaves that row's cells at zero rather than
    dividing by zero (NULL-safe guard, pinned).

    Scale: the cell table is vocabulary² (metadata-sized by the
    caller's bucketing, like the k-anonymity quasi space) — every
    join here is on frames of that size; the data-sized work is
    whatever produced ``cells``.

    Output: (a, b, n, w_micro) — achieved marginals are one groupBy
    away.
    """
    w = (cells.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"),
                      F.col(n_col).cast("long").alias("n"))
         .withColumn("w", (F.col("n") * F.lit(1_000_000)).cast("long")))
    rt = row_targets.select(F.col(a_col).alias("a"),
                            F.col(target_col).cast("long").alias("ta"))
    ct = col_targets.select(F.col(b_col).alias("b"),
                            F.col(target_col).cast("long").alias("tb"))

    def half_step(w_df, key, tgt, tname):
        s = w_df.groupBy(key).agg(F.sum("w").cast("long").alias("__s"))
        j = (w_df.join(s, key).join(tgt, key))
        new_w = F.when(
            F.col("__s") > 0,
            F.round(F.col("w").cast("double")
                    * (F.col(tname).cast("double") * F.lit(1e6))
                    / F.col("__s").cast("double")).cast("long")) \
            .otherwise(F.col("w"))
        return j.select("a", "b", "n", new_w.alias("w"))

    for _ in range(int(rounds)):
        w = half_step(w, "a", rt, "ta")
        w = half_step(w, "b", ct, "tb")
    return w.select("a", "b", "n", F.col("w").alias("w_micro"))


def gini_concentration(df: DataFrame, *, value_col: str, id_col: str,
                       n_buckets: int = 64) -> DataFrame:
    """Gini coefficient + Lorenz concentration shares — the standard
    inequality summary for traffic/corpus concentration (is 90 % of
    the crawl budget going to 1 % of hosts?):

        G = (2·Σ r·x_(r)) / (n·Σx)  −  (n+1)/n

    over the ascending (value, id) total order — an EXACT formula in
    integer sufficient statistics: values snap once to micro-units,
    Σ r·x_(r) runs in DECIMAL(38,0) (r·x crosses int64 at
    n·x̄ ≈ 10^13 µ), and G is fixed-order double algebra at the end.
    The top-decile share (fraction of total mass held by the top 10 %
    of rows, the Lorenz point operators actually act on) ships
    alongside from the same ranked pass: ranks > n − n div 10.

    Negative values are rejected loudly (Gini is defined for
    non-negative quantities; a silent answer on mixed-sign data is
    meaningless).  The rank runs the two-phase value-range machinery.

    Output one row: (n, total, gini, top10_share).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(v.isNotNull())
            .select(F.col(id_col).alias("id"), v.alias("vm")))
    bounds = base.agg(F.min("vm").alias("__lo"),
                      F.max("vm").alias("__hi"))
    b = (base.crossJoin(F.broadcast(bounds))
         .withColumn("__b", F.expr(
             f"(vm - __lo) div ((__hi - __lo) div {B} + 1)")
             .cast("int")))
    w_in = Window.partitionBy("__b").orderBy("vm", "id")
    r = b.withColumn("__i_in", F.row_number().over(w_in))
    bc = b.groupBy("__b").agg(F.count("*").alias("__c"))
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding,
                                              -1)
    boff = bc.select(
        "__b", F.coalesce(F.sum("__c").over(w_off), F.lit(0))
        .alias("__off"))
    tot = bc.agg(F.sum("__c").cast("long").alias("__n"))
    r = (r.join(F.broadcast(boff), "__b")
         .crossJoin(F.broadcast(tot))
         .withColumn("__r", (F.col("__off") + F.col("__i_in"))
                     .cast("long")))
    neg = F.sum((F.col("vm") < 0).cast("long"))
    agg = r.agg(
        F.max("__n").alias("n"),
        neg.alias("__neg"),
        F.sum(d38(F.col("vm"))).alias("__s"),
        F.sum(d38(F.col("__r")) * d38(F.col("vm"))).alias("__rs"),
        F.sum(F.when(
            F.col("__r") > F.col("__n") - F.expr("__n div 10"),
            d38(F.col("vm")))).alias("__top"))
    n_d = F.col("n").cast("double")
    gini = (F.lit(2.0) * F.col("__rs").cast("double")
            / (n_d * F.col("__s").cast("double"))
            - (n_d + F.lit(1.0)) / n_d)
    top = F.col("__top").cast("double") / F.col("__s").cast("double")
    return agg.select(
        "n",
        F.round(F.col("__s").cast("double") / F.lit(1e6), 6)
        .alias("total"),
        F.when(F.col("__neg") == 0, F.round(gini, 6)).alias("gini"),
        F.when(F.col("__neg") == 0, F.round(top, 6))
        .alias("top10_share"))


def spearman_rho(df: DataFrame, *, x_col: str, y_col: str,
                 n_buckets: int = 64) -> DataFrame:
    """Spearman rank correlation — the monotone-dependence measure
    that Pearson isn't: rank both variables (textbook AVERAGE ranks
    for ties) and take Pearson on the ranks, so any monotone
    relationship scores ±1 regardless of shape and outliers move one
    rank, not one magnitude.

    Exact tie handling without a single-partition window: a value v
    with count c and C values-strictly-below has average rank
    C + (c+1)/2 — kept integral as the DOUBLED rank a = 2C + c + 1.
    C comes from an exclusive prefix over the per-distinct-value count
    frame via the two-phase value-range bucket machinery (one pass per
    variable); rows join back to their value's (c, C) keyed.  Pearson
    on the doubled ranks is the same ρ (affine invariance) and runs on
    exact integer moments in DECIMAL(38,0) (Σa² ≈ 4n³ crosses int64
    at n ≈ 1.3·10⁶), with the usual fixed-order double algebra at the
    end.  A constant variable (zero rank variance) reports NULL, not
    a 0/0.

    Output one row: (n, rho).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    xm = F.round(F.col(x_col).cast("double") * 1e6).cast("long")
    ym = F.round(F.col(y_col).cast("double") * 1e6).cast("long")
    base = (df.filter(xm.isNotNull() & ym.isNotNull())
            .select(xm.alias("xm"), ym.alias("ym")))

    def ranks(col):
        dv = base.groupBy(col).agg(F.count("*").cast("long").alias("c"))
        bounds = dv.agg(F.min(col).alias("__lo"), F.max(col).alias("__hi"))
        b = (dv.crossJoin(F.broadcast(bounds))
             .withColumn("__b", F.expr(
                 f"({col} - __lo) div ((__hi - __lo) div {B} + 1)")
                 .cast("int")))
        w_in = (Window.partitionBy("__b").orderBy(col)
                .rowsBetween(Window.unboundedPreceding, -1))
        b = b.withColumn("__cin",
                         F.coalesce(F.sum("c").over(w_in), F.lit(0)))
        bc = b.groupBy("__b").agg(F.sum("c").alias("__ct"))
        w_off = (Window.orderBy("__b")
                 .rowsBetween(Window.unboundedPreceding, -1))
        boff = bc.select("__b", F.coalesce(
            F.sum("__ct").over(w_off), F.lit(0)).alias("__off"))
        return (b.join(F.broadcast(boff), "__b")
                .select(col,
                        (F.lit(2) * (F.col("__cin") + F.col("__off"))
                         + F.col("c") + F.lit(1)).cast("long")
                        .alias(f"__a_{col}")))

    r = (base.join(ranks("xm"), "xm").join(ranks("ym"), "ym"))
    a, bb = F.col("__a_xm"), F.col("__a_ym")
    agg = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d38(a)).alias("__sa"), F.sum(d38(bb)).alias("__sb"),
        F.sum(d38(a) * d38(a)).alias("__saa"),
        F.sum(d38(bb) * d38(bb)).alias("__sbb"),
        F.sum(d38(a) * d38(bb)).alias("__sab"))
    n_d = F.col("n").cast("double")
    sa, sb = F.col("__sa").cast("double"), F.col("__sb").cast("double")
    num = n_d * F.col("__sab").cast("double") - sa * sb
    va = n_d * F.col("__saa").cast("double") - sa * sa
    vb = n_d * F.col("__sbb").cast("double") - sb * sb
    rho = F.when((va > 0) & (vb > 0),
                 F.round(num / F.sqrt(va * vb), 6))
    return agg.select("n", rho.alias("rho"))


def welch_ttest(df: DataFrame, *, value_col: str, group_col: str,
                group_a, group_b) -> DataFrame:
    """Welch's two-sample t-test + Cohen's d — the plain
    difference-in-means inference missing between the rank tests
    (Mann-Whitney) and the adjusted estimators (CUPED): Student's
    pooled t assumes EQUAL variances and its size is wrong when the
    bigger group has the smaller variance, Welch's statistic
    t = (x̄_a − x̄_b)/√(s²_a/n_a + s²_b/n_b) with the
    Welch-Satterthwaite effective degrees of freedom
    ν = (s²_a/n_a + s²_b/n_b)² / ((s²_a/n_a)²/(n_a−1)
        + (s²_b/n_b)²/(n_b−1)) stays calibrated.  Cohen's d uses the
    POOLED standard deviation (the effect-size convention), reported
    alongside so a significant t on a huge n can't masquerade as a
    large effect.

    Exactness: values micro-snapped to int64; per-group sufficient
    statistics (n, Σx, Σx²) are exact integer sums in DECIMAL(38,0)
    (Σx² ≈ n·10¹⁸ for 10⁶-micro values crosses int64 immediately)
    accumulated by ONE conditional aggregation pass — no join, no
    shuffle beyond the single partial agg; every derived quantity is
    a fixed-order double expression over those integers, so both
    engines execute identical IEEE operations.  Guards: a group with
    n < 2 or a zero standard error reports NULL t/df (never ±inf or
    0/0); zero pooled variance reports NULL d.

    Output one row: (n_a, n_b, mean_a, mean_b, t, df, cohen_d),
    means in original units, all rounded to 6.
    """
    m = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(m.isNotNull() & g.isin([group_a, group_b]))
            .select((g == F.lit(group_a)).alias("__ia"), m.alias("__m")))
    one_if = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")
    agg = base.agg(
        one_if(F.col("__ia")).alias("na"),
        one_if(~F.col("__ia")).alias("nb"),
        F.sum(F.when(F.col("__ia"), d38(F.col("__m")))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("__sa"),
        F.sum(F.when(~F.col("__ia"), d38(F.col("__m")))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("__sb"),
        F.sum(F.when(F.col("__ia"), d38(F.col("__m")) * d38(F.col("__m")))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("__saa"),
        F.sum(F.when(~F.col("__ia"), d38(F.col("__m")) * d38(F.col("__m")))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("__sbb"))
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    sa, sb = F.col("__sa").cast("double"), F.col("__sb").cast("double")
    saa = F.col("__saa").cast("double")
    sbb = F.col("__sbb").cast("double")
    # ANSI sessions raise on /0 even under an F.when guard (both
    # branches evaluate), so every denominator that CAN be zero
    # (empty/singleton group, zero SE) is nulled first — NULL then
    # propagates into the same NULL the guards would have produced.
    mean_a, mean_b = sa / nz(na), sb / nz(nb)
    # (n−1)·s² · n  =  n·Σx² − (Σx)²  — exact in decimal, one double cast
    va_num = na * saa - sa * sa          # = n_a² · (n_a−1)/n_a · s²_a
    vb_num = nb * sbb - sb * sb
    s2a = va_num / nz(na * (na - F.lit(1.0)))
    s2b = vb_num / nz(nb * (nb - F.lit(1.0)))
    se2 = s2a / nz(na) + s2b / nz(nb)
    ok = (F.col("na") >= 2) & (F.col("nb") >= 2) & (se2 > 0)
    t = F.when(ok, F.round((mean_a - mean_b) / nz(F.sqrt(se2)), 6))
    dfw = F.when(ok, F.round(
        se2 * se2 / nz((s2a / nz(na)) * (s2a / nz(na)) / nz(na - F.lit(1.0))
                       + (s2b / nz(nb)) * (s2b / nz(nb))
                       / nz(nb - F.lit(1.0))), 6))
    pooled = ((na - F.lit(1.0)) * s2a + (nb - F.lit(1.0)) * s2b) \
        / nz(na + nb - F.lit(2.0))
    okd = (F.col("na") + F.col("nb") >= 3) & (F.col("na") >= 2) \
        & (F.col("nb") >= 2) & (pooled > 0)
    d = F.when(okd, F.round((mean_a - mean_b) / nz(F.sqrt(pooled)), 6))
    return agg.select(
        "na", "nb",
        F.round(mean_a / F.lit(1e6), 6).alias("mean_a"),
        F.round(mean_b / F.lit(1e6), 6).alias("mean_b"),
        t.alias("t"), dfw.alias("df"), d.alias("cohen_d"))


def anova_oneway(df: DataFrame, *, value_col: str,
                 group_col: str) -> DataFrame:
    """One-way ANOVA F-test + η² across k groups — the k-sample
    extension Welch's two-sample t can't cover: does the group factor
    explain any of the value variance at all, and how much (η² =
    SSB/SST, the effect size a bare F on huge n can't convey).

    Exactness discipline: values micro-snapped to int64; per-group
    sufficient statistics (n_g, ΣX, ΣX²) are exact DECIMAL(38,0) sums
    from ONE groupBy pass.  The between-groups terms S_g²/n_g are
    per-group fixed-order doubles snapped to MICRO-UNIT² integers
    (≈10¹⁴ ≪ 2⁵³, exactly representable) BEFORE the cross-group sum,
    so the total is an order-independent exact integer — the same
    snap-before-sum rule as Mantel-Haenszel/log-rank; ΣX² goes
    through the identical snap so SSW = SS − ΣA_g is exact integer
    arithmetic.  F and η² are fixed-order doubles over those
    integers.  Guards: k < 2, n ≤ k or zero within-variance report
    NULL F (never ±inf/0-div); η² is NULL when SST = 0.

    Output one row: (k, n, ss_between, ss_within, f, eta2) with the
    sums of squares in original units², all rounded to 6.
    """
    m = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(m.isNotNull() & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("__g"), m.alias("__m")))
    per = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("__n"),
        F.sum(d38(F.col("__m"))).alias("__s"),
        F.sum(d38(F.col("__m")) * d38(F.col("__m"))).alias("__ss"))
    # per-group between term: round(S_g²/n_g / 1e12 · 1e6)  (µ-unit²)
    a_g = F.round(F.col("__s").cast("double")
                  * F.col("__s").cast("double")
                  / F.col("__n").cast("double") / F.lit(1e12)
                  * F.lit(1e6)).cast("long")
    ss_g = F.round(F.col("__ss").cast("double") / F.lit(1e12)
                   * F.lit(1e6)).cast("long")
    agg = per.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("__n").alias("n"),
        F.sum(d38(F.col("__s"))).alias("__stot"),
        F.sum(d38(a_g)).alias("__sa"),
        F.sum(d38(ss_g)).alias("__sss"))
    # grand term from the exact total sum, same snap
    a_tot = F.round(F.col("__stot").cast("double")
                    * F.col("__stot").cast("double")
                    / F.col("n").cast("double") / F.lit(1e12)
                    * F.lit(1e6)).cast("long")
    ssb = F.col("__sa").cast("double") - a_tot.cast("double")
    ssw = F.col("__sss").cast("double") - F.col("__sa").cast("double")
    sst = F.col("__sss").cast("double") - a_tot.cast("double")
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    fstat = F.when((F.col("k") >= 2) & (F.col("n") > F.col("k"))
                   & (ssw > 0),
                   F.round((ssb / (kd - F.lit(1.0)))
                           / nz(ssw / (nd - kd)), 6))
    eta2 = F.when(sst > 0, F.round(ssb / nz(sst), 6))
    return agg.select(
        "k", "n",
        F.round(ssb / F.lit(1e6), 6).alias("ss_between"),
        F.round(ssw / F.lit(1e6), 6).alias("ss_within"),
        fstat.alias("f"), eta2.alias("eta2"))


def theil_sen_by_key(df: DataFrame, *, x_col: str, y_col: str,
                     by: str) -> DataFrame:
    """Per-key Theil–Sen robust slope — the trend estimator
    ``ols_trend_by_key`` isn't: the median of all pairwise slopes has
    a 29.3 % breakdown point, so a burst of outlier observations that
    drags the OLS line (pinned in tests) leaves the Theil–Sen slope
    on the inlier trend.

    Exactness: x and y micro-snap to int64; each pair (i, j) with
    x_i < x_j contributes slope_micro = round((y_j−y_i)·10⁶ /
    (x_j−x_i)) — a fixed-order double over exact integers, snapped
    per pair; the per-key MEDIAN of those integers is exact order
    statistics (even count → truncating mean of the two middles,
    documented), and slope ties need no tie-break because the k-th
    VALUE is order-invariant under ties.  Same-x pairs are excluded
    (the textbook convention — their slope is undefined).

    Scale notes: pairs come from one keyed self-join — O(n²) per key
    BY DESIGN (that is the estimator); bound per-key n upstream
    (recent-window cap) exactly as for the fold operators.  One
    shuffle for the self-join, one key-sized median window.

    Output per key: (by, n, n_pairs, slope_micro); keys with no
    valid pair (n < 2 or all x equal) report NULL slope.
    """
    from pyspark.sql import Window

    xm = F.round(F.col(x_col).cast("double") * 1e6).cast("long")
    ym = F.round(F.col(y_col).cast("double") * 1e6).cast("long")
    base = (df.filter(xm.isNotNull() & ym.isNotNull())
            .select(F.col(by).alias("__k"), xm.alias("__x"),
                    ym.alias("__y")))
    n_per = base.groupBy("__k").agg(F.count("*").cast("long").alias("n"))
    l = base.select("__k", F.col("__x").alias("__xa"),
                    F.col("__y").alias("__ya"))
    r = base.select("__k", F.col("__x").alias("__xb"),
                    F.col("__y").alias("__yb"))
    pairs = (l.join(r, "__k")
             .filter(F.col("__xa") < F.col("__xb"))
             .select("__k", F.round(
                 (F.col("__yb") - F.col("__ya")).cast("double")
                 * F.lit(1e6)
                 / (F.col("__xb") - F.col("__xa")).cast("double"))
                 .cast("long").alias("__s")))
    w = Window.partitionBy("__k").orderBy("__s")
    ranked = (pairs.withColumn("__rn", F.row_number().over(w))
              .withColumn("__np", F.count("*").over(
                  Window.partitionBy("__k"))))
    k1 = F.expr("(__np + 1) div 2")
    k2 = F.expr("(__np + 2) div 2")
    med = (ranked.filter((F.col("__rn") == k1) | (F.col("__rn") == k2))
           .groupBy("__k")
           .agg(F.max("__np").cast("long").alias("n_pairs"),
                # one middle selected twice when np is odd → sum/cnt
                # still lands on it; even np averages the two middles
                (F.sum("__s") / F.count("*")).cast("long")
                .alias("slope_micro")))
    return (n_per.join(med, "__k", "left")
            .select(F.col("__k").alias(by), "n",
                    F.coalesce("n_pairs", F.lit(0).cast("long"))
                    .alias("n_pairs"),
                    F.col("slope_micro")))


def ccf_by_key(df: DataFrame, *, key_col: str, order_col: str,
               x_col: str, y_col: str, tiebreak_col: str,
               max_lag: int = 3) -> DataFrame:
    """Sample cross-correlation r_xy(l), l = −max_lag..max_lag, per
    key over two integer series aligned on the same order grid — the
    LEAD-LAG probe ``acf_by_key`` can't be: does x move BEFORE y
    (marketing spend before purchases, crawl activity before index
    updates)?  A positive peak at l > 0 means x at time t correlates
    with y at time t+l, i.e. x leads.

    Same exactness contract as the ACF: with full-series sums
    S_x, S_y, S_xx, S_yy and per-lag pair sums P_l = Σ a·b,
    Σa, Σb over the m = n−|l| aligned pairs,

        num(l)  = n²·P_l − n·S_x·Σb − n·S_y·Σa + m·S_x·S_y
        r(l)    = num(l) / (n·√((n·S_xx−S_x²)·(n·S_yy−S_y²)))

    — integer numerator (exact, partitioning-independent), one final
    double expression.  Positive lags pair (x_t, y_{t+l}); negative
    lags pair (x_{t+|l|}, y_t).  Constant series → NULL r.  Values
    must already be exact integers (same upstream-scaling rule and
    int64 range note as the ACF); ``tiebreak_col`` is required for a
    deterministic order.

    Scale: ONE key-partitioned sort-window exchange computes every
    lag (the leads share the frame); the groupBy reuses the same
    partitioning.

    Output per (key, lag): (key_col, n, lag, ccf_num, den_x, den_y,
    r); lags with no pairs (|l| ≥ n) are not emitted.
    """
    from pyspark.sql import Window

    L = int(max_lag)
    if L < 1:
        raise ValueError("max_lag must be >= 1")
    w = Window.partitionBy(key_col).orderBy(
        F.col(order_col).asc(), F.col(tiebreak_col).asc())
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    cols = [F.col(key_col).alias("__k"), x.alias("__x"), y.alias("__y")]
    for lag in range(1, L + 1):
        cols.append(F.lead(y, lag).over(w).alias(f"__yl{lag}"))
        cols.append(F.lead(x, lag).over(w).alias(f"__xl{lag}"))
    base = df.select(*cols)
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum("__x").cast("long").alias("sx"),
            F.sum("__y").cast("long").alias("sy"),
            F.sum(F.col("__x") * F.col("__x")).cast("long").alias("sxx"),
            F.sum(F.col("__y") * F.col("__y")).cast("long").alias("syy"),
            F.sum(F.col("__x") * F.col("__y")).cast("long")
            .alias("sxy0")]
    for lag in range(1, L + 1):
        yl, xl = F.col(f"__yl{lag}"), F.col(f"__xl{lag}")
        aggs += [
            F.sum(F.col("__x") * yl).cast("long").alias(f"pp{lag}"),
            F.sum(F.when(yl.isNotNull(), F.col("__x")))
            .cast("long").alias(f"pa{lag}"),
            F.sum(yl).cast("long").alias(f"pb{lag}"),
            F.sum(F.col("__y") * xl).cast("long").alias(f"np{lag}"),
            F.sum(xl).cast("long").alias(f"na{lag}"),
            F.sum(F.when(xl.isNotNull(), F.col("__y")))
            .cast("long").alias(f"nb{lag}")]
    g = base.groupBy("__k").agg(*aggs)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    denx = n * F.col("sxx") - sx * sx
    deny = n * F.col("syy") - sy * sy
    per_lag = []
    for lag in range(-L, L + 1):
        if lag > 0:
            p = F.coalesce(F.col(f"pp{lag}"), F.lit(0))
            a = F.coalesce(F.col(f"pa{lag}"), F.lit(0))
            b = F.coalesce(F.col(f"pb{lag}"), F.lit(0))
        elif lag < 0:
            p = F.coalesce(F.col(f"np{-lag}"), F.lit(0))
            a = F.coalesce(F.col(f"na{-lag}"), F.lit(0))
            b = F.coalesce(F.col(f"nb{-lag}"), F.lit(0))
        else:                       # lag 0 = plain Pearson pairing
            p, a, b = F.col("sxy0"), sx, sy
        m = n - F.lit(abs(lag))
        num = n * n * p - n * sx * b - n * sy * a + m * sx * sy
        per_lag.append(F.struct(
            F.lit(lag).cast("long").alias("lag"),
            num.cast("long").alias("ccf_num")))
    out = (g.select("__k", "n", denx.cast("long").alias("den_x"),
                    deny.cast("long").alias("den_y"),
                    F.explode(F.array(*per_lag)).alias("__l"))
           .filter(F.abs(F.col("__l.lag")) < F.col("n")))
    r = F.when(
        (F.col("den_x") > 0) & (F.col("den_y") > 0),
        F.round(F.col("__l.ccf_num").cast("double")
                / (F.col("n").cast("double")
                   * F.sqrt(F.col("den_x").cast("double")
                            * F.col("den_y").cast("double"))), 6))
    return out.select(F.col("__k").alias(key_col), "n",
                      F.col("__l.lag").alias("lag"),
                      F.col("__l.ccf_num").alias("ccf_num"),
                      "den_x", "den_y", r.alias("r"))


def randomization_test(df: DataFrame, *, id_col: str, group_col: str,
                       group_a, value_col: str,
                       n_reps: int = 30, salt: str = "") -> DataFrame:
    """Deterministic randomization test for a difference in means —
    the distribution-free significance check next to Welch's t (which
    assumes approximate normality of the mean) and Mann-Whitney
    (which tests ranks, not the mean): reassign every unit to a
    pseudo-group by an md5 coin with P(A) = n_a/n, recompute the mean
    difference per replicate, and count replicates at least as
    extreme as the observed difference,

        p = (1 + #{|Δ_b| ≥ |Δ_obs|}) / (B + 1)

    (the add-one estimator that can never report p = 0).  This is the
    Bernoulli-randomization variant of the permutation test (group
    sizes vary binomially around n_a rather than being fixed —
    documented; exact fixed-size permutation does not distribute).

    Determinism discipline (the poisson_bootstrap machinery): the
    coin is u = md5(id ‖ ':' ‖ b ‖ ':' ‖ salt) as a 48-bit integer
    compared against threshold ⌊2⁴⁸·n_a/n⌋ computed in DECIMAL(38,0)
    (2⁴⁸·n_a crosses int64 at n_a ≈ 3·10⁴ — observed); per-replicate
    means come from exact integer conditional sums; |Δ| is µ-snapped
    BEFORE the ≥ comparison so the count is an exact integer in both
    engines.  Output one row: (n, n_a, n_b, b_reps, diff_micro,
    p_num, p_den, p).

    Scale: one totals agg broadcast in-plan, one explode×B pass with
    a (b)-keyed partial agg, one B-row reduction — no collect.
    """
    B = int(n_reps)
    x = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(x.isNotNull() & g.isNotNull())
            .select(F.col(id_col).cast("string").alias("id"),
                    (g == F.lit(group_a)).alias("ia"), x.alias("x")))
    tot = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("ia"), F.col("x").cast("decimal(38,0)"))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sa"),
        F.sum(F.when(~F.col("ia"), F.col("x").cast("decimal(38,0)"))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sb"))
    tot = tot.select(
        "n", "n_a", (F.col("n") - F.col("n_a")).alias("n_b"),
        # floor division, NOT a decimal cast (which rounds HALF_UP):
        # thr = (2^48 * n_a) div n in DECIMAL(38,0)
        # NULLIF-guard the divisor: with an empty (fully filtered)
        # input n = 0 and ANSI sessions would raise instead of
        # returning the NULL-field row (ADVICE r3)
        F.expr("CAST((CAST(281474976710656 AS DECIMAL(38,0)) "
               "* CAST(n_a AS DECIMAL(38,0))) div NULLIF(n, 0) "
               "AS BIGINT)")
        .alias("thr"),
        F.round(F.abs(
            F.col("sa").cast("double")
            / F.when(F.col("n_a") != 0, F.col("n_a").cast("double"))
            - F.col("sb").cast("double")
            / F.when(F.col("n") != F.col("n_a"),
                     (F.col("n") - F.col("n_a")).cast("double"))))
        .cast("long").alias("diff_micro"))
    e = (base.crossJoin(F.broadcast(tot))
         .withColumn("b", F.explode(F.sequence(F.lit(0),
                                               F.lit(B - 1)))))
    u = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("id"), F.col("b").cast("string"), F.lit(salt))
        .cast("binary")), 1, 12), 16, 10).cast("long")
    e = e.withColumn("pa", u < F.col("thr"))
    per = e.groupBy("b").agg(
        F.max("diff_micro").alias("diff_micro"),
        F.sum(F.when(F.col("pa"), 1).otherwise(0)).cast("long")
        .alias("ra"),
        F.count("*").cast("long").alias("rn"),
        F.sum(F.when(F.col("pa"), F.col("x").cast("decimal(38,0)"))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("psa"),
        F.sum(F.when(~F.col("pa"), F.col("x").cast("decimal(38,0)"))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("psb"))
    d_b = F.round(F.abs(
        F.col("psa").cast("double") / nz(F.col("ra").cast("double"))
        - F.col("psb").cast("double")
        / nz((F.col("rn") - F.col("ra")).cast("double")))).cast("long")
    hits = per.agg(
        F.sum(F.when(d_b >= F.col("diff_micro"), 1).otherwise(0))
        .cast("long").alias("__h"))
    out = (tot.crossJoin(F.broadcast(hits)))
    ok = F.col("diff_micro").isNotNull()
    return out.select(
        "n", "n_a", "n_b", F.lit(B).cast("long").alias("b_reps"),
        "diff_micro",
        F.when(ok, F.col("__h") + 1).cast("long").alias("p_num"),
        F.lit(B + 1).cast("long").alias("p_den"),
        F.when(ok, F.round((F.col("__h") + 1).cast("double")
                           / F.lit(float(B + 1)), 6)).alias("p"))


def brown_forsythe(df: DataFrame, *, value_col: str, group_col: str,
                   n_buckets: int = 64) -> DataFrame:
    """Brown–Forsythe test for equal variances (Levene's test with
    MEDIAN centers — robust where Levene's mean centers inherit the
    outliers they're supposed to detect): one-way ANOVA on the
    absolute deviations z = |x − median_g|.  This is the precondition
    gate for pooled-variance procedures: a significant F here says
    use Welch, not Student.

    Exact composition: per-group medians come from the two-phase
    (group, value-range-bucket) rank machinery — in-bucket
    row_numbers + per-group broadcast bucket offsets, no
    data-sized single-group window — and are kept integral as the
    DOUBLED median m2 = x_(k1) + x_(k2) (the two middle micro values;
    equal when n is odd), so the deviation 2·|x·10⁶| − … lives in
    exact DOUBLED-micro integers: z_i = |2·x_i·10⁶ − m2|.  The
    F statistic then reuses :func:`anova_oneway`'s snapped machinery
    verbatim on z/2 in original units.

    Output one row, anova_oneway's schema: (k, n, ss_between,
    ss_within, f, eta2) over the deviations.
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(v.isNotNull() & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("__g"), v.alias("__vm")))
    bounds = base.groupBy("__g").agg(F.min("__vm").alias("__lo"),
                                     F.max("__vm").alias("__hi"),
                                     F.count("*").alias("__n"))
    b = (base.join(F.broadcast(bounds), "__g")
         .withColumn("__b", F.expr(
             f"(__vm - __lo) div ((__hi - __lo) div {B} + 1)")
             .cast("int")))
    w_in = Window.partitionBy("__g", "__b").orderBy("__vm")
    r = b.withColumn("__i_in", F.row_number().over(w_in))
    bc = b.groupBy("__g", "__b").agg(F.count("*").alias("__c"))
    w_off = (Window.partitionBy("__g").orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, -1))
    boff = bc.select("__g", "__b", F.coalesce(
        F.sum("__c").over(w_off), F.lit(0)).alias("__off"))
    r = (r.join(F.broadcast(boff), ["__g", "__b"])
         .withColumn("__rk", F.col("__off") + F.col("__i_in")))
    k1 = F.expr("(__n + 1) div 2")
    k2 = F.expr("(__n + 2) div 2")
    med2 = (r.filter((F.col("__rk") == k1) | (F.col("__rk") == k2))
            .groupBy("__g")
            .agg((F.sum("__vm")
                  * F.when(F.count("*") == 1, 2).otherwise(1))
                 .cast("long").alias("__m2")))
    z = (base.join(F.broadcast(med2), "__g")
         .select("__g",
                 (F.abs(F.lit(2) * F.col("__vm") - F.col("__m2"))
                  .cast("double") / F.lit(2e6)).alias("__z")))
    return anova_oneway(z, value_col="__z", group_col="__g")


def mcnemar_test(df: DataFrame, *, a_col: str, b_col: str) -> DataFrame:
    """McNemar's test for paired binary outcomes — the PAIRED design
    chi²/confusion can't handle: two raters/classifiers/conditions on
    the SAME units, where only the discordant pairs carry information
    (a unit both flag or both miss says nothing about which is
    better).  b = #(A=1, B=0), c = #(A=0, B=1);

        χ²_cc = (|b − c| − 1)² / (b + c)

    (the continuity-corrected statistic, df = 1).  Exact int64
    counts from one conditional-aggregation pass; the statistic is
    one fixed-order double; b + c = 0 (no discordant pairs) reports
    NULL, never 0/0.  The concordant counts ride along so the
    discordant fraction is visible.

    Output one row: (n, n_both, n_neither, b, c, chi2_cc) —
    n_both/n_neither prefixed because ``both`` is a reserved word in
    several engines.
    """
    a = F.col(a_col).cast("boolean")
    bb = F.col(b_col).cast("boolean")
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")
    agg = (df.filter(a.isNotNull() & bb.isNotNull())
           .select(a.alias("__a"), bb.alias("__b"))
           .agg(F.count("*").cast("long").alias("n"),
                cnt(F.col("__a") & F.col("__b")).alias("n_both"),
                cnt(~F.col("__a") & ~F.col("__b")).alias("n_neither"),
                cnt(F.col("__a") & ~F.col("__b")).alias("b"),
                cnt(~F.col("__a") & F.col("__b")).alias("c")))
    bd, cd = F.col("b").cast("double"), F.col("c").cast("double")
    num = (F.abs(bd - cd) - F.lit(1.0))
    chi2 = F.when(F.col("b") + F.col("c") > 0,
                  F.round(num * num / nz(bd + cd), 6))
    return agg.select("n", "n_both", "n_neither", "b", "c",
                      chi2.alias("chi2_cc"))


def sign_test(df: DataFrame, *, x_col: str, y_col: str) -> DataFrame:
    """Paired sign test — the assumption-free paired comparison:
    count units where y > x vs y < x (micro-snapped, so 'tie' is a
    deterministic integer equality, not a float ==); under H₀ the
    signs are a fair coin over the non-tied pairs.  Reports the
    continuity-corrected normal z = (|pos − neg| − 1)/√(pos + neg)
    (the standard large-sample form); ties are EXCLUDED from the
    test and reported (the textbook convention — modeling ties is a
    different test).

    Exact int64 counts, one pass, one fixed-order double; no
    non-tied pairs → NULL z.

    Output one row: (n, n_pos, n_neg, n_tie, z).
    """
    xm = F.round(F.col(x_col).cast("double") * 1e6).cast("long")
    ym = F.round(F.col(y_col).cast("double") * 1e6).cast("long")
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")
    agg = (df.filter(xm.isNotNull() & ym.isNotNull())
           .select(xm.alias("__x"), ym.alias("__y"))
           .agg(F.count("*").cast("long").alias("n"),
                cnt(F.col("__y") > F.col("__x")).alias("n_pos"),
                cnt(F.col("__y") < F.col("__x")).alias("n_neg"),
                cnt(F.col("__y") == F.col("__x")).alias("n_tie")))
    p, q_ = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    z = F.when(F.col("n_pos") + F.col("n_neg") > 0,
               F.round((F.abs(p - q_) - F.lit(1.0))
                       / nz(F.sqrt(p + q_)), 6))
    return agg.select("n", "n_pos", "n_neg", "n_tie", z.alias("z"))


def hellinger_drift(ref: DataFrame, cur: DataFrame, *, value_col: str,
                    bins: int = 10) -> DataFrame:
    """Hellinger / Bhattacharyya drift per reference-quantile bin —
    the BOUNDED companion to :func:`psi_drift`: PSI is unbounded (a
    bin going empty explodes the term even with smoothing), while the
    Bhattacharyya coefficient BC = Σ√(p·q) lives in [0, 1] and the
    Hellinger distance √(1−BC) is a proper metric in [0, 1], so
    thresholds transfer between features of different scales.

    Identical machinery to the PSI: bins are the reference's exact
    interpolated quantiles (boundaries rounded to 6, the q168
    policy), counts +1-smoothed, and the per-bin term √(p·q) rounds
    to 12 places (sqrt is transcendental-adjacent — last-ULP engine
    differences absorbed the same way as PSI's ln).  No cross-row
    float sum: callers sum the bc_terms client-side (BC ≤ 1 by
    Cauchy-Schwarz) and take √(1−BC) for the headline Hellinger.

    Returns one row per bin: (bin_idx, ref_n, cur_n, bc_term).
    """
    fracs = [i / bins for i in range(1, bins)]
    b = ref.agg(F.transform(
        F.percentile(F.col(value_col).cast("double"),
                     F.array(*[F.lit(f) for f in fracs])),
        lambda x: F.round(x, 6)).alias("__b"))

    def binned(df: DataFrame) -> DataFrame:
        x = F.col(value_col).cast("double")
        idx = F.aggregate(
            F.col("__b"), F.lit(1),
            lambda acc, bd: acc + (x > bd).cast("int"))
        return (df.crossJoin(F.broadcast(b))
                .select(idx.alias("bin_idx"))
                .groupBy("bin_idx").agg(F.count("*").alias("n")))

    r = binned(ref).withColumnRenamed("n", "ref_n")
    c = binned(cur).withColumnRenamed("n", "cur_n")
    tot = (r.agg(F.sum("ref_n").alias("rt"))
           .crossJoin(c.agg(F.sum("cur_n").alias("ct"))))
    j = (r.join(c, "bin_idx", "left")
         .withColumn("cur_n", F.coalesce("cur_n", F.lit(0)))
         .crossJoin(F.broadcast(tot)))
    p = (F.col("ref_n") + 1).cast("double") / (F.col("rt") + bins)
    qq = (F.col("cur_n") + 1).cast("double") / (F.col("ct") + bins)
    return j.select(
        "bin_idx", F.col("ref_n").cast("long").alias("ref_n"),
        F.col("cur_n").cast("long").alias("cur_n"),
        F.round(F.sqrt(p * qq), 12).alias("bc_term"))


def cochrans_q(df: DataFrame, *, cols: list[str]) -> DataFrame:
    """Cochran's Q — the k-condition extension of :func:`mcnemar_test`
    (k = 2 reduces to McNemar without continuity correction, pinned):
    do k binary raters/classifiers/conditions applied to the SAME
    units have equal marginal rates?

        Q = k(k−1)·Σ_j(C_j − T/k)² / (k·T − Σ_i R_i²)

    with R_i the unit's row sum, C_j the condition totals, T = ΣR_i.
    All sufficient statistics (T, ΣR², every C_j) are exact int64
    sums from ONE conditional-aggregation pass; Q is one fixed-order
    double expression — the numerator k·Σ(k·C_j − T)² over
    denominator k·(k·T − ΣR²) keeps even the centered squares in
    exact integers (k·C_j − T is integral, no mean subtraction in
    floats).  Units where all conditions agree contribute R(k−R) = 0
    to the denominator — the McNemar only-discordance-informs rule,
    generalized.  Zero denominator (every unit unanimous) → NULL.

    Output one row: (n, k, q, plus c_1..c_k condition totals as an
    array column ``c_totals``).
    """
    k = len(cols)
    if k < 2:
        raise ValueError("need at least 2 condition columns")
    bs = [F.col(c).cast("boolean").cast("int") for c in cols]
    row_sum = sum(bs[1:], bs[0])
    base = df.select(*[b.alias(f"__c{i}") for i, b in enumerate(bs)],
                     row_sum.alias("__r"))
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum("__r").cast("long").alias("__T"),
            F.sum(F.col("__r") * F.col("__r")).cast("long")
            .alias("__R2")]
    aggs += [F.sum(f"__c{i}").cast("long").alias(f"__C{i}")
             for i in range(k)]
    agg = base.agg(*aggs)
    # numerator: (k-1) * Σ_j (k·C_j − T)²   (exact integers squared)
    num_terms = None
    for i in range(k):
        t = (F.lit(k) * F.col(f"__C{i}") - F.col("__T"))
        sq = t.cast("decimal(38,0)") * t.cast("decimal(38,0)")
        num_terms = sq if num_terms is None else num_terms + sq
    num = F.lit(k - 1).cast("decimal(38,0)") * num_terms
    den = (F.lit(k).cast("decimal(38,0)")
           * (F.lit(k) * F.col("__T").cast("decimal(38,0)")
              - F.col("__R2").cast("decimal(38,0)")))
    q_stat = F.round(num.cast("double") / nz(den.cast("double")), 6)
    return agg.select(
        "n", F.lit(k).cast("int").alias("k"),
        F.array(*[F.col(f"__C{i}").alias(f"c{i}")
                  for i in range(k)]).alias("c_totals"),
        q_stat.alias("q"))


def cronbach_alpha(df: DataFrame, *, cols: list[str]) -> DataFrame:
    """Cronbach's α — internal-consistency reliability of a k-item
    scale (do the k per-unit measurements move together enough to be
    averaged into one score?):

        α = k/(k−1) · (1 − Σ_j var_j / var_total)

    with var_j the per-item variance and var_total the variance of
    the per-unit sum.  α near 1: items are interchangeable signals;
    near 0 (or negative): averaging them is noise laundering.

    Exactness: items micro-snap to int64; every variance comes from
    exact DECIMAL(38,0) moments of the items and of the row sum
    (n·Σx² − (Σx)², the usual identity) accumulated in ONE pass; the
    per-item variance terms are integers, so Σvar_j·n² is an exact
    decimal sum (order-independent), and α is one fixed-order double
    ratio.  Zero total variance → NULL.

    Output one row: (n, k, alpha).
    """
    k = len(cols)
    if k < 2:
        raise ValueError("need at least 2 item columns")
    ms = [F.round(F.col(c).cast("double") * 1e6).cast("long")
          for c in cols]
    tot = sum(ms[1:], ms[0])
    sel = [m.alias(f"__x{i}") for i, m in enumerate(ms)]
    base = df.select(*sel, tot.alias("__t"))
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum(d38(F.col("__t"))).alias("__st"),
            F.sum(d38(F.col("__t")) * d38(F.col("__t"))).alias("__stt")]
    for i in range(k):
        aggs += [F.sum(d38(F.col(f"__x{i}"))).alias(f"__s{i}"),
                 F.sum(d38(F.col(f"__x{i}")) * d38(F.col(f"__x{i}")))
                 .alias(f"__ss{i}")]
    agg = base.agg(*aggs)
    n = F.col("n").cast("decimal(38,0)")
    item_var = None
    for i in range(k):
        v = n * F.col(f"__ss{i}") - F.col(f"__s{i}") * F.col(f"__s{i}")
        item_var = v if item_var is None else item_var + v
    tot_var = n * F.col("__stt") - F.col("__st") * F.col("__st")
    alpha = F.when(
        tot_var.cast("double") > 0,
        F.round(F.lit(float(k) / (k - 1))
                * (F.lit(1.0) - item_var.cast("double")
                   / nz(tot_var.cast("double"))), 6))
    return agg.select("n", F.lit(k).cast("int").alias("k"),
                      alpha.alias("alpha"))


def friedman_test(df: DataFrame, *, cols: list[str]) -> DataFrame:
    """Friedman test + Kendall's W — the k-treatment repeated-measures
    companion to the k-sample ANOVA: each unit (block) ranks the k
    treatments WITHIN itself, so unit-level offsets (heavy users
    inflate every count) cancel by construction where raw-value ANOVA
    sees only the offsets.  Kendall's W = χ²/(n(k−1)) rides along as
    the [0, 1] effect size (1 = every unit agrees on the ordering).

    Exactness: within-block average ranks for ties are kept integral
    as DOUBLED ranks a = 2C + t + 1 (C strictly-below count, t tie
    count incl. self — the spearman_rho identity), computed in-plan
    from k² pairwise comparisons per row (k is small; no window, no
    shuffle beyond one global agg).  With doubled ranks the
    tie-corrected statistic is PURE INTEGER arithmetic:

        χ² = (k−1)·Σ_j (R2_j − n(k+1))²  /  (Σ a² − n·k(k+1)²)

    (R2_j the doubled rank totals; the 4s cancel), one double
    division at the end.  Every block fully tied → zero denominator
    → NULL (no information about ordering).

    Output one row: (n, k, chi2, w).
    """
    k = len(cols)
    if k < 2:
        raise ValueError("need at least 2 treatment columns")
    ms = [F.round(F.col(c).cast("double") * 1e6).cast("long")
          for c in cols]
    ranks = []
    for j in range(k):
        below = None
        tied = None
        for l in range(k):
            b = F.when(ms[l] < ms[j], 1).otherwise(0)
            t = F.when(ms[l] == ms[j], 1).otherwise(0)
            below = b if below is None else below + b
            tied = t if tied is None else tied + t
        ranks.append((F.lit(2) * below + tied + F.lit(1)).cast("long"))
    base = df.select(*[r.alias(f"__a{j}") for j, r in enumerate(ranks)])
    aggs = [F.count("*").cast("long").alias("n")]
    sq_sum = None
    for j in range(k):
        aggs.append(F.sum(d38(F.col(f"__a{j}"))).alias(f"__R{j}"))
        s = F.sum(d38(F.col(f"__a{j}")) * d38(F.col(f"__a{j}")))
        sq_sum = s if sq_sum is None else sq_sum + s
    aggs.append(sq_sum.alias("__A2"))
    agg = base.agg(*aggs)
    n = F.col("n").cast("decimal(38,0)")
    num = None
    for j in range(k):
        d = F.col(f"__R{j}") - n * F.lit(k + 1)
        num = d * d if num is None else num + d * d
    num = F.lit(k - 1).cast("decimal(38,0)") * num
    den = F.col("__A2") - n * F.lit(k * (k + 1) * (k + 1))
    chi2 = F.round(num.cast("double") / nz(den.cast("double")), 6)
    w = F.round(num.cast("double")
                / nz(den.cast("double"))
                / nz(F.col("n").cast("double") * F.lit(float(k - 1))),
                6)
    return agg.select("n", F.lit(k).cast("int").alias("k"),
                      chi2.alias("chi2"), w.alias("w"))


def runs_test(df: DataFrame, *, by: str, order_col: str,
              tiebreak_col: str, flag_expr: str) -> DataFrame:
    """Wald–Wolfowitz runs test per key — the randomness check for a
    binary SEQUENCE the marginal tests can't see: n₁ successes among
    n trials say nothing about whether they arrived scattered or in
    one clump; the number of runs R (maximal same-value stretches)
    does.  Too few runs = clustering/serial correlation, too many =
    alternation.

        E[R] = 1 + 2n₁n₀/n,   Var[R] = 2n₁n₀(2n₁n₀−n)/(n²(n−1))
        z = (R − E)/√Var

    Exactness: R, n₁, n₀ are exact int64 (R = 1 + Σ[x_t ≠ x_{t−1}]
    from one lag over the (order, tiebreak) total order — the
    explicit unique tie-break the ordering rule requires); the
    moments are fixed-order doubles over those integers with 2n₁n₀
    formed in DECIMAL(38,0) first (it crosses int64 at n ≈ 4·10⁹).
    A one-sided sequence (n₁ = 0 or n₀ = 0) has Var = 0 → NULL z.

    Scale: one key-partitioned sort-window exchange + one reusing
    groupBy — the acf_by_key shape.

    Output per key: (by, n, n1, n0, runs, z).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(F.col(order_col).asc(),
                                       F.col(tiebreak_col).asc())
    x = F.expr(flag_expr).cast("int")
    base = df.select(F.col(by).alias("__k"), x.alias("__x"),
                     F.col(order_col).alias("__o"),
                     F.col(tiebreak_col).alias("__t"))
    w2 = Window.partitionBy("__k").orderBy(F.col("__o").asc(),
                                           F.col("__t").asc())
    stepped = base.withColumn(
        "__new", F.when(F.lag("__x").over(w2).isNull()
                        | (F.lag("__x").over(w2) != F.col("__x")),
                        1).otherwise(0))
    g = stepped.groupBy("__k").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__x").cast("long").alias("n1"),
        F.sum("__new").cast("long").alias("runs"))
    g = g.withColumn("n0", (F.col("n") - F.col("n1")).cast("long"))
    n = F.col("n").cast("double")
    two_p = (F.lit(2).cast("decimal(38,0)") * d38(F.col("n1"))
             * d38(F.col("n0"))).cast("double")
    e_r = F.lit(1.0) + two_p / nz(n)
    var = (two_p * (two_p - n)
           / nz(n * n * (n - F.lit(1.0))))
    z = F.when((F.col("n1") > 0) & (F.col("n0") > 0)
               & (F.col("n") >= 2) & (var > 0),
               F.round((F.col("runs").cast("double") - e_r)
                       / nz(F.sqrt(var)), 6))
    return g.select(F.col("__k").alias(by), "n", "n1", "n0", "runs",
                    z.alias("z"))


def durbin_watson_by_key(df: DataFrame, *, by: str, x_col: str,
                         y_col: str, order_col: str,
                         tiebreak_col: str) -> DataFrame:
    """Durbin–Watson serial-correlation statistic of per-key OLS
    residuals — the diagnostic that says whether
    ``ols_trend_by_key``'s line is the whole story: DW ≈ 2 means the
    residuals are serially uncorrelated; DW → 0 means positive
    autocorrelation (the trend line is systematically over/under for
    stretches — a missing regime or seasonality); DW → 4 means
    alternation.

        DW = Σ_{t≥2}(e_t − e_{t−1})² / Σ e_t²

    Exactness: the OLS fit comes from exact DECIMAL(38,0) sums
    (micro-snapped x, y; slope and intercept as fixed-order doubles
    of those integers — identical cross-engine); each residual is
    then µ-SNAPPED to an integer, so both DW sums are exact integer
    arithmetic over the (order, tiebreak) total order and the
    statistic is one double division.  Constant-x keys (no slope) and
    zero-residual keys (perfect fit) report NULL.

    Scale: one keyed agg for the fit, one broadcast-joined residual
    pass with a key-partitioned lag window (the acf shape), one final
    keyed agg.

    Output per key: (by, n, slope_micro, dw).
    """
    from pyspark.sql import Window

    xm = F.round(F.col(x_col).cast("double") * 1e6).cast("long")
    ym = F.round(F.col(y_col).cast("double") * 1e6).cast("long")
    base = (df.filter(xm.isNotNull() & ym.isNotNull())
            .select(F.col(by).alias("__k"), xm.alias("__x"),
                    ym.alias("__y"), F.col(order_col).alias("__o"),
                    F.col(tiebreak_col).alias("__t")))
    fit = base.groupBy("__k").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d38(F.col("__x"))).alias("__sx"),
        F.sum(d38(F.col("__y"))).alias("__sy"),
        F.sum(d38(F.col("__x")) * d38(F.col("__x"))).alias("__sxx"),
        F.sum(d38(F.col("__x")) * d38(F.col("__y"))).alias("__sxy"))
    nd = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    den_b = nd * F.col("__sxx").cast("double") - sx * sx
    b = (nd * F.col("__sxy").cast("double") - sx * sy) / nz(den_b)
    a = (sy - b * sx) / nz(nd)
    fit = fit.select("__k", "n", b.alias("__b"), a.alias("__a"),
                     F.round(b * F.lit(1e6)).cast("long")
                     .alias("slope_micro"))
    res = (base.join(fit, "__k")
           .withColumn("__e", F.round(
               F.col("__y").cast("double")
               - (F.col("__a") + F.col("__b")
                  * F.col("__x").cast("double"))).cast("long")))
    w = Window.partitionBy("__k").orderBy(F.col("__o").asc(),
                                          F.col("__t").asc())
    res = res.withColumn("__ep", F.lag("__e").over(w))
    g = res.groupBy("__k").agg(
        F.max("n").alias("n"), F.max("slope_micro").alias("slope_micro"),
        F.sum(d38(F.col("__e")) * d38(F.col("__e"))).alias("__see"),
        F.sum(F.when(F.col("__ep").isNotNull(),
                     d38(F.col("__e") - F.col("__ep"))
                     * d38(F.col("__e") - F.col("__ep")))
              .otherwise(F.lit(0).cast("decimal(38,0)")))
        .alias("__sdd"))
    dw = F.when((F.col("__see").cast("double") > 0)
                & F.col("slope_micro").isNotNull(),
                F.round(F.col("__sdd").cast("double")
                        / nz(F.col("__see").cast("double")), 6))
    return g.select(F.col("__k").alias(by), "n", "slope_micro",
                    dw.alias("dw"))


def wilson_intervals(df: DataFrame, *, by: str, success_expr: str,
                     z: float = 1.96) -> DataFrame:
    """Per-key Wilson score confidence interval for a proportion —
    the interval the textbook Wald ±z√(p̂(1−p̂)/n) isn't: Wald
    collapses to width 0 at p̂ ∈ {0, 1} (claiming certainty from
    3 observations, pinned) and escapes [0, 1]; Wilson stays inside
    and stays honest at the boundaries.

        center = (p̂ + z²/2n) / (1 + z²/n)
        half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    Exactness: exact int64 (n, s) per key from one conditional agg;
    every derived quantity is a fixed-order double over those
    integers with the z literal shared verbatim by both engines;
    bounds rounded to 6.  n = 0 keys don't exist by construction
    (groupBy emits only observed keys).

    Output per key: (by, n, successes, p_hat, wilson_lo, wilson_hi).
    """
    zz = float(z)
    g = (df.groupBy(by)
         .agg(F.count("*").cast("long").alias("n"),
              F.sum(F.when(F.expr(success_expr), 1).otherwise(0))
              .cast("long").alias("successes")))
    n = F.col("n").cast("double")
    p = F.col("successes").cast("double") / n
    z2 = F.lit(zz * zz)
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (F.lit(zz)
            * F.sqrt(p * (F.lit(1.0) - p) / n
                     + z2 / (F.lit(4.0) * n * n))) / denom
    return g.select(
        by, "n", "successes",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"))


def binary_segmentation(df: DataFrame, *, key_col: str, order_col: str,
                        value_col: str, tiebreak_col: str) -> DataFrame:
    """Depth-2 binary segmentation — the MULTIPLE-change-point
    extension of :func:`change_point` (which finds exactly one): find
    the best mean-shift split τ₁, then recurse ONCE into each side,
    giving up to three change points / four segments.  A two-step
    staircase fools the single detector into a compromise split;
    binary segmentation recovers both steps (pinned).

    Exactness discipline inherited verbatim: micro-snapped values,
    per-split discriminant D = S_rel·m − i_rel·Z_seg as an exact
    DECIMAL(38,0) integer (segment-relative prefix sums are
    differences of exact prefixes), gain evaluated as fixed-order
    doubles of exact integers ROUNDED to an integer-valued double
    before each argmax, ties to smallest τ — both rounds replay
    engine-exact.  Sub-segments shorter than 2 have no admissible
    split and report NULL (never a degenerate τ).

    Scale: the SAME one-(key)-exchange prefix window as change_point,
    reused for both rounds (round 2 is a broadcast-joined filter over
    the identical ranked frame — no second sort); two key-sized
    argmax windows.

    Output per key: (key, n, tau1, gain1, tau_l, gain_l, tau_r,
    gain_r) — all τ as 1-based absolute left-segment sizes.
    """
    from pyspark.sql import Window

    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(v.isNotNull())
            .select(F.col(key_col).alias("key"),
                    F.col(order_col).alias("o"),
                    F.col(tiebreak_col).alias("tb"), v.alias("v")))
    w = Window.partitionBy("key").orderBy("o", "tb")
    wk = Window.partitionBy("key")
    r = base.select(
        "key",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("s"),
        F.sum("v").over(wk).alias("sn"),
        F.count("*").over(wk).cast("long").alias("n"))
    r = r.localCheckpoint(eager=False)      # reused by both rounds
    c1 = r.filter(F.col("i") < F.col("n"))
    dd = (d38(F.col("s")) * d38(F.col("n"))
          - d38(F.col("i")) * d38(F.col("sn"))).cast("double")
    g1 = F.round(dd * dd / F.col("n").cast("double")
                 / F.col("i").cast("double")
                 / (F.col("n") - F.col("i")).cast("double"))
    c1 = c1.withColumn("g", g1)
    pick1 = F.row_number().over(
        Window.partitionBy("key").orderBy(F.col("g").desc(),
                                          F.col("i").asc()))
    w1 = (c1.withColumn("__p", pick1).filter(F.col("__p") == 1)
          .select("key", F.col("i").alias("tau1"),
                  F.col("g").alias("gain1"), F.col("s").alias("s1")))
    j = r.join(w1, "key")        # keyed join: w1 is per-key-sized
    seg = F.when(F.col("i") <= F.col("tau1"), 0).otherwise(1)
    i_rel = F.when(seg == 0, F.col("i")) \
        .otherwise(F.col("i") - F.col("tau1"))
    m = F.when(seg == 0, F.col("tau1")) \
        .otherwise(F.col("n") - F.col("tau1"))
    z_seg = F.when(seg == 0, F.col("s1")) \
        .otherwise(F.col("sn") - F.col("s1"))
    p_rel = F.when(seg == 0, F.col("s")) \
        .otherwise(F.col("s") - F.col("s1"))
    j = (j.select("key", "tau1", "gain1", "n",
                  seg.alias("seg"), i_rel.alias("ir"),
                  m.alias("m"), z_seg.alias("z"), p_rel.alias("p"))
         .filter(F.col("ir") < F.col("m")))
    d2 = (d38(F.col("p")) * d38(F.col("m"))
          - d38(F.col("ir")) * d38(F.col("z"))).cast("double")
    g2 = F.round(d2 * d2 / F.col("m").cast("double")
                 / F.col("ir").cast("double")
                 / (F.col("m") - F.col("ir")).cast("double"))
    j = j.withColumn("g2", g2)
    pick2 = F.row_number().over(
        Window.partitionBy("key", "seg").orderBy(F.col("g2").desc(),
                                                 F.col("ir").asc()))
    w2 = (j.withColumn("__p", pick2).filter(F.col("__p") == 1)
          .groupBy("key")
          .agg(F.max(F.when(F.col("seg") == 0, F.col("ir")))
               .alias("tau_l"),
               F.max(F.when(F.col("seg") == 0, F.col("g2")))
               .alias("gain_l"),
               F.max(F.when(F.col("seg") == 1,
                            F.col("ir") + F.col("tau1")))
               .alias("tau_r"),
               F.max(F.when(F.col("seg") == 1, F.col("g2")))
               .alias("gain_r")))
    out = (w1.join(w2, "key", "left")
           .join(r.select("key", "n").distinct(), "key"))
    return out.select(
        F.col("key").alias(key_col), "n", "tau1", "gain1",
        "tau_l", "gain_l", "tau_r", "gain_r")


def mann_kendall_by_key(df: DataFrame, *, by: str, ts_col: str,
                        value_col: str,
                        tiebreak_col: str) -> DataFrame:
    """Per-key Mann–Kendall trend test — the HYPOTHESIS-TEST
    companion of :func:`theil_sen_by_key` (which estimates the
    slope): S = Σ_{i<j} sgn(v_j − v_i) over the time order asks "is
    there ANY monotone trend?", distribution-free and ties-aware.

        Var[S] = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18
        z = (S ∓ 1)/√Var     (continuity-corrected; z = 0 at S = 0)

    Exactness: S is an exact int64 count over the keyed pair
    self-join (O(n²) per key BY DESIGN — the same bounded-history
    contract as Theil–Sen, and the two share one pair pass when
    composed); the tie term sums exact integers per distinct value
    group; Var's single /18 and the z are fixed-order doubles.
    Time-order convention: pairs are ordered by the TOTAL order
    (ts, tiebreak) — tiebreak_col must be a unique finer clock
    (e.g. an increasing event id), so SAME-timestamp pairs ARE
    counted, ordered by the tiebreak.  This differs from the
    textbook convention of dropping same-time pairs (which would
    also require the time-ties variance correction u_p term); with
    a tiebreak that reflects true arrival order the two agree, and
    S is deterministic either way.  All-tied keys (Var = 0) report
    NULL z.

    Output per key: (by, n, s, var18 — 18·Var as the exact integer —
    and z).
    """
    from pyspark.sql import Window

    vm = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = (df.filter(vm.isNotNull())
            .select(F.col(by).alias("__k"), F.col(ts_col).alias("__t"),
                    F.col(tiebreak_col).alias("__tb"), vm.alias("__v")))
    n_per = base.groupBy("__k").agg(F.count("*").cast("long").alias("n"))
    l = base.select("__k", F.col("__t").alias("__ta"),
                    F.col("__tb").alias("__tba"),
                    F.col("__v").alias("__va"))
    r = base.select("__k", F.col("__t").alias("__tb2"),
                    F.col("__tb").alias("__tbb"),
                    F.col("__v").alias("__vb"))
    pairs = (l.join(r, "__k")
             .filter((F.col("__ta") < F.col("__tb2"))
                     | ((F.col("__ta") == F.col("__tb2"))
                        & (F.col("__tba") < F.col("__tbb")))))
    s_agg = pairs.groupBy("__k").agg(
        F.sum(F.signum((F.col("__vb") - F.col("__va")).cast("double"))
              .cast("long")).cast("long").alias("s"))
    ties = (base.groupBy("__k", "__v")
            .agg(F.count("*").cast("long").alias("__t"))
            .groupBy("__k")
            .agg(F.sum(F.col("__t") * (F.col("__t") - 1)
                       * (2 * F.col("__t") + 5)).cast("long")
                 .alias("__tt")))
    g = (n_per.join(s_agg, "__k", "left")
         .join(ties, "__k")
         .withColumn("s", F.coalesce("s", F.lit(0).cast("long"))))
    nn = F.col("n")
    var18 = (nn * (nn - 1) * (2 * nn + 5) - F.col("__tt")).cast("long")
    var_d = var18.cast("double") / F.lit(18.0)
    z = F.when(var18 > 0, F.round(
        F.when(F.col("s") > 0,
               (F.col("s").cast("double") - F.lit(1.0))
               / nz(F.sqrt(var_d)))
        .when(F.col("s") < 0,
              (F.col("s").cast("double") + F.lit(1.0))
              / nz(F.sqrt(var_d)))
        .otherwise(F.lit(0.0)), 6))
    return g.select(F.col("__k").alias(by), "n", "s",
                    var18.alias("var18"), z.alias("z"))


def bowker_test(df: DataFrame, *, a_col: str, b_col: str) -> DataFrame:
    """Bowker's test of symmetry — :func:`mcnemar_test` generalized
    to k×k PAIRED categories (k = 2 reduces exactly to uncorrected
    McNemar, pinned): with paired categorical observations (first vs
    last event type per user, rater A vs rater B label), is the
    transition table symmetric, i.e. is every i→j flow matched by
    j→i?

        B = Σ_{i<j} (n_ij − n_ji)² / (n_ij + n_ji)

    (df = k(k−1)/2 cells with n_ij + n_ji > 0).  Exactness: the full
    contingency table is one exact-count groupBy; each unordered
    pair's term has an EXACT INTEGER numerator (n_ij − n_ji)², is a
    fixed-order double, and is µ-snapped BEFORE the cross-pair sum
    (the Mantel–Haenszel rule), so the statistic total is an
    order-independent integer divided once at the end.  Diagonal
    cells never contribute (i→i says nothing about asymmetry).  Zero
    informative pairs → NULL.

    Output one row: (n, k, n_pairs_used, b_micro, b) — b_micro the
    exact snapped integer total, b = b_micro/10⁶ for reading.
    """
    cells = (df.filter(F.col(a_col).isNotNull()
                       & F.col(b_col).isNotNull())
             .groupBy(F.col(a_col).alias("__a"),
                      F.col(b_col).alias("__b"))
             .agg(F.count("*").cast("long").alias("__n")))
    up = cells.filter(F.col("__a") < F.col("__b")).select(
        F.col("__a").alias("__i"), F.col("__b").alias("__j"),
        F.col("__n").alias("__nij"))
    dn = cells.filter(F.col("__a") > F.col("__b")).select(
        F.col("__b").alias("__i"), F.col("__a").alias("__j"),
        F.col("__n").alias("__nji"))
    pairs = (up.join(dn, ["__i", "__j"], "full")
             .select("__i", "__j",
                     F.coalesce("__nij", F.lit(0)).alias("__nij"),
                     F.coalesce("__nji", F.lit(0)).alias("__nji")))
    d = (F.col("__nij") - F.col("__nji")).cast("double")
    tot = (F.col("__nij") + F.col("__nji")).cast("double")
    term = F.round(d * d / nz(tot) * F.lit(1e6)).cast("long")
    k_n = (cells.select(F.col("__a").alias("c"))
           .union(cells.select(F.col("__b").alias("c")))
           .distinct().agg(F.count("*").cast("int").alias("k")))
    n_tot = cells.agg(F.sum("__n").cast("long").alias("n"))
    agg = pairs.agg(
        F.coalesce(F.sum(F.when(F.col("__nij") + F.col("__nji") > 0, 1)
                         .otherwise(0)), F.lit(0)).cast("long")
        .alias("n_pairs_used"),
        F.coalesce(F.sum(F.coalesce(term, F.lit(0))), F.lit(0))
        .cast("long").alias("b_micro"))
    out = (n_tot.crossJoin(F.broadcast(k_n))
           .crossJoin(F.broadcast(agg)))
    return out.select(
        "n", "k", "n_pairs_used",
        F.col("b_micro"),
        F.when(F.col("n_pairs_used") > 0,
               F.round(F.col("b_micro").cast("double") / F.lit(1e6), 6))
        .alias("b"))


def partial_correlation(df: DataFrame, *, x_col: str, y_col: str,
                        z_col: str) -> DataFrame:
    """First-order partial correlation r_xy·z — the
    confounder-adjusted correlation next to the causal wing: how much
    of the x–y association survives once the common driver z is
    partialled out?

        r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))

    Pinned: when y and x are driven ONLY by z, the raw r_xy is
    large while r_xy·z collapses toward 0; and r_xy·z = 0 exactly
    recovers the regression-residual correlation.

    Exactness: all three variables micro-snap; the nine sufficient
    statistics (three sums, three sums of squares, three cross
    products) are exact DECIMAL(38,0) sums from ONE pass; each
    pairwise r is the usual fixed-order double of exact integers, and
    the partial formula is fixed-order on top.  Any degenerate leg
    (zero variance, |r| = 1 denominators) reports NULL, never
    0/0 or ±inf.

    Output one row: (n, r_xy, r_xz, r_yz, r_xy_z).
    """
    cols = {}
    for nm, c in (("x", x_col), ("y", y_col), ("z", z_col)):
        cols[nm] = F.round(F.col(c).cast("double") * 1e6).cast("long")
    base = (df.filter(cols["x"].isNotNull() & cols["y"].isNotNull()
                      & cols["z"].isNotNull())
            .select(cols["x"].alias("__x"), cols["y"].alias("__y"),
                    cols["z"].alias("__z")))
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        *[F.sum(d38(F.col(f"__{a}"))).alias(f"s{a}")
          for a in "xyz"],
        *[F.sum(d38(F.col(f"__{a}")) * d38(F.col(f"__{b}")))
          .alias(f"s{a}{b}")
          for a, b in ("xx", "yy", "zz", "xy", "xz", "yz")])
    n = F.col("n").cast("double")

    def r_of(a, b):
        num = (n * F.col(f"s{a}{b}").cast("double")
               - F.col(f"s{a}").cast("double")
               * F.col(f"s{b}").cast("double"))
        va = (n * F.col(f"s{a}{a}").cast("double")
              - F.col(f"s{a}").cast("double")
              * F.col(f"s{a}").cast("double"))
        vb = (n * F.col(f"s{b}{b}").cast("double")
              - F.col(f"s{b}").cast("double")
              * F.col(f"s{b}").cast("double"))
        return F.when((va > 0) & (vb > 0),
                      num / nz(F.sqrt(va * vb)))

    rxy, rxz, ryz = r_of("x", "y"), r_of("x", "z"), r_of("y", "z")
    den = F.sqrt((F.lit(1.0) - rxz * rxz)
                 * (F.lit(1.0) - ryz * ryz))
    part = (rxy - rxz * ryz) / nz(den)
    return agg.select(
        "n",
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(ryz, 6).alias("r_yz"),
        F.round(part, 6).alias("r_xy_z"))


def cramers_v(df: DataFrame, *, a_col: str, b_col: str) -> DataFrame:
    """Cramér's V — the [0, 1] effect size for a categorical pair,
    completing the association set next to χ² (unbounded, n-inflated)
    and mutual information (nat-scaled): V = √(χ²/(n·min(r−1, c−1)))
    is comparable ACROSS tables of different size and shape.

    Exactness: contingency cells are exact counts; χ² runs over the
    COMPLETE r×c grid (absent cells contribute r_i·c_j/n — dropping
    them understates the statistic; the t_closeness completion
    lesson) via the row-marginal × column-marginal frame (vocab²-
    sized) left-joined with the observed cells.  Each cell term has
    the exact DECIMAL(38,0) integer numerator (n·n_ij − r_i·c_j)²,
    becomes one fixed-order double, and is µ-snapped BEFORE the
    cross-cell sum (the Mantel–Haenszel rule) — chi2_micro is an
    order-independent exact integer.  Degenerate tables
    (min(r, c) < 2) report NULL V.

    Output one row: (n, r, c, chi2, v).
    """
    base = (df.filter(F.col(a_col).isNotNull()
                      & F.col(b_col).isNotNull())
            .select(F.col(a_col).alias("__a"),
                    F.col(b_col).alias("__b")))
    cells = base.groupBy("__a", "__b").agg(
        F.count("*").cast("long").alias("__nij"))
    rows = cells.groupBy("__a").agg(F.sum("__nij").cast("long")
                                    .alias("__ri"))
    colsm = cells.groupBy("__b").agg(F.sum("__nij").cast("long")
                                     .alias("__cj"))
    tot = cells.agg(F.sum("__nij").cast("long").alias("__n"))
    grid = (rows.crossJoin(colsm)
            .join(cells, ["__a", "__b"], "left")
            .withColumn("__nij", F.coalesce("__nij", F.lit(0)))
            .crossJoin(F.broadcast(tot)))
    num = (d38(F.col("__n")) * d38(F.col("__nij"))
           - d38(F.col("__ri")) * d38(F.col("__cj"))).cast("double")
    den = (d38(F.col("__n")) * d38(F.col("__ri"))
           * d38(F.col("__cj"))).cast("double")
    term = F.round(num * num / nz(den) * F.lit(1e6)).cast("long")
    agg = grid.agg(
        F.max("__n").alias("n"),
        F.countDistinct("__a").cast("int").alias("r"),
        F.countDistinct("__b").cast("int").alias("c"),
        F.sum(term).cast("long").alias("__chi2m"))
    chi2 = F.round(F.col("__chi2m").cast("double") / F.lit(1e6), 6)
    mind = F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
    v = F.when(mind > 0, F.round(F.sqrt(
        F.col("__chi2m").cast("double") / F.lit(1e6)
        / nz(F.col("n").cast("double") * mind)), 6))
    return agg.select("n", "r", "c", chi2.alias("chi2"), v.alias("v"))


def kendall_tau_by_key(df: DataFrame, *, by: str, x_col: str,
                       y_col: str, tiebreak_col: str) -> DataFrame:
    """Per-key Kendall τ-b between two value columns — the RANK
    correlation completing the association wing next to Spearman's ρ
    (q296: rank-linear, moment-based) and Mann–Kendall (q330: x =
    time): τ counts CONCORDANT vs discordant pairs, so it reads as a
    probability difference ("how much more often do x and y move the
    same way?") and is robust to any monotone re-scaling of either
    column.

        S  = Σ_{i<j} sgn(x_j−x_i)·sgn(y_j−y_i)      (= C − D)
        τ_b = S / √((n0−n1)(n0−n2)),   n0 = n(n−1)/2,
        n1 = Σ_x t(t−1)/2,  n2 = Σ_y u(u−1)/2       (tie corrections)

    Exactness (the mann_kendall pair discipline): values µ-snap to
    int64 once; S is an exact int64 over the keyed pair self-join
    (O(n²) per key BY DESIGN — the bounded-history contract shared
    with Theil–Sen/MK; pairs are i<j under the unique ``tiebreak_col``
    so every unordered pair counts exactly once and the join needs no
    time column); tie terms are exact integer sums per distinct value
    group; (n0−n1)(n0−n2) is formed in DECIMAL(38,0) (n0 crosses
    int64·int64 territory at n ≈ 2·10⁵ per key) and τ_b is one
    fixed-order double expression.  Keys where either margin is fully
    tied (zero denominator) report NULL τ_b.

    Output per key: (by, n, s, n0, n1, n2, tau_b).
    """
    xm = F.round(F.col(x_col).cast("double") * 1e6).cast("long")
    ym = F.round(F.col(y_col).cast("double") * 1e6).cast("long")
    base = (df.filter(xm.isNotNull() & ym.isNotNull())
            .select(F.col(by).alias("__k"),
                    F.col(tiebreak_col).alias("__tb"),
                    xm.alias("__x"), ym.alias("__y")))
    l = base.select("__k", F.col("__tb").alias("__ta"),
                    F.col("__x").alias("__xa"),
                    F.col("__y").alias("__ya"))
    r = base.select("__k", F.col("__tb").alias("__tb2"),
                    F.col("__x").alias("__xb"),
                    F.col("__y").alias("__yb"))
    pairs = l.join(r, "__k").filter(F.col("__ta") < F.col("__tb2"))
    s_agg = pairs.groupBy("__k").agg(
        F.sum((F.signum((F.col("__xb") - F.col("__xa")).cast("double"))
               * F.signum((F.col("__yb") - F.col("__ya"))
                          .cast("double"))).cast("long"))
        .cast("long").alias("s"))
    n_per = base.groupBy("__k").agg(F.count("*").cast("long").alias("n"))
    # t(t-1) is always even — integer `div 2` keeps the tie counts
    # exact past 2^53 (a double /2 would round there)
    tx = (base.groupBy("__k", "__x")
          .agg(F.count("*").cast("long").alias("__t"))
          .groupBy("__k")
          .agg(F.expr("CAST(sum(__t * (__t - 1)) div 2 AS BIGINT)")
               .alias("n1")))
    ty = (base.groupBy("__k", "__y")
          .agg(F.count("*").cast("long").alias("__t"))
          .groupBy("__k")
          .agg(F.expr("CAST(sum(__t * (__t - 1)) div 2 AS BIGINT)")
               .alias("n2")))
    g = (n_per.join(s_agg, "__k", "left").join(tx, "__k").join(ty, "__k")
         .withColumn("s", F.coalesce("s", F.lit(0).cast("long")))
         .withColumn("n0", F.expr("CAST(n * (n - 1) div 2 AS BIGINT)")))
    den2 = (d38(F.col("n0") - F.col("n1"))
            * d38(F.col("n0") - F.col("n2")))
    tau = F.when(den2 > 0, F.round(
        F.col("s").cast("double") / nz(F.sqrt(den2.cast("double"))), 6))
    return g.select(F.col("__k").alias(by), "n", "s", "n0", "n1", "n2",
                    tau.alias("tau_b"))


def cohens_d(df: DataFrame, *, value_col: str, group_col: str,
             group_a, group_b) -> DataFrame:
    """Cohen's d and Hedges' g between two strata of ``value_col`` —
    the standardized EFFECT SIZE the A/B wing reports next to Welch's
    t (q299, "is it real?") and the randomization test (q316): how
    many pooled standard deviations apart are the means?  Hedges' g
    applies the small-sample bias correction J = 1 − 3/(4·df − 1),
    df = n_a+n_b−2 (Hedges 1981).

    Exactness: all five sufficient statistics (n, Σx, Σx² per group)
    come from ONE pass with µ-snapped int64 values and DECIMAL(38,0)
    sums (Σx² of 10⁶-µ values crosses int64 at ~10⁴ rows); means,
    the pooled variance

        s_p² = [(n_a·ΣA² − ΣA²/n_a …)]  — algebra kept in the exact
        corrected-sum form (n·Σx² − (Σx)²)/(n·(n−1)) per group, each
        a fixed-order double of exact integers

    and d = (m_a − m_b)/s_p are fixed-order double expressions both
    engines evaluate identically.  Degenerate inputs (a group with
    n < 2, zero pooled variance) report NULL d/g loudly.  One
    filter + one 2-group agg; no shuffle beyond the partial-agg
    reduce.  Output one row: (n_a, n_b, mean_a, mean_b, sp, d, g).
    """
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(g.isin([group_a, group_b]) & v.isNotNull())
            .select((g == F.lit(group_a)).alias("ia"), v.alias("x")))
    agg = base.agg(
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("long")
        .alias("n_a"),
        F.sum(F.when(~F.col("ia"), 1).otherwise(0)).cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("ia"), d38(F.col("x")))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sa"),
        F.sum(F.when(~F.col("ia"), d38(F.col("x")))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sb"),
        F.sum(F.when(F.col("ia"), d38(F.col("x")) * d38(F.col("x")))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("qa"),
        F.sum(F.when(~F.col("ia"), d38(F.col("x")) * d38(F.col("x")))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("qb"))
    na, nb = F.col("n_a"), F.col("n_b")
    # corrected sums of squares per group, exact in DECIMAL then one
    # double conversion each
    ssa = (d38(na) * F.col("qa") - F.col("sa") * F.col("sa"))
    ssb = (d38(nb) * F.col("qb") - F.col("sb") * F.col("sb"))
    var_a = ssa.cast("double") / nz((na * (na - 1)).cast("double"))
    var_b = ssb.cast("double") / nz((nb * (nb - 1)).cast("double"))
    sp2 = ((na - 1).cast("double") * var_a
           + (nb - 1).cast("double") * var_b) \
        / nz((na + nb - 2).cast("double"))
    sp = F.sqrt(sp2)
    mean_a = F.col("sa").cast("double") / nz(na.cast("double")) / 1e6
    mean_b = F.col("sb").cast("double") / nz(nb.cast("double")) / 1e6
    ok = (na >= 2) & (nb >= 2) & (sp2 > 0)
    d = F.when(ok, (F.col("sa").cast("double") / nz(na.cast("double"))
                    - F.col("sb").cast("double") / nz(nb.cast("double")))
               / nz(sp))
    j = F.lit(1.0) - F.lit(3.0) / nz((4 * (na + nb - 2) - 1)
                                     .cast("double"))
    return agg.select(
        "n_a", "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(sp / F.lit(1e6), 6).alias("sp"),
        F.round(d, 6).alias("d"),
        F.round(d * j, 6).alias("g"))


def kruskal_wallis(df: DataFrame, *, value_col: str, group_col: str,
                   n_buckets: int = 64) -> DataFrame:
    """Kruskal–Wallis H — the k-group generalization of the
    Mann–Whitney rank test (q253) and the rank-robust sibling of
    one-way ANOVA (q301): do the k strata of ``value_col`` share a
    location, judged on midranks so no normality or equal-variance
    assumption enters?  Uses the rank-ANOVA identity, which folds the
    tie correction in automatically:

        H = (N−1) · Σ_g (R_g − n_g·r̄)²/n_g  /  Σ_i (r_i − r̄)²

    with r_i midranks and r̄ = (N+1)/2.

    Exactness: values µ-snap once; counts per (group, value) come
    from one map-side-combined groupBy; run offsets over the
    distinct-value frame use the two-phase value-range bucketed
    cumsum (the ks_mw_tests machinery — no data-sized
    single-partition window even for near-unique values).  DOUBLED
    midranks mr2 = 2·r0 + m + 1 are exact integers, so the per-group
    doubled rank sums R2_g and the total sum of squares
    Σ_v m_v·(mr2_v − (N+1))² are exact DECIMAL(38,0) (the doubling
    cancels in the ratio).  Per-group between terms
    (R2_g − n_g(N+1))²/n_g take ONE double division each and are
    summed by an ORDERED left-fold over the sorted group array (k is
    group-vocabulary-bounded), so the cross-group double sum is
    fixed-order in both engines; H is one final expression.  k < 2
    or all-tied values (zero total SS) → NULL H.

    Output one row: (k, n, h).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(v.isNotNull() & g.isNotNull())
            .select(g.alias("__g"), v.alias("__v")))
    cg = base.groupBy("__g", "__v").agg(
        F.count("*").cast("long").alias("__c"))
    per_v = cg.groupBy("__v").agg(F.sum("__c").cast("long").alias("__m"))
    bounds = per_v.agg(F.min("__v").alias("__lo"),
                       F.max("__v").alias("__hi"),
                       F.sum("__m").cast("long").alias("__n"))
    pv = (per_v.crossJoin(F.broadcast(bounds))
          .withColumn("__b", F.expr(
              f"(__v - __lo) div ((__hi - __lo) div {B} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1))
    pv = pv.withColumn("__m_in",
                       F.coalesce(F.sum("__m").over(w_in), F.lit(0)))
    btot = pv.groupBy("__b").agg(F.sum("__m").alias("__bm"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__b", F.coalesce(F.sum("__bm").over(w_b), F.lit(0)).alias("__om"))
    pv = (pv.join(F.broadcast(boff), "__b")
          .withColumn("__r0", F.col("__om") + F.col("__m_in"))
          .withColumn("__mr2", 2 * F.col("__r0") + F.col("__m") + 1))
    # total sum of squares over doubled midranks (exact DECIMAL)
    dev = F.col("__mr2") - (F.col("__n") + 1)
    tot = pv.agg(
        F.max("__n").alias("n"),
        F.sum(d38(F.col("__m")) * d38(dev) * d38(dev)).alias("__ss2"))
    # per-group doubled rank sums off the (group, value) frame
    # NO broadcast hint here: pv is the DISTINCT-VALUE frame, which for
    # a near-unique continuous value column is ~N rows — broadcasting it
    # would force a driver-side collect (the data-sized single point the
    # docstring forbids).  Both sides are keyed on __v, so a plain
    # shuffle hash/sort-merge join co-locates them; siblings
    # (jonckheere, ansari_bradley, lepage, cvm) only ever broadcast the
    # 1-row bounds / B-row bucket-offset frames.
    rg = (cg.join(pv.select("__v", "__mr2", "__n"), "__v")
          .groupBy("__g")
          .agg(F.sum(d38(F.col("__c")) * d38(F.col("__mr2")))
               .alias("__r2"),
               F.sum("__c").cast("long").alias("__ng"),
               F.max("__n").alias("__nn")))
    u = (F.col("__r2") - d38(F.col("__ng")) * d38(F.col("__nn") + 1))
    t_g = ((u * u).cast("double")
           / nz(F.col("__ng").cast("double")))
    folded = rg.groupBy().agg(
        F.count("*").cast("int").alias("k"),
        F.aggregate(
            F.sort_array(F.collect_list(
                F.struct(F.col("__g").cast("string").alias("g"),
                         t_g.alias("t")))),
            F.lit(0.0), lambda a, s: a + s["t"]).alias("__sb"))
    out = folded.crossJoin(F.broadcast(tot))
    h = F.when(
        (F.col("k") >= 2) & (F.col("__ss2").cast("double") > 0),
        F.round((F.col("n") - 1).cast("double") * F.col("__sb")
                / nz(F.col("__ss2").cast("double")), 6))
    return out.select("k", "n", h.alias("h"))


def ljung_box_by_key(df: DataFrame, *, key_col: str, order_col: str,
                     value_col: str, tiebreak_col: str,
                     max_lag: int = 3) -> DataFrame:
    """Ljung–Box portmanteau test per key — the ONE-NUMBER summary of
    :func:`acf_by_key`'s lag profile (and the formal companion of
    q326's Durbin–Watson, which only sees lag 1):

        Q = n(n+2) · Σ_{l=1..L} ρ_l² / (n−l)

    large Q ⇒ the series is serially correlated SOMEWHERE in the
    first L lags — the standard residual-whiteness gate before
    trusting an i.i.d.-assuming estimator on per-entity series.

    Exactness: ρ_l = num_l/den from the ACF's exact integer
    machinery; Q is assembled as n(n+2)·(Σ_l num_l²/(n−l))/den² with
    num and den EXACT DECIMAL(38,0) integers whose squares collapse
    to ONE double each (squaring in decimal overflows 38 digits at
    |num| > 10^19 and raises in both engines; num crosses 2^53 far
    below real scales) and the lag sum written as the LITERAL
    left-associated expression t_1 + … + t_L — L is a compile-time
    constant, so both engines evaluate the identical fixed-order
    double chain.  Constant series (den ≤ 0) and series with
    n ≤ max_lag report NULL Q.  Same single key-partitioned window
    exchange + same-partitioning groupBy as the ACF.

    Output per key: (key_col, n, q_lb).
    """
    from functools import reduce

    from pyspark.sql import Window

    L = int(max_lag)
    if L < 1:
        raise ValueError("max_lag must be >= 1")
    w = Window.partitionBy(key_col).orderBy(
        F.col(order_col).asc(), F.col(tiebreak_col).asc())
    x = F.col(value_col).cast("long")
    cols = [F.col(key_col).alias("__k"), x.alias("__x")]
    for lag in range(1, L + 1):
        cols.append(F.lead(x, lag).over(w).alias(f"__x{lag}"))
    base = df.select(*cols)
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum("__x").cast("long").alias("s"),
            F.sum(F.col("__x") * F.col("__x")).cast("long").alias("s2")]
    for lag in range(1, L + 1):
        xl = F.col(f"__x{lag}")
        aggs += [
            F.sum(F.col("__x") * xl).cast("long").alias(f"p{lag}"),
            F.sum(F.when(xl.isNotNull(), F.col("__x")))
             .cast("long").alias(f"sa{lag}"),
            F.sum(xl).cast("long").alias(f"sb{lag}")]
    g = base.groupBy("__k").agg(*aggs)
    # num/den are assembled ENTIRELY in DECIMAL(38,0): the n*n*p term
    # alone crosses int64 at roughly 1-2k cent-scale events per key,
    # and non-ANSI Spark would wrap silently where DuckDB raises —
    # d38 operands keep both engines exact to 38 digits (the oracle
    # mirrors with HUGEINT inside its e CTE).
    nL, sL, s2L = F.col("n"), F.col("s"), F.col("s2")
    n, s, s2 = d38(nL), d38(sL), d38(s2L)
    den = n * (n * s2 - s * s)
    terms = []
    for lag in range(1, L + 1):
        p = d38(F.coalesce(F.col(f"p{lag}"), F.lit(0)))
        sa = d38(F.coalesce(F.col(f"sa{lag}"), F.lit(0)))
        sb = d38(F.coalesce(F.col(f"sb{lag}"), F.lit(0)))
        num = n * n * p - n * s * (sa + sb) + d38(nL - lag) * s * s
        # num is EXACT DECIMAL(38,0); its square would overflow 38
        # digits at |num| > 10^19 (reached by value-scale ~5e4 cents ×
        # 5k events) and RAISE in both engines — so the square
        # collapses to ONE double (the q329 d² discipline): cast the
        # exact integer once, square in double, identically mirrored
        numd = num.cast("double")
        terms.append(numd * numd / nz((nL - lag).cast("double")))
    sumt = reduce(lambda a, b: a + b, terms)
    dend = den.cast("double")
    den2 = dend * dend
    q_lb = F.when((n > L) & (den > 0), F.round(
        (n * (n + 2)).cast("double") * sumt / nz(den2), 6))
    return g.select(F.col("__k").alias(key_col), "n",
                    q_lb.alias("q_lb"))


def siegel_slope_by_key(df: DataFrame, *, x_col: str, y_col: str,
                        by: str, tiebreak_col: str) -> DataFrame:
    """Per-key Siegel repeated-medians slope — the 50 %-breakdown
    robust trend estimator one rung above Theil–Sen (29.3 %): for
    each anchor point i take the MEDIAN of its pairwise slopes to
    every other point, then the median of those per-point medians.
    Where a coordinated outlier burst larger than ~30 % of the window
    drags even Theil–Sen, repeated medians still sits on the inlier
    trend (pinned in tests against exactly that contrast).

    Exactness (the Theil–Sen discipline extended one level): x, y
    µ-snap to int64; each pair's slope_micro snaps per pair as one
    fixed-order double of exact integers; the INNER median per anchor
    and the OUTER median per key are both exact order statistics
    (even counts take the truncating mean of the two middles —
    mirrored with `//` in the oracle).  Same-x pairs are excluded
    (undefined slope); an anchor whose every partner shares its x
    contributes no inner median; ``tiebreak_col`` must identify rows
    uniquely per key (it anchors the inner grouping, not an order).

    Scale: one keyed self-join (O(n²) per key BY DESIGN — the
    bounded-history contract), inner medians on (key, anchor)-
    partitioned windows (n−1 rows each), outer median on the key-
    sized inner-median frame.  Output per key:
    (by, n, n_anchors, slope_micro).
    """
    from pyspark.sql import Window

    xm = F.round(F.col(x_col).cast("double") * 1e6).cast("long")
    ym = F.round(F.col(y_col).cast("double") * 1e6).cast("long")
    base = (df.filter(xm.isNotNull() & ym.isNotNull())
            .select(F.col(by).alias("__k"),
                    F.col(tiebreak_col).alias("__tb"),
                    xm.alias("__x"), ym.alias("__y")))
    n_per = base.groupBy("__k").agg(F.count("*").cast("long").alias("n"))
    l = base.select("__k", F.col("__tb").alias("__ta"),
                    F.col("__x").alias("__xa"), F.col("__y").alias("__ya"))
    r = base.select("__k", F.col("__tb").alias("__tbx"),
                    F.col("__x").alias("__xb"), F.col("__y").alias("__yb"))
    pairs = (l.join(r, "__k")
             .filter((F.col("__ta") != F.col("__tbx"))
                     & (F.col("__xa") != F.col("__xb")))
             .select("__k", "__ta", F.round(
                 (F.col("__yb") - F.col("__ya")).cast("double")
                 * F.lit(1e6)
                 / (F.col("__xb") - F.col("__xa")).cast("double"))
                 .cast("long").alias("__s")))
    w_in = Window.partitionBy("__k", "__ta").orderBy("__s")
    rk = (pairs.withColumn("__rn", F.row_number().over(w_in))
          .withColumn("__np", F.count("*").over(
              Window.partitionBy("__k", "__ta"))))
    k1 = F.expr("(__np + 1) div 2")
    k2 = F.expr("(__np + 2) div 2")
    # even-count median = truncating INTEGER mean of the two middles
    # (`div`, trunc-toward-zero) — double division + cast-to-long gives
    # the same value in range but ROUNDS before truncating once
    # |sum| > 2^53 (~9e15 micro-slope, reachable with micro-hour x
    # gaps), while the q339 oracle's HUGEINT `//` stays exact; the sum
    # of two longs can itself pass BIGINT, so it runs in DECIMAL(38,0)
    mid_mean = "sum(cast({} as decimal(38,0))) div count(*)"
    inner = (rk.filter((F.col("__rn") == k1) | (F.col("__rn") == k2))
             .groupBy("__k", "__ta")
             .agg(F.expr(mid_mean.format("__s")).cast("long")
                  .alias("__m")))
    w_out = Window.partitionBy("__k").orderBy("__m", "__ta")
    ro = (inner.withColumn("__rn", F.row_number().over(w_out))
          .withColumn("__na", F.count("*").over(
              Window.partitionBy("__k"))))
    k1o = F.expr("(__na + 1) div 2")
    k2o = F.expr("(__na + 2) div 2")
    outer = (ro.filter((F.col("__rn") == k1o) | (F.col("__rn") == k2o))
             .groupBy("__k")
             .agg(F.max("__na").cast("long").alias("n_anchors"),
                  F.expr(mid_mean.format("__m")).cast("long")
                  .alias("slope_micro")))
    return (n_per.join(outer, "__k", "left")
            .select(F.col("__k").alias(by), "n",
                    F.coalesce("n_anchors", F.lit(0).cast("long"))
                    .alias("n_anchors"),
                    F.col("slope_micro")))


def jonckheere_terpstra(df: DataFrame, *, value_col: str,
                        group_col: str, order: list,
                        n_buckets: int = 64) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative across k
    groups — the trend-aware sibling of :func:`kruskal_wallis` (which
    only asks "different somewhere"): with a caller-specified group
    order g₁ < … < g_k (dose levels, cohort ages, funnel stages), JT
    sums the Mann–Whitney U of every ordered pair,

        JT = Σ_{g<h} U_{gh},   U counted with half-credit ties,

    so a monotone location trend pushes JT far above its null mean
    E = Σ_{g<h} n_g·n_h / 2.  z uses the full TIE-CORRECTED variance
    (Hollander & Wolfe):

        Var = [N(N−1)(2N+5) − Σ_g …(n) − Σ_v …(t)]/72
            + Σn(n−1)(n−2)·Σt(t−1)(t−2) / (36·N(N−1)(N−2))
            + Σn(n−1)·Σt(t−1) / (8·N(N−1))

    Exactness: values µ-snap; per-value per-group counts pivot to k
    literal columns (k = len(order), compile-time); per-group
    cumulative-below counts run through the SHARED two-phase
    value-bucket machinery (one in-bucket window computes all k
    columns; the bucket-offset frame is k·B-bounded); the DOUBLED
    statistic JT2 = Σ_v Σ_{g<h} (2·c_h·cum<_g + c_h·c_g) and E2 stay
    exact DECIMAL(38,0), as do every tie/group polynomial sum; the
    three variance terms are assembled in one fixed-order double
    expression.  Rows whose group is not in ``order`` are excluded.
    Var ≤ 0 (all values tied) → NULL z.

    Output one row: (n, k, jt2, e2, z).
    """
    from functools import reduce

    from pyspark.sql import Window

    labels = list(order)
    k = len(labels)
    if k < 2:
        raise ValueError("order needs >= 2 groups")
    B = int(n_buckets)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(v.isNotNull() & g.isin(labels))
            .select(g.alias("__g"), v.alias("__v")))
    cs = [F.sum(F.when(F.col("__g") == F.lit(lab), 1).otherwise(0))
          .cast("long").alias(f"c{i}") for i, lab in enumerate(labels)]
    per_v = base.groupBy("__v").agg(*cs)
    m = reduce(lambda a, b: a + b,
               [F.col(f"c{i}") for i in range(k)])
    per_v = per_v.withColumn("__m", m.cast("long"))
    bounds = per_v.agg(F.min("__v").alias("__lo"),
                       F.max("__v").alias("__hi"))
    pv = (per_v.crossJoin(F.broadcast(bounds))
          .withColumn("__b", F.expr(
              f"(__v - __lo) div ((__hi - __lo) div {B} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1))
    for i in range(k):
        pv = pv.withColumn(f"in{i}", F.coalesce(
            F.sum(f"c{i}").over(w_in), F.lit(0)))
    btot = pv.groupBy("__b").agg(
        *[F.sum(f"c{i}").alias(f"bt{i}") for i in range(k)])
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select("__b", *[
        F.coalesce(F.sum(f"bt{i}").over(w_b), F.lit(0)).alias(f"o{i}")
        for i in range(k)])
    pv = pv.join(F.broadcast(boff), "__b")
    for i in range(k):
        pv = pv.withColumn(f"cum{i}", F.col(f"o{i}") + F.col(f"in{i}"))
    # doubled JT contribution at each value
    jt_terms = []
    for gi in range(k):
        for hi in range(gi + 1, k):
            jt_terms.append(
                d38(F.col(f"c{hi}"))
                * (2 * d38(F.col(f"cum{gi}")) + d38(F.col(f"c{gi}"))))
    jt_v = reduce(lambda a, b: a + b, jt_terms)
    mm = F.col("__m").cast("long")
    agg = pv.agg(
        F.sum(jt_v).alias("__jt2"),
        *[F.sum(f"c{i}").cast("long").alias(f"n{i}") for i in range(k)],
        F.sum(d38(mm) * d38(mm - 1) * d38(2 * mm + 5)).alias("__t1"),
        F.sum(d38(mm) * d38(mm - 1) * d38(mm - 2)).alias("__t2"),
        F.sum(d38(mm) * d38(mm - 1)).alias("__t3"))
    n_tot = reduce(lambda a, b: a + b,
                   [F.col(f"n{i}") for i in range(k)])
    e2 = reduce(lambda a, b: a + b,
                [d38(F.col(f"n{gi}")) * d38(F.col(f"n{hi}"))
                 for gi in range(k) for hi in range(gi + 1, k)])
    g1 = reduce(lambda a, b: a + b,
                [d38(F.col(f"n{i}")) * d38(F.col(f"n{i}") - 1)
                 * d38(2 * F.col(f"n{i}") + 5) for i in range(k)])
    g2 = reduce(lambda a, b: a + b,
                [d38(F.col(f"n{i}")) * d38(F.col(f"n{i}") - 1)
                 * d38(F.col(f"n{i}") - 2) for i in range(k)])
    g3 = reduce(lambda a, b: a + b,
                [d38(F.col(f"n{i}")) * d38(F.col(f"n{i}") - 1)
                 for i in range(k)])
    out = agg.withColumn("n", n_tot.cast("long"))
    N = F.col("n")
    var = (
        (d38(N) * d38(N - 1) * d38(2 * N + 5) - g1 - F.col("__t1"))
        .cast("double") / F.lit(72.0)
        + (g2 * F.col("__t2")).cast("double")
        / nz((d38(N) * d38(N - 1) * d38(N - 2)).cast("double")
             * F.lit(36.0))
        + (g3 * F.col("__t3")).cast("double")
        / nz((d38(N) * d38(N - 1)).cast("double") * F.lit(8.0)))
    z = F.when(var > 0, F.round(
        (F.col("__jt2") - e2).cast("double") / F.lit(2.0)
        / nz(F.sqrt(var)), 6))
    return out.select(
        "n", F.lit(k).cast("int").alias("k"),
        F.col("__jt2").cast("decimal(38,0)").cast("long").alias("jt2"),
        e2.cast("long").alias("e2"), z.alias("z"))


def ansari_bradley(df: DataFrame, *, value_col: str, group_col: str,
                   group_a, group_b, n_buckets: int = 64) -> DataFrame:
    """Ansari–Bradley two-sample SCALE test — the rank-based
    dispersion check next to :func:`brown_forsythe` (which compares
    |x − median| magnitudes): rank all N pooled values, score each
    observation a_i = min(r_i, N+1−r_i) (small at both extremes,
    large in the middle), and sum group A's scores.  If A is more
    spread out than B its mass sits in the tails, its scores run
    small, and the statistic drops below its null mean — no moment
    assumptions, center differences cancel by symmetry of the score
    (classic caveat: medians should be comparable; pinned in tests).

    z uses the exact permutation moments of a linear rank statistic
    (tie-safe by construction):

        E[A] = n_a·S₁/N,  Var[A] = n_a·n_b·(N·S₂ − S₁²)/(N²(N−1))

    with S₁ = Σ_j a_j, S₂ = Σ_j a_j².  Exactness: DOUBLED midranks
    mr2 = 2·r0+m+1 off the shared two-phase value-bucket machinery
    give DOUBLED scores a2 = min(mr2, 2(N+1)−mr2) — exact integers
    even at tied midpoints; A2, S1, S2 stay exact DECIMAL(38,0), the
    z numerator is the exact integer N·A2 − n_a·S1, and

        z = (N·A2 − n_a·S1) / √(n_a·n_b·(N·S₂' − S₁'²)/(N−1))

    (primes = doubled-score sums; the doubling and the N-scaling
    cancel between numerator and the √) — one division inside the
    √ and one final divide, both fixed-order.  Zero score variance
    (N < 3 or all values equal) → NULL z.

    Output one row: (n_a, n_b, a2, z) — a2 the doubled AB statistic.
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(v.isNotNull() & g.isin([group_a, group_b]))
            .select((g == F.lit(group_a)).alias("ia"), v.alias("__v")))
    per_v = base.groupBy("__v").agg(
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("long")
        .alias("ca"),
        F.sum(F.when(~F.col("ia"), 1).otherwise(0)).cast("long")
        .alias("cb"))
    bounds = per_v.agg(F.min("__v").alias("__lo"),
                       F.max("__v").alias("__hi"),
                       F.sum(F.col("ca") + F.col("cb")).cast("long")
                       .alias("__n"))
    pv = (per_v.crossJoin(F.broadcast(bounds))
          .withColumn("__m", (F.col("ca") + F.col("cb")).cast("long"))
          .withColumn("__b", F.expr(
              f"(__v - __lo) div ((__hi - __lo) div {B} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1))
    pv = pv.withColumn("__m_in",
                       F.coalesce(F.sum("__m").over(w_in), F.lit(0)))
    btot = pv.groupBy("__b").agg(F.sum("__m").alias("__bm"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__b", F.coalesce(F.sum("__bm").over(w_b), F.lit(0)).alias("__om"))
    pv = (pv.join(F.broadcast(boff), "__b")
          .withColumn("__mr2",
                      2 * (F.col("__om") + F.col("__m_in"))
                      + F.col("__m") + 1)
          .withColumn("__a2", F.least(
              F.col("__mr2"), 2 * (F.col("__n") + 1) - F.col("__mr2"))))
    agg = pv.agg(
        F.max("__n").alias("n"),
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(d38(F.col("ca")) * d38(F.col("__a2"))).alias("__A2"),
        F.sum(d38(F.col("__m")) * d38(F.col("__a2"))).alias("__s1"),
        F.sum(d38(F.col("__m")) * d38(F.col("__a2"))
              * d38(F.col("__a2"))).alias("__s2"))
    N = F.col("n")
    num = d38(N) * F.col("__A2") - d38(F.col("n_a")) * F.col("__s1")
    var_in = (d38(F.col("n_a")) * d38(F.col("n_b"))
              * (d38(N) * F.col("__s2") - F.col("__s1") * F.col("__s1")))
    z = F.when(var_in > 0, F.round(
        num.cast("double")
        / nz(F.sqrt(var_in.cast("double")
                    / nz((N - 1).cast("double")))), 6))
    return agg.select(
        "n_a", "n_b",
        F.col("__A2").cast("long").alias("a2"),
        z.alias("z"))


def cvm_two_sample(df: DataFrame, *, value_col: str, group_col: str,
                   group_a, group_b, n_buckets: int = 64) -> DataFrame:
    """Two-sample Cramér–von Mises statistic — the INTEGRAL companion
    of the KS sup (q253): KS sees only the single worst CDF gap, CvM
    accumulates the squared gap over the whole support, so spread-out
    moderate drift that never produces one big gap still registers.

        T = n_a·n_b/N² · Σ_{i=1..N} (F_a(x_i) − F_b(x_i))²

    (sum over ALL pooled observations, duplicates counted with their
    multiplicity — the standard definition).

    Exactness: on the shared distinct-value two-phase frame the gap
    at v is the exact integer D(v) = cumA(v)·n_b − cumB(v)·n_a
    (the q253 ks_num integrand), so

        T = Σ_v m_v·D(v)²  /  (n_a·n_b·N²)

    with the numerator an exact DECIMAL(38,0) sum (D ≤ n_a·n_b ~
    10¹² squares past int64 immediately) and ONE final double
    division.  Empty groups → NULL t.  Output one row:
    (n_a, n_b, t_num, t) — t_num is the exactly-computed integer
    numerator REPORTED as a double (it crosses int64 around sf0.1;
    both engines round the same exact integer to the same double).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(v.isNotNull() & g.isin([group_a, group_b]))
            .select((g == F.lit(group_a)).alias("ia"), v.alias("__v")))
    per_v = base.groupBy("__v").agg(
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("long")
        .alias("ca"),
        F.sum(F.when(~F.col("ia"), 1).otherwise(0)).cast("long")
        .alias("cb"))
    bounds = per_v.agg(F.min("__v").alias("__lo"),
                       F.max("__v").alias("__hi"),
                       F.sum("ca").cast("long").alias("__na"),
                       F.sum("cb").cast("long").alias("__nb"))
    pv = (per_v.crossJoin(F.broadcast(bounds))
          .withColumn("__b", F.expr(
              f"(__v - __lo) div ((__hi - __lo) div {B} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pv = (pv.withColumn("__a_in", F.sum("ca").over(w_in))
          .withColumn("__b_in", F.sum("cb").over(w_in)))
    btot = pv.groupBy("__b").agg(F.sum("ca").alias("__ba"),
                                 F.sum("cb").alias("__bb"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__b",
        F.coalesce(F.sum("__ba").over(w_b), F.lit(0)).alias("__oa"),
        F.coalesce(F.sum("__bb").over(w_b), F.lit(0)).alias("__ob"))
    pv = (pv.join(F.broadcast(boff), "__b")
          .withColumn("__d",
                      (F.col("__oa") + F.col("__a_in")) * F.col("__nb")
                      - (F.col("__ob") + F.col("__b_in")) * F.col("__na"))
          .withColumn("__m", (F.col("ca") + F.col("cb")).cast("long")))
    agg = pv.agg(
        F.max("__na").alias("n_a"), F.max("__nb").alias("n_b"),
        F.sum(d38(F.col("__m")) * d38(F.col("__d")) * d38(F.col("__d")))
        .alias("__tnum"))
    N = F.col("n_a") + F.col("n_b")
    t = F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(
        F.col("__tnum").cast("double")
        / nz((d38(F.col("n_a")) * d38(F.col("n_b")) * d38(N) * d38(N))
             .cast("double")), 6))
    return agg.select("n_a", "n_b",
                      F.col("__tnum").cast("double").alias("t_num"),
                      t.alias("t"))


def lepage_test(df: DataFrame, *, value_col: str, group_col: str,
                group_a, group_b, n_buckets: int = 64) -> DataFrame:
    """Lepage two-sample LOCATION+SCALE test — the omnibus that
    catches what either marginal test alone misses: L = z_W² + z_AB²
    (Wilcoxon/Mann–Whitney rank-sum z for location + Ansari–Bradley z
    for scale; the two are asymptotically independent, so L is χ²(2)
    under the null).  A distribution can drift by shifting, by
    widening, or both — q253 only scores the shift direction as AUC,
    q341 only the spread; Lepage fires on either (pinned on both
    marginals).

    One shared distinct-value two-phase pass computes BOTH statistics
    exactly: per-group exclusive prefixes give the doubled MW
    U2 = Σ_v c_a·(2·cum<_b + c_b) and the doubled AB scores
    a2 = min(mr2, 2(N+1)−mr2); z_W uses the tie-corrected variance

        Var[U] = n_a·n_b·(N³−N − Σ(t³−t)) / (12·N(N−1))

    (exact DECIMAL numerator, one division inside the √) and z_AB
    the linear-rank permutation moments (q341).  Either variance ≤ 0
    → NULL l (the marginals may still be reported).  Output one row:
    (n_a, n_b, z_w, z_ab, l).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(v.isNotNull() & g.isin([group_a, group_b]))
            .select((g == F.lit(group_a)).alias("ia"), v.alias("__v")))
    per_v = base.groupBy("__v").agg(
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("long")
        .alias("ca"),
        F.sum(F.when(~F.col("ia"), 1).otherwise(0)).cast("long")
        .alias("cb"))
    bounds = per_v.agg(F.min("__v").alias("__lo"),
                       F.max("__v").alias("__hi"),
                       F.sum("ca").cast("long").alias("__na"),
                       F.sum("cb").cast("long").alias("__nb"))
    pv = (per_v.crossJoin(F.broadcast(bounds))
          .withColumn("__m", (F.col("ca") + F.col("cb")).cast("long"))
          .withColumn("__b", F.expr(
              f"(__v - __lo) div ((__hi - __lo) div {B} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1))
    pv = (pv.withColumn("__a_in",
                        F.coalesce(F.sum("ca").over(w_in), F.lit(0)))
          .withColumn("__b_in",
                      F.coalesce(F.sum("cb").over(w_in), F.lit(0))))
    btot = pv.groupBy("__b").agg(F.sum("ca").alias("__ba"),
                                 F.sum("cb").alias("__bb"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__b",
        F.coalesce(F.sum("__ba").over(w_b), F.lit(0)).alias("__oa"),
        F.coalesce(F.sum("__bb").over(w_b), F.lit(0)).alias("__ob"))
    N_col = F.col("__na") + F.col("__nb")
    pv = (pv.join(F.broadcast(boff), "__b")
          .withColumn("__clta", F.col("__oa") + F.col("__a_in"))
          .withColumn("__cltb", F.col("__ob") + F.col("__b_in"))
          .withColumn("__mr2",
                      2 * (F.col("__clta") + F.col("__cltb"))
                      + F.col("__m") + 1)
          .withColumn("__a2", F.least(
              F.col("__mr2"), 2 * (N_col + 1) - F.col("__mr2"))))
    agg = pv.agg(
        F.max("__na").alias("n_a"), F.max("__nb").alias("n_b"),
        F.sum(d38(F.col("ca"))
              * (2 * d38(F.col("__cltb")) + d38(F.col("cb"))))
        .alias("__u2"),
        F.sum(d38(F.col("ca")) * d38(F.col("__a2"))).alias("__ab2"),
        F.sum(d38(F.col("__m")) * d38(F.col("__a2"))).alias("__s1"),
        F.sum(d38(F.col("__m")) * d38(F.col("__a2"))
              * d38(F.col("__a2"))).alias("__s2"),
        F.sum(d38(F.col("__m")) * d38(F.col("__m")) * d38(F.col("__m"))
              - d38(F.col("__m"))).alias("__tt"))
    na, nb = F.col("n_a"), F.col("n_b")
    N = na + nb
    # Wilcoxon/MW z: doubled U, tie-corrected variance
    var_u_num = (d38(na) * d38(nb)
                 * (d38(N) * d38(N) * d38(N) - d38(N) - F.col("__tt")))
    z_w = F.when(var_u_num > 0, F.round(
        (F.col("__u2") - d38(na) * d38(nb)).cast("double")
        / F.lit(2.0)
        / nz(F.sqrt(var_u_num.cast("double")
                    / nz((12 * N * (N - 1)).cast("double")))), 6))
    # Ansari-Bradley z (q341 machinery)
    ab_num = d38(N) * F.col("__ab2") - d38(na) * F.col("__s1")
    ab_var = (d38(na) * d38(nb)
              * (d38(N) * F.col("__s2") - F.col("__s1") * F.col("__s1")))
    z_ab = F.when(ab_var > 0, F.round(
        ab_num.cast("double")
        / nz(F.sqrt(ab_var.cast("double")
                    / nz((N - 1).cast("double")))), 6))
    l = F.when((var_u_num > 0) & (ab_var > 0),
               F.round(z_w * z_w + z_ab * z_ab, 6))
    return agg.select("n_a", "n_b", z_w.alias("z_w"),
                      z_ab.alias("z_ab"), l.alias("l"))


def gamma_somers_d(df: DataFrame, *, x_col: str, y_col: str) -> DataFrame:
    """Goodman–Kruskal γ and Somers' D for a pair of ORDINAL columns
    — the ordered-categorical association pair next to Cramér's V
    (q333, nominal) and Kendall's τ-b (q334, fully continuous): γ
    ignores ties entirely ((C−D)/(C+D)), Somers' D_yx penalizes ties
    on the DEPENDENT y ((C−D)/(C+D+T_y)) — the asymmetric "does x
    predict y's order" version.

    Contract: ``x_col``/``y_col`` are already small ordinals (bins,
    deciles, capped counts — the caller bins, as for the ACF's
    integer contract), so the contingency GRID is metadata-sized and
    the cell-pair frame (grid × grid, the only quadratic object) is
    bounded by (#cells)² — never by the data.  Concordant /
    discordant / tie pair counts come off the cell-pair join as exact
    integer products in DECIMAL(38,0) (n_a·n_b crosses int64 at
    ~3·10⁹ rows per cell); each observation pair is counted exactly
    once via the a.x < b.x (strict) direction plus the same-x tie
    row.  Output one row: (n, c, d, t_x, t_y, gamma, somers_d_yx)
    with c/d/t the PAIR counts; C+D = 0 → NULL gamma/D.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    cells = (df.filter(x.isNotNull() & y.isNotNull())
             .groupBy(x.alias("__x"), y.alias("__y"))
             .agg(F.count("*").cast("long").alias("__n")))
    a = cells.select(F.col("__x").alias("xa"), F.col("__y").alias("ya"),
                     F.col("__n").alias("na"))
    b = cells.select(F.col("__x").alias("xb"), F.col("__y").alias("yb"),
                     F.col("__n").alias("nb"))
    pairs = a.crossJoin(b)
    prod = d38(F.col("na")) * d38(F.col("nb"))
    conc = F.when((F.col("xa") < F.col("xb"))
                  & (F.col("ya") < F.col("yb")), prod)
    disc = F.when((F.col("xa") < F.col("xb"))
                  & (F.col("ya") > F.col("yb")), prod)
    tx = F.when((F.col("xa") == F.col("xb"))
                & (F.col("ya") < F.col("yb")), prod)
    ty = F.when((F.col("ya") == F.col("yb"))
                & (F.col("xa") < F.col("xb")), prod)
    tot = cells.agg(F.sum("__n").cast("long").alias("n"))
    agg = pairs.agg(
        F.coalesce(F.sum(conc), F.lit(0).cast("decimal(38,0)"))
        .alias("__c"),
        F.coalesce(F.sum(disc), F.lit(0).cast("decimal(38,0)"))
        .alias("__d"),
        F.coalesce(F.sum(tx), F.lit(0).cast("decimal(38,0)"))
        .alias("__tx"),
        F.coalesce(F.sum(ty), F.lit(0).cast("decimal(38,0)"))
        .alias("__ty"))
    out = agg.crossJoin(F.broadcast(tot))
    cd = F.col("__c") + F.col("__d")
    gamma = F.when(cd > 0, F.round(
        (F.col("__c") - F.col("__d")).cast("double")
        / nz(cd.cast("double")), 6))
    somers = F.when((cd + F.col("__ty")) > 0, F.round(
        (F.col("__c") - F.col("__d")).cast("double")
        / nz((cd + F.col("__ty")).cast("double")), 6))
    return out.select(
        "n",
        F.col("__c").cast("long").alias("c"),
        F.col("__d").cast("long").alias("d"),
        F.col("__tx").cast("long").alias("t_x"),
        F.col("__ty").cast("long").alias("t_y"),
        gamma.alias("gamma"), somers.alias("somers_d_yx"))


def cochran_armitage(df: DataFrame, *, group_col: str, label_expr: str,
                     order: list) -> DataFrame:
    """Cochran–Armitage trend test — the BINARY-outcome sibling of
    :func:`jonckheere_terpstra` (which needs a continuous y): does a
    proportion rise monotonically across k ORDERED groups (conversion
    by funnel stage, defect rate by dose)?  With integer scores
    t_i = 0..k−1 on the caller-declared order and per-group (n_i,
    positives r_i):

        Z² = N·(N·Σt·r − R·Σt·n)²
             / (R·(N−R)·(N·Σt²·n − (Σt·n)²))

    — every factor an exact integer, so Z² is ONE double division of
    DECIMAL(38,0) products and z carries the sign of the trend
    numerator.  Degenerate inputs (all-positive/all-negative R, zero
    score variance) report NULL loudly.  Rows whose group is not in
    ``order`` are excluded.

    Scale: one k-row groupBy; the k-row frame folds to one row — no
    window, no join.  Output: (n, k, r_pos, z).
    """
    labels = list(order)
    k = len(labels)
    if k < 2:
        raise ValueError("order needs >= 2 groups")
    score = F.create_map(*[x for i, lab in enumerate(labels)
                           for x in (F.lit(lab), F.lit(i))])
    y = F.when(F.expr(label_expr), 1).otherwise(0)
    base = (df.filter(F.col(group_col).isin(labels))
            .select(score[F.col(group_col)].cast("long").alias("__t"),
                    y.alias("__y")))
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__y").cast("long").alias("r_pos"),
        F.sum(F.col("__t") * F.col("__y")).cast("long").alias("__tr"),
        F.sum("__t").cast("long").alias("__tn"),
        F.sum(F.col("__t") * F.col("__t")).cast("long").alias("__t2n"))
    N, R = F.col("n"), F.col("r_pos")
    num = d38(N) * d38(F.col("__tr")) - d38(R) * d38(F.col("__tn"))
    var = (d38(R) * d38(N - R)
           * (d38(N) * d38(F.col("__t2n"))
              - d38(F.col("__tn")) * d38(F.col("__tn"))))
    z = F.when(var > 0, F.round(
        F.sqrt(d38(N).cast("double")) * num.cast("double")
        / nz(F.sqrt(var.cast("double"))), 6))
    return agg.select("n", F.lit(k).cast("int").alias("k"), "r_pos",
                      z.alias("z"))


def ks_uniform_test(df: DataFrame, *, value_col: str, lo: int, hi: int,
                    n_buckets: int = 64) -> DataFrame:
    """One-sample Kolmogorov–Smirnov statistic against the UNIFORM
    reference on [lo, hi) — the goodness-of-fit wing the two-sample
    drift battery (q253/q342) doesn't cover: is load spread evenly
    across the day, are hash buckets unbiased, did a scheduler
    introduce time-of-day clumping?

        D = sup_x |F_n(x) − (x−lo)/(hi−lo)|

    attained either just AFTER a jump (F_n above the line) or just
    BEFORE one (line above F_n), so with per-distinct-value counts m
    and inclusive cumulative c the exact integer sup numerator is

        D_num = max_v max( c·W − n·(v−lo),  n·(v−lo) − (c−m)·W )

    with W = hi−lo; D = D_num/(n·W) in ONE final division (DECIMAL
    products — n·W crosses int64 at ~10⁸ rows over a µs-day).
    ``value_col`` must already be integral in [lo, hi) (the ACF
    integer contract — seconds-of-day, bucket ids); out-of-domain
    rows raise the sup honestly rather than being clipped.  Empty
    input → NULL.  Cumulatives run the shared two-phase value-bucket
    machinery.  Output one row: (n, d_num, d).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    W = int(hi) - int(lo)
    if W <= 0:
        raise ValueError("hi must exceed lo")
    v = F.col(value_col).cast("long")
    base = df.filter(v.isNotNull()).select(v.alias("__v"))
    per_v = base.groupBy("__v").agg(F.count("*").cast("long").alias("__m"))
    bounds = per_v.agg(F.min("__v").alias("__blo"),
                       F.max("__v").alias("__bhi"),
                       F.sum("__m").cast("long").alias("__n"))
    pv = (per_v.crossJoin(F.broadcast(bounds))
          .withColumn("__b", F.expr(
              f"(__v - __blo) div ((__bhi - __blo) div {B} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pv = pv.withColumn("__c_in", F.sum("__m").over(w_in))
    btot = pv.groupBy("__b").agg(F.sum("__m").alias("__bm"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__b", F.coalesce(F.sum("__bm").over(w_b), F.lit(0)).alias("__o"))
    pv = (pv.join(F.broadcast(boff), "__b")
          .withColumn("__c", F.col("__o") + F.col("__c_in")))
    up = (d38(F.col("__c")) * F.lit(W)
          - d38(F.col("__n")) * d38(F.col("__v") - F.lit(int(lo))))
    dn = (d38(F.col("__n")) * d38(F.col("__v") - F.lit(int(lo)))
          - d38(F.col("__c") - F.col("__m")) * F.lit(W))
    agg = pv.agg(F.max("__n").alias("n"),
                 F.max(F.greatest(up, dn)).alias("__dnum"))
    d = F.when(F.col("n") > 0, F.round(
        F.col("__dnum").cast("double")
        / nz((d38(F.col("n")) * F.lit(W)).cast("double")), 6))
    return agg.select(
        "n", F.col("__dnum").cast("double").alias("d_num"),
        d.alias("d"))


def dispersion_index_by_key(df: DataFrame, *, by: str, ts_col: str,
                            bucket_secs: int = 3600) -> DataFrame:
    """Per-key index of dispersion (Fano factor) of event counts over
    fixed time buckets — the burstiness ONE-liner for crawl/traffic
    scheduling: a Poisson arrival stream scores ≈ 1, machine-regular
    traffic < 1, bursty humans and incident spikes ≫ 1 (both
    contrasts pinned; q214's bot-regularity features are the
    per-gap view, this is the per-rate view).

        D = Var[c] / E[c]  over the key's FULL bucket span —
        empty buckets count as zeros (the completion rule; dropping
        them silently deflates the variance), via span arithmetic
        instead of a grid join:

        D = (H·Σc² − N²) / (H·N),   H = span buckets, N = Σc

    — the population-variance/mean ratio collapses to ONE division
    of exact integers (Σc² in DECIMAL(38,0)).  Keys with one bucket
    (H = 1) or no events report NULL.  One (key, bucket) agg + one
    key agg; no window, no grid explode.

    Output per key: (by, n_events, n_buckets, d).
    """
    b = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp"))
                / F.lit(int(bucket_secs) * 1_000_000)).cast("long")
    per = (df.filter(F.col(ts_col).isNotNull())
           .groupBy(F.col(by).alias("__k"), b.alias("__b"))
           .agg(F.count("*").cast("long").alias("__c")))
    g = per.groupBy("__k").agg(
        F.sum("__c").cast("long").alias("n_events"),
        (F.max("__b") - F.min("__b") + 1).cast("long")
        .alias("n_buckets"),
        F.sum(d38(F.col("__c")) * d38(F.col("__c"))).alias("__c2"))
    H, N = F.col("n_buckets"), F.col("n_events")
    d = F.when((H >= 2) & (N > 0), F.round(
        (d38(H) * F.col("__c2") - d38(N) * d38(N)).cast("double")
        / nz((d38(H) * d38(N)).cast("double")), 6))
    return g.select(F.col("__k").alias(by), "n_events", "n_buckets",
                    d.alias("d"))


def odds_ratio_2x2(df: DataFrame, *, expr_a: str,
                   expr_b: str) -> DataFrame:
    """2×2 odds ratio with the Haldane–Anscombe ½ correction — the
    EFFECT-SIZE report for the binary-association wing (q205's χ²
    and q318's McNemar say "associated?"; this says "how strongly",
    on the multiplicative scale A/B dashboards quote):

        OR = (a+½)(d+½) / ((b+½)(c+½)),
        SE[ln OR] = √(1/(a+½) + 1/(b+½) + 1/(c+½) + 1/(d+½)),
        95% CI = exp(ln OR ∓ 1.959964·SE)

    over the exact integer cell counts (a = both true, b = A only,
    c = B only, d = neither).  The ½ correction keeps empty cells
    finite (the WOE/q259 half-count discipline) and is applied to
    EVERY cell unconditionally so the estimate is continuous in the
    data; all derived numbers are fixed-order doubles of exact
    integers with the z literal shared cross-engine (the q328
    Wilson rule).  One pass, one row, no join.

    Output: (a, b, c, d, odds_ratio, log_or, se, ci_lo, ci_hi).
    """
    ea, eb = F.expr(expr_a), F.expr(expr_b)
    agg = df.agg(
        F.sum(F.when(ea & eb, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(ea & ~eb, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~ea & eb, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~ea & ~eb, 1).otherwise(0)).cast("long")
        .alias("d"))
    h = lambda col: F.col(col).cast("double") + F.lit(0.5)  # noqa: E731
    orr = h("a") * h("d") / (h("b") * h("c"))
    log_or = F.log(orr)
    se = F.sqrt(1 / h("a") + 1 / h("b") + 1 / h("c") + 1 / h("d"))
    z = F.lit(1.959964)
    return agg.select(
        "a", "b", "c", "d",
        F.round(orr, 6).alias("odds_ratio"),
        F.round(log_or, 6).alias("log_or"),
        F.round(se, 6).alias("se"),
        F.round(F.exp(log_or - z * se), 6).alias("ci_lo"),
        F.round(F.exp(log_or + z * se), 6).alias("ci_hi"))


def mood_median_test(df: DataFrame, *, value_col: str, group_col: str,
                     n_buckets: int = 64) -> DataFrame:
    """Mood's median test — the COARSEST k-sample location test, the
    robustness end of the ladder next to kruskal_wallis (full
    midranks) and brown_forsythe (spread): every value reduces to one
    bit, above the POOLED median or not, and the 2×k count table goes
    through the chi² machinery.  Where even ranks can be dragged by a
    heavy tail, counts cannot — the test survives anything with a
    defined median (and correspondingly spends power).

    Exactness: values µ-snap; the pooled DOUBLED median
    m2 = v_(k1) + v_(k2) (k1 = (N+1) div 2, k2 = (N+2) div 2) comes
    from the distinct-value frame via the shared two-phase
    value-bucket cumulative machinery — each order statistic is the
    unique value with run-offset < k ≤ run-offset + count, so m2 is
    an exact integer and "above" is the exact integer comparison
    2v > m2 (never a float midpoint).  Per-group (above, not-above)
    counts are one groupBy over the (group, value) frame; each chi²
    cell term is the all-integer form (N·a_g − n_g·A)²/(N·n_g·A)
    (one double division per cell, DECIMAL(38,0) numerator), summed
    by the ORDERED left-fold over the sorted group array (the
    kruskal_wallis discipline, so the cross-group double sum is
    fixed-order in both engines).  Degenerate splits (every value on
    one side of the median, k < 2) → NULL chi².

    Output one row: (k, n, median_x2, n_above, chi2).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(v.isNotNull() & g.isNotNull())
            .select(g.alias("__g"), v.alias("__v")))
    cg = base.groupBy("__g", "__v").agg(
        F.count("*").cast("long").alias("__c"))
    per_v = cg.groupBy("__v").agg(F.sum("__c").cast("long").alias("__m"))
    bounds = per_v.agg(F.min("__v").alias("__lo"),
                       F.max("__v").alias("__hi"),
                       F.sum("__m").cast("long").alias("__n"))
    pv = (per_v.crossJoin(F.broadcast(bounds))
          .withColumn("__b", F.expr(
              f"(__v - __lo) div ((__hi - __lo) div {B} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1))
    pv = pv.withColumn("__m_in",
                       F.coalesce(F.sum("__m").over(w_in), F.lit(0)))
    btot = pv.groupBy("__b").agg(F.sum("__m").alias("__bm"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__b", F.coalesce(F.sum("__bm").over(w_b), F.lit(0)).alias("__om"))
    pv = (pv.join(F.broadcast(boff), "__b")
          .withColumn("__r0", F.col("__om") + F.col("__m_in")))
    k1 = F.expr("(__n + 1) div 2")
    k2 = F.expr("(__n + 2) div 2")
    v1 = (pv.filter((F.col("__r0") < k1)
                    & (k1 <= F.col("__r0") + F.col("__m")))
          .select(F.col("__v").alias("__v1")))
    v2 = (pv.filter((F.col("__r0") < k2)
                    & (k2 <= F.col("__r0") + F.col("__m")))
          .select(F.col("__v").alias("__v2")))
    med = (v1.crossJoin(F.broadcast(v2))
           .select((F.col("__v1") + F.col("__v2")).alias("__m2")))
    per_g = (cg.crossJoin(F.broadcast(med))
             .groupBy("__g")
             .agg(F.max("__m2").alias("__m2"),
                  F.sum(F.when(2 * F.col("__v") > F.col("__m2"),
                               F.col("__c")).otherwise(F.lit(0)))
                  .cast("long").alias("__a"),
                  F.sum("__c").cast("long").alias("__ng")))
    # totals get DISTINCT names from per_g's columns — Spark column
    # resolution is CASE-INSENSITIVE, so "__A" vs "__a" would collide
    tots = per_g.agg(F.sum("__a").cast("long").alias("__atot"),
                     F.sum("__ng").cast("long").alias("__ntot"),
                     F.max("__m2").alias("__m2t"))
    j = per_g.drop("__m2").crossJoin(F.broadcast(tots))
    na = (F.col("__ntot") * F.col("__a")
          - F.col("__ng") * F.col("__atot"))
    nb = (F.col("__ntot") * (F.col("__ng") - F.col("__a"))
          - F.col("__ng") * (F.col("__ntot") - F.col("__atot")))
    term = ((d38(na) * d38(na)).cast("double")
            / nz((d38(F.col("__ntot")) * d38(F.col("__ng"))
                  * d38(F.col("__atot"))).cast("double"))
            + (d38(nb) * d38(nb)).cast("double")
            / nz((d38(F.col("__ntot")) * d38(F.col("__ng"))
                  * d38(F.col("__ntot") - F.col("__atot")))
                 .cast("double")))
    folded = j.groupBy().agg(
        F.count("*").cast("int").alias("k"),
        F.max("__ntot").alias("n"),
        F.max("__m2t").alias("median_x2"),
        F.max("__atot").alias("n_above"),
        F.aggregate(
            F.sort_array(F.collect_list(
                F.struct(F.col("__g").cast("string").alias("g"),
                         term.alias("t")))),
            F.lit(0.0), lambda a, s: a + s["t"]).alias("__chi"))
    chi2 = F.when((F.col("k") >= 2) & (F.col("n_above") > 0)
                  & (F.col("n_above") < F.col("n")),
                  F.round(F.col("__chi"), 6))
    return folded.select("k", "n", "median_x2", "n_above",
                         chi2.alias("chi2"))


def page_trend_test(df: DataFrame, *, cols: list[str]) -> DataFrame:
    """Page's L trend test — the ORDERED-alternative companion of
    :func:`friedman_test`, exactly as jonckheere_terpstra is the
    ordered companion of kruskal_wallis: with the k repeated-measure
    columns given in hypothesized INCREASING order, L weights each
    treatment's rank total by its position, so a monotone trend that
    Friedman dilutes across k−1 degrees of freedom concentrates into
    one z.

    Exactness: within-block DOUBLED midranks a_j = 2C + t + 1 from
    the same k² in-plan pairwise comparisons as Friedman; the doubled
    statistic L2 = Σ_j (j+1)·R2_j and the centered numerator
    L2 − n·k(k+1)²/2 are exact DECIMAL(38,0) integers; z is ONE
    double division by the closed-form null sd.  DOCUMENTED
    DEVIATION: the null variance n·k²(k+1)(k²−1)/144 is the
    standard no-tie Page variance — with midrank ties the test is the
    usual conservative approximation (the oracle replays the same
    convention, and tie-free blocks are exact).

    Output one row: (n, k, l2, z).
    """
    k = len(cols)
    if k < 2:
        raise ValueError("need at least 2 ordered treatment columns")
    ms = [F.round(F.col(c).cast("double") * 1e6).cast("long")
          for c in cols]
    ranks = []
    for j in range(k):
        below = None
        tied = None
        for l in range(k):
            b = F.when(ms[l] < ms[j], 1).otherwise(0)
            t = F.when(ms[l] == ms[j], 1).otherwise(0)
            below = b if below is None else below + b
            tied = t if tied is None else tied + t
        ranks.append((F.lit(2) * below + tied + F.lit(1)).cast("long"))
    base = df.select(*[r.alias(f"__a{j}") for j, r in enumerate(ranks)])
    aggs = [F.count("*").cast("long").alias("n")]
    for j in range(k):
        aggs.append(F.sum(d38(F.col(f"__a{j}"))).alias(f"__R{j}"))
    agg = base.agg(*aggs)
    l2 = None
    for j in range(k):
        t = F.lit(j + 1).cast("decimal(38,0)") * F.col(f"__R{j}")
        l2 = t if l2 is None else l2 + t
    n_ = F.col("n").cast("decimal(38,0)")
    # z = (L − E)/sd with L = L2/2 and E = n·k(k+1)²/4, i.e.
    # z = (L2 − n·k(k+1)²/2)/(2·sd) — k(k+1)² is always even, so the
    # centered numerator stays an exact integer
    num = l2 - n_ * F.lit(k * (k + 1) * (k + 1) // 2)
    sd = F.sqrt(F.col("n").cast("double")
                * F.lit(float(k * k * (k + 1) * (k * k - 1)) / 144.0))
    z = F.when(F.col("n") > 0,
               F.round(num.cast("double") / nz(F.lit(2.0) * sd), 6))
    return agg.select("n", F.lit(k).cast("int").alias("k"),
                      l2.cast("long").alias("l2"), z.alias("z"))


def lins_ccc(df: DataFrame, *, x_col: str, y_col: str) -> DataFrame:
    """Lin's concordance correlation coefficient — AGREEMENT for
    continuous paired measurements, completing the agreement family
    (Cohen's κ nominal, weighted κ ordinal, Krippendorff's α
    exchangeable): Pearson's r asks only "on a line?", CCC asks "on
    THE 45° line?" — penalizing scale and location shifts that r is
    blind to:

        ρc = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²)

    Exactness: x, y µ-snap to int64; with both sides multiplied by
    n², every term is an exact DECIMAL(38,0) integer —
    num = 2(n·Σxy − Σx·Σy),
    den = (n·Σx² − Σx²) + (n·Σy² − Σy²) + (Σx − Σy)² — one pass of
    six sufficient statistics, ONE double division.  Zero denominator
    (both columns constant and equal) → NULL.

    Output one row: (n, ccc).
    """
    x = F.round(F.col(x_col).cast("double") * 1e6).cast("long")
    y = F.round(F.col(y_col).cast("double") * 1e6).cast("long")
    base = (df.filter(x.isNotNull() & y.isNotNull())
            .select(x.alias("__x"), y.alias("__y")))
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d38(F.col("__x"))).alias("__sx"),
        F.sum(d38(F.col("__y"))).alias("__sy"),
        F.sum(d38(F.col("__x")) * d38(F.col("__x"))).alias("__sxx"),
        F.sum(d38(F.col("__y")) * d38(F.col("__y"))).alias("__syy"),
        F.sum(d38(F.col("__x")) * d38(F.col("__y"))).alias("__sxy"))
    n_ = F.col("n").cast("decimal(38,0)")
    num = F.lit(2).cast("decimal(38,0)") * (
        n_ * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
    dx = F.col("__sx") - F.col("__sy")
    den = (n_ * F.col("__sxx") - F.col("__sx") * F.col("__sx")
           + n_ * F.col("__syy") - F.col("__sy") * F.col("__sy")
           + dx * dx)
    ccc = F.when(den != 0,
                 F.round(num.cast("double") / nz(den.cast("double")), 6))
    return agg.select("n", ccc.alias("ccc"))


def theil_u(df: DataFrame, *, a_col: str, b_col: str) -> DataFrame:
    """Theil's uncertainty coefficient U — the NORMALIZED view of
    q262's mutual information: U(A|B) = I(A;B)/H(A) is the fraction
    of A's entropy that knowing B removes, in [0, 1] and comparable
    across tables (what raw nats are not), asymmetric where Cramér's
    V is not.  Reports U(A|B), U(B|A) and the symmetric
    2I/(H(A)+H(B)).

    Exactness: the q262/q86 µ-nat discipline applied three times —
    every cell/marginal pointwise log evaluates in fixed operand
    order and snaps to integer micro-nats, every weighted
    contribution snaps BEFORE its sum, so I, H(A), H(B) are
    order-independent integer µ-nat totals and each U is ONE double
    division.  Zero entropy (constant column) → NULL for the U's it
    denominates.  Rows with a NULL a or b are dropped, as q363 does.

    Scale: the q262 shape — one (a, b) cell exchange + two marginal
    aggs joined cell-frame-sized; the three totals fold to one row.

    Output one row: (n, mi_micro, h_a_micro, h_b_micro, u_a_given_b,
    u_b_given_a, u_sym).
    """
    cells = (df.filter(F.col(a_col).isNotNull()
                       & F.col(b_col).isNotNull())
             .groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
             .agg(F.count("*").cast("long").alias("n_ab")))
    ma = cells.groupBy("a").agg(F.sum("n_ab").cast("long").alias("n_a"))
    mb = cells.groupBy("b").agg(F.sum("n_ab").cast("long").alias("n_b"))
    tot = cells.agg(F.sum("n_ab").cast("long").alias("__n"))
    j = (cells.join(ma, "a").join(mb, "b").crossJoin(F.broadcast(tot)))
    pmi = F.round(
        (F.log((d38(F.col("__n")) * d38(F.col("n_ab"))).cast("double"))
         - F.log((d38(F.col("n_a")) * d38(F.col("n_b"))).cast("double"))) * 1e6
    ).cast("long")
    mi_c = F.round(F.col("n_ab").cast("double")
                   / F.col("__n").cast("double")
                   * pmi.cast("double")).cast("long")
    mi = j.select(mi_c.alias("__c")).agg(
        F.sum("__c").cast("long").alias("mi_micro"))

    def h_of(marg, cnt):
        t = marg.crossJoin(F.broadcast(tot))
        pm = F.round((F.log(F.col("__n").cast("double"))
                      - F.log(F.col(cnt).cast("double"))) * 1e6
                     ).cast("long")
        c = F.round(F.col(cnt).cast("double")
                    / F.col("__n").cast("double")
                    * pm.cast("double")).cast("long")
        return t.select(c.alias("__c")).agg(
            F.sum("__c").cast("long").alias("h"))

    ha = h_of(ma, "n_a").select(F.col("h").alias("h_a_micro"))
    hb = h_of(mb, "n_b").select(F.col("h").alias("h_b_micro"))
    out = (mi.crossJoin(F.broadcast(ha)).crossJoin(F.broadcast(hb))
           .crossJoin(F.broadcast(tot)))
    u_ab = F.round(F.col("mi_micro").cast("double")
                   / nz(F.col("h_a_micro").cast("double")), 6)
    u_ba = F.round(F.col("mi_micro").cast("double")
                   / nz(F.col("h_b_micro").cast("double")), 6)
    u_s = F.round(2.0 * F.col("mi_micro").cast("double")
                  / nz((F.col("h_a_micro")
                        + F.col("h_b_micro")).cast("double")), 6)
    return out.select(F.col("__n").alias("n"), "mi_micro",
                      "h_a_micro", "h_b_micro",
                      u_ab.alias("u_a_given_b"),
                      u_ba.alias("u_b_given_a"), u_s.alias("u_sym"))


def gk_lambda(df: DataFrame, *, x_col: str, y_col: str) -> DataFrame:
    """Goodman–Kruskal λ — proportional reduction in PREDICTION error
    for nominal pairs, the modal-guess companion to Cramér's V
    (deviation-from-independence) and Theil's U (entropy): λ(Y|X) is
    how much better you guess Y knowing X than guessing Y's mode
    blind.  Can be exactly 0 under real dependence (when every
    conditional mode equals the marginal mode) — that contrast with
    V/U is the point of reporting all three.

    Exactness: pure integer until the final division —
    λ(Y|X) = (Σ_x max_y n_xy − max_y n_y)/(N − max_y n_y), the
    symmetric variant pooling both directions.  Constant Y (N equals
    its modal count) → NULL λ(Y|X); same for X.

    Scale: one (x, y) cell exchange; two per-axis maxes over the cell
    frame; one-row fold.  Output: (n, lambda_y_given_x,
    lambda_x_given_y, lambda_sym).
    """
    cells = (df.filter(F.col(x_col).isNotNull()
                       & F.col(y_col).isNotNull())
             .groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
             .agg(F.count("*").cast("long").alias("n_xy")))
    mx = (cells.groupBy("x").agg(F.max("n_xy").alias("__mx"))
          .agg(F.sum("__mx").cast("long").alias("__sum_mx")))
    my = (cells.groupBy("y").agg(F.max("n_xy").alias("__my"))
          .agg(F.sum("__my").cast("long").alias("__sum_my")))
    rx = (cells.groupBy("x").agg(F.sum("n_xy").alias("__nx"))
          .agg(F.max("__nx").cast("long").alias("__mode_x")))
    ry = (cells.groupBy("y").agg(F.sum("n_xy").alias("__ny"))
          .agg(F.max("__ny").cast("long").alias("__mode_y")))
    tot = cells.agg(F.sum("n_xy").cast("long").alias("n"))
    out = (tot.crossJoin(F.broadcast(mx)).crossJoin(F.broadcast(my))
           .crossJoin(F.broadcast(rx)).crossJoin(F.broadcast(ry)))
    lyx = F.when(F.col("n") > F.col("__mode_y"), F.round(
        (F.col("__sum_mx") - F.col("__mode_y")).cast("double")
        / nz((F.col("n") - F.col("__mode_y")).cast("double")), 6))
    lxy = F.when(F.col("n") > F.col("__mode_x"), F.round(
        (F.col("__sum_my") - F.col("__mode_x")).cast("double")
        / nz((F.col("n") - F.col("__mode_x")).cast("double")), 6))
    lsym = F.when(
        2 * F.col("n") > F.col("__mode_x") + F.col("__mode_y"),
        F.round(
            (F.col("__sum_mx") + F.col("__sum_my") - F.col("__mode_x")
             - F.col("__mode_y")).cast("double")
            / nz((2 * F.col("n") - F.col("__mode_x")
                  - F.col("__mode_y")).cast("double")), 6))
    return out.select("n", lyx.alias("lambda_y_given_x"),
                      lxy.alias("lambda_x_given_y"),
                      lsym.alias("lambda_sym"))


def stuart_tau_c(df: DataFrame, *, x_col: str, y_col: str) -> DataFrame:
    """Stuart's τ-c — the RECTANGULAR-table completion of the ordinal
    concordance family (γ q345 ignores ties, Somers' D penalizes one
    side, τ-b needs a square table to reach ±1): τ-c's m/(m−1)
    normalization (m = min(r, c)) lets a 2×10 table reach ±1 where
    τ-b structurally cannot.

        τ_c = 2m·(C − D) / (n²·(m − 1))

    Exactness: C, D are the exact DECIMAL(38,0) pair counts off the
    same metadata-sized cell-pair grid as gamma_somers_d (the caller
    bins, the grid is vocabulary-bounded); r, c are exact distinct
    counts; ONE double division.  m < 2 (a 1×c or r×1 table) → NULL.

    Output one row: (n, m, c, d, tau_c).
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    cells = (df.filter(x.isNotNull() & y.isNotNull())
             .groupBy(x.alias("__x"), y.alias("__y"))
             .agg(F.count("*").cast("long").alias("__n")))
    a = cells.select(F.col("__x").alias("xa"), F.col("__y").alias("ya"),
                     F.col("__n").alias("na"))
    b = cells.select(F.col("__x").alias("xb"), F.col("__y").alias("yb"),
                     F.col("__n").alias("nb"))
    pairs = a.crossJoin(b)
    prod = d38(F.col("na")) * d38(F.col("nb"))
    conc = F.when((F.col("xa") < F.col("xb"))
                  & (F.col("ya") < F.col("yb")), prod)
    disc = F.when((F.col("xa") < F.col("xb"))
                  & (F.col("ya") > F.col("yb")), prod)
    agg = pairs.agg(
        F.coalesce(F.sum(conc), F.lit(0).cast("decimal(38,0)"))
        .alias("__c"),
        F.coalesce(F.sum(disc), F.lit(0).cast("decimal(38,0)"))
        .alias("__d"))
    dims = cells.agg(F.sum("__n").cast("long").alias("n"),
                     F.countDistinct("__x").cast("long").alias("__r"),
                     F.countDistinct("__y").cast("long").alias("__cc"))
    out = agg.crossJoin(F.broadcast(dims))
    m = F.least(F.col("__r"), F.col("__cc"))
    num = (F.lit(2).cast("decimal(38,0)") * d38(m)
           * (F.col("__c") - F.col("__d")))
    den = d38(F.col("n")) * d38(F.col("n")) * d38(m - 1)
    tau = F.when(m >= 2, F.round(
        num.cast("double") / nz(den.cast("double")), 6))
    return out.select("n", m.cast("int").alias("m"),
                      F.col("__c").cast("long").alias("c"),
                      F.col("__d").cast("long").alias("d"),
                      tau.alias("tau_c"))


def turning_points_by_key(df: DataFrame, *, by: str, order_col: str,
                          value_col: str,
                          tiebreak_col: str) -> DataFrame:
    """Turning-points randomness test per key — the SHAPE companion
    to :func:`runs_test` (which needs a binary flag) and q326's
    Durbin–Watson (lag-1 linear): an interior observation is a
    turning point iff it is a STRICT local max or min over the
    (order, tiebreak) total order; an i.i.d. series turns at 2/3 of
    its interior points, a slow trend turns almost never, an
    alternating series at every point — both tails are informative.

        E[T] = 2(n−2)/3,   Var[T] = (16n − 29)/90
        z = (3T − 2(n−2)) / (3·√Var)

    Exactness: T is an exact integer count from one lag+lead pass
    (ties with either neighbour are NOT turning points — strict
    comparisons, the documented convention; the textbook moments
    assume a tie-free continuous series, so with µ-snapped ties the
    z is the usual conservative approximation).  The centered
    numerator 3T − 2(n−2) stays an exact integer; ONE double
    division.  n < 3 → NULL z.

    Scale: one key-partitioned sort-window exchange + one
    same-partitioning groupBy — the acf/runs shape.  Output per key:
    (by, n, turns, z).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(F.col(order_col).asc(),
                                       F.col(tiebreak_col).asc())
    v = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    base = df.select(F.col(by).alias("__k"), v.alias("__v"),
                     F.col(order_col).alias("__o"),
                     F.col(tiebreak_col).alias("__tb"))
    w2 = Window.partitionBy("__k").orderBy(F.col("__o").asc(),
                                           F.col("__tb").asc())
    lagv = F.lag("__v").over(w2)
    leadv = F.lead("__v").over(w2)
    turn = F.when(lagv.isNotNull() & leadv.isNotNull()
                  & (((F.col("__v") > lagv) & (F.col("__v") > leadv))
                     | ((F.col("__v") < lagv)
                        & (F.col("__v") < leadv))), 1).otherwise(0)
    g = (base.withColumn("__t", turn)
         .groupBy("__k")
         .agg(F.count("*").cast("long").alias("n"),
              F.sum("__t").cast("long").alias("turns")))
    n = F.col("n")
    num = (3 * F.col("turns") - 2 * (n - 2)).cast("double")
    sd = F.sqrt((16 * n - 29).cast("double") / F.lit(90.0))
    z = F.when((n >= 3) & ((16 * n - 29) > 0),
               F.round(num / nz(F.lit(3.0) * sd), 6))
    return g.select(F.col("__k").alias(by), "n", "turns", z.alias("z"))


def jarque_bera_by_group(df: DataFrame, *, value_col: str,
                         group_col: str) -> DataFrame:
    """Jarque–Bera normality test per group — the distribution-SHAPE
    gate in front of every moment-based procedure here (Welch/ANOVA,
    CUPED, the z-scored monitors): JB = n/6·(g1² + g2²/4) blows up
    when skewness g1 or excess kurtosis g2 leave Gaussian territory.

    Exactness (the two-pass integer-mean design): values snap to
    CENTS (1e2 — the µ-snap's 4th powers overflow DECIMAL(38,0), cent
    snap keeps Σd⁴ ≤ n·6·10^18, exact past 10^12 rows per group);
    pass 1 takes exact (n, S1) per group and the INTEGER mean
    μ0 = S1 div n; pass 2 computes centered power sums
    T_k = Σ(x−μ0)^k as exact DECIMAL(38,0) integers (d is
    spread-sized, not value-sized).  The residual shift
    δ = (S1 mod n)/n ∈ [0,1) corrects T_k to true central moments via
    the binomial shift — evaluated as ONE fixed-order double chain
    per moment over exact integers, so cancellation is O(δ)-tiny and
    both engines produce bit-identical doubles.  Zero variance or
    n < 3 → NULL.

    Scale: two map-side-combined group aggs + one broadcast k-row
    mean frame joined back at scan stage — no window, no data-sized
    structure.  Output per group: (group, n, skew, kurt_excess, jb).
    """
    x = F.round(F.col(value_col).cast("double") * 1e2).cast("long")
    g = F.col(group_col)
    base = (df.filter(x.isNotNull() & g.isNotNull())
            .select(g.alias("__g"), x.alias("__x")))
    p1 = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("__n"),
        F.sum(d38(F.col("__x"))).alias("__s1"))
    # S1 fits int64 up to ~1.8e14 cent-snapped rows per group (5e4·n),
    # so the integer mean/remainder run in plain BIGINT arithmetic
    p1 = p1.select(
        "__g", "__n",
        F.expr("CAST(CAST(__s1 AS BIGINT) div __n AS BIGINT)")
        .alias("__mu0"),
        F.expr("CAST(CAST(__s1 AS BIGINT) % __n AS BIGINT)")
        .alias("__r"))
    d = F.col("__x") - F.col("__mu0")
    t = (base.join(F.broadcast(p1.select("__g", "__n", "__mu0", "__r")),
                   "__g")
         .groupBy("__g")
         .agg(F.max("__n").alias("n"),
              F.max("__r").alias("__rr"),
              F.sum(d38(d)).alias("__t1"),
              F.sum(d38(d) * d38(d)).alias("__t2"),
              F.sum(d38(d) * d38(d) * d38(d)).alias("__t3"),
              F.sum(d38(d) * d38(d) * d38(d) * d38(d)).alias("__t4")))
    nd = F.col("n").cast("double")
    dl = F.col("__rr").cast("double") / nd
    t1, t2 = F.col("__t1").cast("double"), F.col("__t2").cast("double")
    t3, t4 = F.col("__t3").cast("double"), F.col("__t4").cast("double")
    m2 = (t2 - 2.0 * dl * t1 + nd * dl * dl) / nd
    m3 = (t3 - 3.0 * dl * t2 + 3.0 * dl * dl * t1
          - nd * dl * dl * dl) / nd
    m4 = (t4 - 4.0 * dl * t3 + 6.0 * dl * dl * t2
          - 4.0 * dl * dl * dl * t1 + nd * dl * dl * dl * dl) / nd
    g1 = m3 / nz(m2 * F.sqrt(m2))
    g2 = m4 / nz(m2 * m2) - 3.0
    jb = nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    ok = (F.col("n") >= 3) & (m2 > 0)
    return t.select(
        F.col("__g").alias(group_col), "n",
        F.when(ok, F.round(g1, 6)).alias("skew"),
        F.when(ok, F.round(g2, 6)).alias("kurt_excess"),
        F.when(ok, F.round(jb, 6)).alias("jb"))


def welch_anova(df: DataFrame, *, value_col: str,
                group_col: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA — the k-group
    generalization of q299's Welch t-test, completing the location
    ladder: q301's classical ANOVA assumes equal variances (the very
    thing q317's Brown–Forsythe tests), Welch's F* weights each group
    by n_g/s_g² so no pooling ever happens:

        F* = [Σ w_g(x̄_g − x̄_w)² / (k−1)]
             / [1 + 2(k−2)/(k²−1) · Λ],
        Λ = Σ (1 − w_g/W)²/(n_g − 1),   df₂ = (k²−1)/(3Λ)

    Exactness: per-group (n, S1, S2) are exact DECIMAL(38,0) off
    µ-snapped values; mean and variance are one double division each
    (variance numerator n·S2 − S1² exact); every cross-group sum (W,
    Σw·x̄, the A and Λ sums) is an ORDERED left-fold over the SAME
    sorted group array (the kruskal_wallis fold discipline), so both
    engines walk identical fixed-order double chains.  Any group with
    n_g < 2 or zero variance → NULL F* (Welch undefined); k < 2 →
    NULL.

    Scale: one k-row groupBy that folds to one row — no window, no
    join.  Output one row: (k, n, f_stat, df1, df2).
    """
    x = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(x.isNotNull() & g.isNotNull())
            .select(g.alias("__g"), x.alias("__x")))
    per = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum(d38(F.col("__x"))).alias("s1"),
        F.sum(d38(F.col("__x")) * d38(F.col("__x"))).alias("s2"))
    arr = per.groupBy().agg(
        F.count("*").cast("int").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.min("ng").alias("__minn"),
        F.min((d38(F.col("ng")) * F.col("s2")
               - F.col("s1") * F.col("s1")).cast("double")).alias("__minv"),
        F.sort_array(F.collect_list(F.struct(
            F.col("__g").cast("string").alias("g"),
            F.col("ng").cast("double").alias("nd"),
            # ANSI evaluates BOTH when-branches: degenerate groups
            # (ng < 2, zero variance) must NULL the DENOMINATORS so
            # the folds propagate NULL instead of raising /0
            F.when(F.col("ng") >= 2,
                   (F.col("ng") - 1).cast("double")).alias("nd1"),
            (F.col("s1").cast("double") / F.col("ng").cast("double"))
            .alias("mean"),
            ((d38(F.col("ng")) * F.col("s2")
              - F.col("s1") * F.col("s1")).cast("double")
             / F.when(F.col("ng") >= 2,
                      F.col("ng").cast("double")
                      * (F.col("ng") - 1).cast("double"))).alias("var"))))
        .alias("__a"))
    a = F.col("__a")
    w_of = lambda s: s["nd"] / F.when(s["var"] != 0, s["var"])  # noqa: E731
    bigw = F.aggregate(a, F.lit(0.0), lambda acc, s: acc + w_of(s))
    swm = F.aggregate(a, F.lit(0.0),
                      lambda acc, s: acc + w_of(s) * s["mean"])
    arr = arr.withColumn("__W", bigw).withColumn("__xw",
                                                 swm / nz(bigw))
    xw, W = F.col("__xw"), F.col("__W")
    asum = F.aggregate(
        a, F.lit(0.0),
        lambda acc, s: acc + w_of(s) * (s["mean"] - xw)
        * (s["mean"] - xw))
    lam = F.aggregate(
        a, F.lit(0.0),
        lambda acc, s: acc + (1.0 - w_of(s) / W)
        * (1.0 - w_of(s) / W) / s["nd1"])
    k = F.col("k").cast("double")
    f_stat = (asum / (k - 1.0)) / nz(
        1.0 + 2.0 * (k - 2.0) / (k * k - 1.0) * lam)
    df2 = (k * k - 1.0) / nz(3.0 * lam)
    ok = (F.col("k") >= 2) & (F.col("__minn") >= 2) & (F.col("__minv") > 0)
    return arr.select(
        "k", "n",
        F.when(ok, F.round(f_stat, 6)).alias("f_stat"),
        F.when(F.col("k") >= 2, (F.col("k") - 1).cast("long"))
        .alias("df1"),
        F.when(ok, F.round(df2, 6)).alias("df2"))


def jains_fairness(df: DataFrame, *, by: str,
                   weight_col: str | None = None) -> DataFrame:
    """Jain's fairness index over per-group allocations — the ONE
    number crawl/compute schedulers quote for "is the budget spread
    evenly" (1 = perfectly even, 1/n = one group takes everything):

        J = (Σx_g)² / (n·Σx_g²)

    next to q294's Gini (rank-weighted inequality) and q256's
    water-filling (which ENFORCES fairness; J measures it).

    Exactness: group totals are exact integer counts (or exact sums
    of an integer weight column); both Σx and Σx² accumulate in
    DECIMAL(38,0) and J is ONE double division.  n = 0 or all-zero
    allocations → NULL.

    Scale: one map-side-combined groupBy + a one-row fold.
    Output one row: (n_groups, total, fairness).
    """
    w = (F.lit(1).cast("long") if weight_col is None
         else F.col(weight_col).cast("long"))
    per = (df.filter(F.col(by).isNotNull())
           .groupBy(F.col(by).alias("__g"))
           .agg(F.sum(w).cast("long").alias("__x")))
    agg = per.agg(F.count("*").cast("long").alias("n_groups"),
                  F.sum(d38(F.col("__x"))).alias("__s"),
                  F.sum(d38(F.col("__x")) * d38(F.col("__x")))
                  .alias("__s2"))
    num = F.col("__s") * F.col("__s")
    den = d38(F.col("n_groups")) * F.col("__s2")
    j = F.when((F.col("n_groups") > 0) & (F.col("__s2") > 0), F.round(
        num.cast("double") / nz(den.cast("double")), 6))
    return agg.select("n_groups", F.col("__s").cast("long").alias("total"),
                      j.alias("fairness"))


def decision_stump(df: DataFrame, *, feature_col: str, label_expr: str,
                   n_buckets: int = 64) -> DataFrame:
    """Train a one-split decision stump by exact information gain —
    the smallest possible supervised model, and the per-feature
    screening score gradient-boosting/CART pipelines rank features by
    (q205's χ² ranks by independence; the stump ranks by achievable
    split QUALITY and also returns the threshold to use):

        gain(v) = H(S) − (n_L/n)·H(S_L) − (n_R/n)·H(S_R),
        split: feature ≤ v goes left.

    Exactness: features µ-snap; per-distinct-value (count, positives)
    pivot through the SHARED two-phase value-bucket prefix machinery
    (no data-sized window — split candidates for a continuous feature
    are ~n); each candidate's gain evaluates as one fixed-order
    double over the exact integer (n_L, p_L, n, p) and snaps to
    integer µ-nats BEFORE the argmax, so the winner is selected on
    exact integers with ties to the SMALLEST threshold (two broadcast
    one-row frames: max gain, then min v at that gain — never a
    global window).  The rightmost value is excluded (empty right
    child).  Pure-label inputs (p = 0 or p = n) report gain 0 at the
    smallest candidate.

    Output one row: (n, n_pos, threshold_micro, gain_micro,
    n_left, pos_left).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    x = F.round(F.col(feature_col).cast("double") * 1e6).cast("long")
    y = F.expr(label_expr).cast("int")
    base = (df.filter(x.isNotNull() & y.isNotNull())
            .select(x.alias("__v"), y.alias("__y")))
    pv = base.groupBy("__v").agg(
        F.count("*").cast("long").alias("__m"),
        F.sum("__y").cast("long").alias("__p"))
    bounds = pv.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"),
                    F.sum("__m").cast("long").alias("__n"),
                    F.sum("__p").cast("long").alias("__np"))
    g = (pv.crossJoin(F.broadcast(bounds))
         .withColumn("__b", F.expr(
             f"(__v - __lo) div ((__hi - __lo) div {B} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    g = (g.withColumn("__cm_in", F.sum("__m").over(w_in))
         .withColumn("__cp_in", F.sum("__p").over(w_in)))
    bt = g.groupBy("__b").agg(F.sum("__m").alias("__bm"),
                              F.sum("__p").alias("__bp"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = bt.select(
        "__b",
        F.coalesce(F.sum("__bm").over(w_b), F.lit(0)).alias("__om"),
        F.coalesce(F.sum("__bp").over(w_b), F.lit(0)).alias("__op"))
    g = (g.join(F.broadcast(boff), "__b")
         .withColumn("__nl", F.col("__om") + F.col("__cm_in"))
         .withColumn("__pl", F.col("__op") + F.col("__cp_in"))
         .filter(F.col("__nl") < F.col("__n")))   # non-empty right child

    def xlnx(c):
        cd = c.cast("double")
        return F.when(c > 0, cd * F.log(cd)).otherwise(F.lit(0.0))

    def ent(c, m):
        # H = ln m − (c·ln c + (m−c)·ln(m−c))/m, fixed operand order
        md = m.cast("double")
        return F.log(md) - (xlnx(c) + xlnx(m - c)) / md

    n, p = F.col("__n"), F.col("__np")
    nl, pl = F.col("__nl"), F.col("__pl")
    nr, pr = n - nl, p - pl
    gain = (ent(p, n)
            - (nl.cast("double") * ent(pl, nl)
               + nr.cast("double") * ent(pr, nr)) / n.cast("double"))
    g = g.withColumn("__gain", F.round(gain * 1e6).cast("long"))
    best = g.agg(F.max("__gain").alias("__gmax"))
    win = (g.join(F.broadcast(best), g["__gain"] == best["__gmax"])
           .agg(F.max("__n").alias("n"), F.max("__np").alias("n_pos"),
                F.min("__v").alias("threshold_micro"),
                F.max("__gmax").alias("gain_micro")))
    at = (g.select("__v", "__nl", "__pl")
          .withColumnRenamed("__v", "__tv"))
    # broadcast the 1-row winner, never the data-sized candidate frame
    out = (at.join(F.broadcast(win),
                   at["__tv"] == win["threshold_micro"])
           .select("n", "n_pos", "threshold_micro", "gain_micro",
                   F.col("__nl").alias("n_left"),
                   F.col("__pl").alias("pos_left")))
    return out


def two_prop_ztest(df: DataFrame, *, group_col: str, group_a, group_b,
                   success_expr: str,
                   continuity: bool = True) -> DataFrame:
    """Two-proportion z-test (pooled, optional Yates continuity
    correction) — the A/B-basics companion to q328's Wilson intervals
    (which bound each arm separately; this TESTS the difference) and
    q318's McNemar (which needs paired units):

        z = sign(p̂_a − p̂_b) ·
            max(0, |p̂_a − p̂_b| − cc) / √(p̄(1−p̄)(1/n_a + 1/n_b)),
        cc = (1/n_a + 1/n_b)/2 when ``continuity``.

    Exactness: the four counts are exact int64; the difference
    numerator clears to the exact integer |s_a·n_b − s_b·n_a| (in
    DECIMAL(38,0) — it crosses int64 at ~3·10⁹ rows per arm) and
    every remaining factor is one fixed-order double; the corrected
    numerator clamps at 0 (a difference smaller than the correction
    is NO evidence, not reversed evidence).  Degenerate arms (empty,
    or pooled p ∈ {0, 1}) → NULL z.

    Output one row: (n_a, s_a, n_b, s_b, p_a, p_b, z).
    """
    s = F.expr(success_expr).cast("int")
    g = F.col(group_col)
    agg = (df.filter(g.isin([group_a, group_b]) & s.isNotNull())
           .agg(F.sum(F.when(g == group_a, 1).otherwise(0))
                .cast("long").alias("n_a"),
                F.sum(F.when(g == group_a, s).otherwise(0))
                .cast("long").alias("s_a"),
                F.sum(F.when(g == group_b, 1).otherwise(0))
                .cast("long").alias("n_b"),
                F.sum(F.when(g == group_b, s).otherwise(0))
                .cast("long").alias("s_b")))
    na, sa = F.col("n_a"), F.col("s_a")
    nb, sb = F.col("n_b"), F.col("s_b")
    nad, nbd = na.cast("double"), nb.cast("double")
    diff_num = d38(sa) * d38(nb) - d38(sb) * d38(na)   # exact integer
    absdiff = F.abs(diff_num.cast("double")) / nz(nad * nbd)
    cc = (F.lit(0.5) * (1.0 / nad + 1.0 / nbd) if continuity
          else F.lit(0.0))
    corrected = F.greatest(absdiff - cc, F.lit(0.0))
    pbar = (sa + sb).cast("double") / nz((na + nb).cast("double"))
    se = F.sqrt(pbar * (1.0 - pbar) * (1.0 / nad + 1.0 / nbd))
    sign = F.when(diff_num > 0, F.lit(1.0)) \
            .when(diff_num < 0, F.lit(-1.0)).otherwise(F.lit(0.0))
    ok = (na > 0) & (nb > 0) & (sa + sb > 0) & (sa + sb < na + nb)
    z = F.when(ok, F.round(sign * corrected / nz(se), 6))
    return agg.select(
        "n_a", "s_a", "n_b", "s_b",
        F.when(na > 0, F.round(sa.cast("double") / nz(nad), 6))
        .alias("p_a"),
        F.when(nb > 0, F.round(sb.cast("double") / nz(nbd), 6))
        .alias("p_b"),
        z.alias("z"))


def cliffs_delta(df: DataFrame, *, value_col: str, group_col: str,
                 group_a, group_b, n_buckets: int = 64) -> DataFrame:
    """Cliff's δ ordinal effect size — the MAGNITUDE companion to the
    Mann–Whitney test (q253 answers "is there a shift?"; δ answers
    "how big, on a scale that ignores units and outliers"):

        δ = (#(a > b) − #(a < b)) / (n_a·n_b)  =  (U2 − n_a·n_b)/(n_a·n_b)

    with U2 the doubled half-credit-tie rank statistic the shared
    :func:`ks_mw_tests` machinery already computes exactly — δ is
    derived from those exact integers with ONE division, plus the
    conventional magnitude bucket (|δ| < .147 negligible / < .33
    small / < .474 medium / else large, thresholds applied to the
    identical unrounded double in both engines).

    Scale: exactly ks_mw_tests' shape (two-phase bucketed cumsum, no
    data-sized window).  Empty arm → NULL δ.  Output one row:
    (n_a, n_b, u2_a, delta, magnitude).
    """
    base = ks_mw_tests(df, value_col=value_col, group_col=group_col,
                       group_a=group_a, group_b=group_b,
                       n_buckets=n_buckets)
    prod = (F.col("n_a") * F.col("n_b")).cast("double")
    d = (F.col("u2_a") - F.col("n_a") * F.col("n_b")).cast("double") \
        / nz(prod)
    absd = F.abs(d)
    mag = (F.when(absd < 0.147, F.lit("negligible"))
           .when(absd < 0.33, F.lit("small"))
           .when(absd < 0.474, F.lit("medium"))
           .otherwise(F.lit("large")))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return base.select(
        "n_a", "n_b", "u2_a",
        F.when(ok, F.round(d, 6)).alias("delta"),
        F.when(ok, mag).alias("magnitude"))


def wilcoxon_signed_rank(df: DataFrame, *, x_col: str, y_col: str,
                         n_buckets: int = 64) -> DataFrame:
    """Wilcoxon signed-rank test for paired samples — the POWERED
    sibling of q319's sign test (which only looks at direction;
    Wilcoxon also weighs HOW FAR each pair moved, staying
    distribution-free) and the paired counterpart of Mann–Whitney:

        W⁺ = Σ ranks of |d_i| over the positive differences,
        z = (W2 − n(n+1)/2) / √((2n(n+1)(2n+1) − Σ(t³−t)) / 12)

    with W2 = 2W⁺ kept DOUBLED so midrank ties stay integral, and
    the tie-corrected variance's integer core Σ(t³−t) exact.

    Exactness: differences µ-snap to int64; zero differences are
    EXCLUDED (the textbook convention) and reported in ``n_zero``;
    |d| ranks come from the shared two-phase value-bucket cumulative
    machinery over the distinct-|d| frame (counts + positive counts
    per value), so W2 = Σ_v pos_v·mr2_v, the null moments and the
    tie sum are all exact DECIMAL(38,0) integers; z is ONE double
    division.  n = 0 after zero-exclusion or zero variance → NULL.

    Scale: one (|d|)-grouped agg + the bucketed cumsum — no
    data-sized window.  Output one row: (n, n_zero, w2_plus, z).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    x = F.round(F.col(x_col).cast("double") * 1e6).cast("long")
    y = F.round(F.col(y_col).cast("double") * 1e6).cast("long")
    d = (x - y)
    base = (df.filter(x.isNotNull() & y.isNotNull())
            .select(d.alias("__d")))
    nz_rows = base.filter(F.col("__d") != 0)
    zc = base.agg(F.sum(F.when(F.col("__d") == 0, 1).otherwise(0))
                  .cast("long").alias("n_zero"))
    pv = (nz_rows
          .select(F.abs(F.col("__d")).alias("__v"),
                  F.when(F.col("__d") > 0, 1).otherwise(0).alias("__s"))
          .groupBy("__v")
          .agg(F.count("*").cast("long").alias("__m"),
               F.sum("__s").cast("long").alias("__p")))
    bounds = pv.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"),
                    F.sum("__m").cast("long").alias("__n"))
    g = (pv.crossJoin(F.broadcast(bounds))
         .withColumn("__b", F.expr(
             f"(__v - __lo) div ((__hi - __lo) div {B} + 1)")))
    w_in = (Window.partitionBy("__b").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1))
    g = g.withColumn("__m_in",
                     F.coalesce(F.sum("__m").over(w_in), F.lit(0)))
    bt = g.groupBy("__b").agg(F.sum("__m").alias("__bm"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = bt.select(
        "__b", F.coalesce(F.sum("__bm").over(w_b), F.lit(0)).alias("__om"))
    g = (g.join(F.broadcast(boff), "__b")
         .withColumn("__r0", F.col("__om") + F.col("__m_in"))
         .withColumn("__mr2", 2 * F.col("__r0") + F.col("__m") + 1))
    agg = g.agg(
        F.max("__n").alias("n"),
        F.sum(d38(F.col("__p")) * d38(F.col("__mr2"))).alias("__w2"),
        F.sum(d38(F.col("__m")) * d38(F.col("__m")) * d38(F.col("__m"))
              - d38(F.col("__m"))).alias("__tie"))
    out = agg.crossJoin(F.broadcast(zc))
    n_ = F.col("n").cast("decimal(38,0)")
    # E2 = n(n+1)/2 is integral; keep it exact via the integer form
    e2i = F.expr("CAST(n * (n + 1) div 2 AS DECIMAL(38,0))")
    var12 = (F.lit(2).cast("decimal(38,0)") * n_
             * (F.col("n") + 1).cast("decimal(38,0)")
             * (2 * F.col("n") + 1).cast("decimal(38,0)")
             - F.col("__tie"))
    z = F.when((F.col("n") > 0) & (var12 > 0), F.round(
        (F.col("__w2") - e2i).cast("double")
        / nz(F.sqrt(var12.cast("double") / F.lit(12.0))), 6))
    return out.select("n", "n_zero",
                      F.col("__w2").cast("long").alias("w2_plus"),
                      z.alias("z"))


def cohens_h(df: DataFrame, *, group_col: str, group_a, group_b,
             success_expr: str) -> DataFrame:
    """Cohen's h proportion effect size — the MAGNITUDE companion to
    :func:`two_prop_ztest` exactly as Cliff's δ is to Mann–Whitney
    and Cohen's d to Welch's t: the arcsine-stabilized difference

        h = 2·asin(√p̂_a) − 2·asin(√p̂_b)

    whose variance is rate-independent, so the conventional
    thresholds (|h| < .2 small, < .5 medium, < .8 — else large)
    transfer across base rates where a raw Δp does not.

    Exactness: the four counts are exact int64; each φ = 2·asin(√p̂)
    is one fixed-order double chain over them, mirrored
    operand-for-operand (both engines' asin/sqrt are IEEE doubles);
    the magnitude bucket applies to the identical unrounded |h|.
    Empty arm → NULL.  Output one row:
    (n_a, s_a, n_b, s_b, h, magnitude).
    """
    s = F.expr(success_expr).cast("int")
    g = F.col(group_col)
    agg = (df.filter(g.isin([group_a, group_b]) & s.isNotNull())
           .agg(F.sum(F.when(g == group_a, 1).otherwise(0))
                .cast("long").alias("n_a"),
                F.sum(F.when(g == group_a, s).otherwise(0))
                .cast("long").alias("s_a"),
                F.sum(F.when(g == group_b, 1).otherwise(0))
                .cast("long").alias("n_b"),
                F.sum(F.when(g == group_b, s).otherwise(0))
                .cast("long").alias("s_b")))

    def phi(sc, nc):
        return 2.0 * F.asin(F.sqrt(
            sc.cast("double") / nz(nc.cast("double"))))

    h = phi(F.col("s_a"), F.col("n_a")) - phi(F.col("s_b"), F.col("n_b"))
    mag = (F.when(F.abs(h) < 0.2, F.lit("small"))
           .when(F.abs(h) < 0.5, F.lit("medium"))
           .otherwise(F.lit("large")))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select("n_a", "s_a", "n_b", "s_b",
                      F.when(ok, F.round(h, 6)).alias("h"),
                      F.when(ok, mag).alias("magnitude"))


def correlation_ratio(df: DataFrame, *, value_col: str,
                      group_col: str) -> DataFrame:
    """Correlation ratio η² — the fraction of a value's variance a
    CATEGORICAL factor explains (hour-of-day seasonality strength,
    per-source level differences): the effect-size view of q301's
    ANOVA (which tests; η² says HOW MUCH), and the
    categorical-x-continuous-y member of the dependence family next
    to Cramér's V (both nominal) and Theil's U (entropies):

        η² = 1 − SS_within / SS_total
           = 1 − [Σ_g (n_g·S2_g − S1_g²)/n_g] / [(n·S2 − S1²)/n]

    Exactness: values µ-snap; every numerator n_g·S2_g − S1_g² and
    n·S2 − S1² is an exact DECIMAL(38,0) integer; each per-group term
    takes ONE double division and the cross-group sum is the ORDERED
    fold over the sorted group array (vocabulary-bounded — the
    kruskal/welch discipline); η² is one final ratio.  Zero total
    variance or k < 1 → NULL.

    Scale: one k-row groupBy folding to one row.  Output one row:
    (k, n, eta_sq).
    """
    x = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(x.isNotNull() & g.isNotNull())
            .select(g.alias("__g"), x.alias("__x")))
    per = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum(d38(F.col("__x"))).alias("s1"),
        F.sum(d38(F.col("__x")) * d38(F.col("__x"))).alias("s2"))
    arr = per.groupBy().agg(
        F.count("*").cast("int").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("s1").alias("__S1"),
        F.sum("s2").alias("__S2"),
        F.sort_array(F.collect_list(F.struct(
            F.col("__g").cast("string").alias("g"),
            ((d38(F.col("ng")) * F.col("s2")
              - F.col("s1") * F.col("s1")).cast("double")
             / F.col("ng").cast("double")).alias("w"))))
        .alias("__a"))
    ssw = F.aggregate(F.col("__a"), F.lit(0.0),
                      lambda acc, s: acc + s["w"])
    n_ = F.col("n").cast("decimal(38,0)")
    sst = ((n_ * F.col("__S2") - F.col("__S1") * F.col("__S1"))
           .cast("double") / F.col("n").cast("double"))
    eta = F.when((F.col("k") >= 1) & (sst > 0),
                 F.round(1.0 - ssw / nz(sst), 6))
    return arr.select("k", "n", eta.alias("eta_sq"))


def periodogram_power(df: DataFrame, *, ts_col: str, value_col: str,
                      group_col: str,
                      period_seconds: int = 86400) -> DataFrame:
    """Periodogram power at ONE fixed period per group — the
    frequency-domain seasonality detector next to q283's STL-style
    anomalies and q304's Holt–Winters (which FIT seasonality; this
    asks "is there energy at the daily line at all"):

        P = C² + S²,
        C = Σ x_i·cos(ω t_i),  S = Σ x_i·sin(ω t_i),  ω = 2π/period

    reported as the normalized  R² = (C² + S²)/(Σ|x|)²  ∈ [0, 1]
    alongside the raw micro-unit sums.

    Exactness: the µ-nat snap-before-sum discipline applied to
    trigonometry — each term x_i·cos(ω t_i) evaluates as one
    fixed-order double over the exact integer (µ-snapped x, epoch-µs
    t) and snaps to an integer micro-unit BEFORE the sum, so C and S
    are order-independent integer totals both engines agree on
    bit-for-bit (a raw double Σ would be partition-order-dependent);
    the final powers are fixed-order doubles.  Zero total |x| → NULL
    r2.  Scale: one scan-stage projection + one map-side-combined
    group agg.  Output per group: (group, n, c_micro, s_micro, r2).
    """
    import math

    omega = 2.0 * math.pi / float(period_seconds)
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    x = F.round(F.col(value_col).cast("double") * 1e6).cast("long")
    g = F.col(group_col)
    tsec = (t_us.cast("double") / F.lit(1e6))
    xc = F.round(x.cast("double") * F.cos(F.lit(omega) * tsec)) \
        .cast("long")
    xs = F.round(x.cast("double") * F.sin(F.lit(omega) * tsec)) \
        .cast("long")
    base = (df.filter(x.isNotNull() & g.isNotNull()
                      & F.col(ts_col).isNotNull())
            .select(g.alias("__g"), xc.alias("__c"), xs.alias("__s"),
                    F.abs(x).alias("__ax")))
    out = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__c").cast("long").alias("c_micro"),
        F.sum("__s").cast("long").alias("s_micro"),
        F.sum("__ax").cast("long").alias("__axs"))
    cd = F.col("c_micro").cast("double")
    sd = F.col("s_micro").cast("double")
    ad = F.col("__axs").cast("double")
    r2 = F.when(F.col("__axs") > 0,
                F.round((cd * cd + sd * sd) / nz(ad * ad), 6))
    return out.select(F.col("__g").alias(group_col), "n",
                      "c_micro", "s_micro", r2.alias("r2"))


def rayleigh_test(df: DataFrame, *, ts_col: str, group_col: str,
                  period_seconds: int = 86400) -> DataFrame:
    """Rayleigh test of circular uniformity per group — the CIRCULAR
    companion of q350's one-sample KS (which sees time-of-day as a
    line; Rayleigh sees it as a clock, so midnight-straddling clumps
    that KS splits in half are caught whole):

        R̄ = |Σ e^{iθ_j}|/n,   θ = 2π·(t mod period)/period,
        z = n·R̄²,   and the bias-corrected p-surrogate is left to the
        caller (z is the reported statistic, large z ⇒ clumped).

    Exactness: the same snap-before-sum trig discipline as
    :func:`periodogram_power` with unit weights — per-event cos/sin
    snap to integer micro-units before the order-independent integer
    sums; R̄ and z are fixed-order doubles.  n = 0 → no row.

    Scale: scan-stage projection + one group agg.  Output per group:
    (group, n, rbar, z).
    """
    import math

    omega = 2.0 * math.pi / float(period_seconds)
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    tsec = t_us.cast("double") / F.lit(1e6)
    c = F.round(F.cos(F.lit(omega) * tsec) * 1e6).cast("long")
    s = F.round(F.sin(F.lit(omega) * tsec) * 1e6).cast("long")
    g = F.col(group_col)
    base = (df.filter(g.isNotNull() & F.col(ts_col).isNotNull())
            .select(g.alias("__g"), c.alias("__c"), s.alias("__s")))
    out = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__c").cast("long").alias("__cs"),
        F.sum("__s").cast("long").alias("__ss"))
    nd = F.col("n").cast("double")
    cd = F.col("__cs").cast("double") / F.lit(1e6)
    sd = F.col("__ss").cast("double") / F.lit(1e6)
    rbar = F.sqrt(cd * cd + sd * sd) / nz(nd)
    z = nd * (F.sqrt(cd * cd + sd * sd) / nz(nd)) \
        * (F.sqrt(cd * cd + sd * sd) / nz(nd))
    return out.select(F.col("__g").alias(group_col), "n",
                      F.when(F.col("n") > 0, F.round(rbar, 6))
                      .alias("rbar"),
                      F.when(F.col("n") > 0, F.round(z, 6)).alias("z"))


def g_test(df: DataFrame, *, a_col: str, b_col: str) -> DataFrame:
    """G-test of independence (log-likelihood-ratio χ²) — the TEST
    view of q262's mutual information (G = 2N·I in nats) with the
    degrees of freedom Pearson users expect, additive across
    partitions of the table where Pearson's X² is not:

        G = 2·Σ_cells O·ln(O·N / (r·c)),   df = (r−1)(c−1)

    Exactness: the q262 µ-nat discipline verbatim — each cell's
    pointwise term ln(N·O) − ln(r·c) snaps to integer micro-nats,
    each cell's O-weighted contribution snaps BEFORE the sum, so G's
    µ-nat core is an order-independent integer total; G doubles it
    once.  Zero cells contribute exactly zero (absent rows, absent
    terms — the x·ln x → 0 convention).  min(r, c) < 2 → NULL G.

    Scale: the q262 shape — one cell exchange + marginal joins.
    Output one row: (n, r, c, df, g_micro, g).
    """
    cells = df.groupBy(F.col(a_col).alias("a"),
                       F.col(b_col).alias("b")).agg(
        F.count("*").cast("long").alias("n_ab"))
    ma = cells.groupBy("a").agg(F.sum("n_ab").cast("long").alias("n_a"))
    mb = cells.groupBy("b").agg(F.sum("n_ab").cast("long").alias("n_b"))
    tot = cells.agg(F.sum("n_ab").cast("long").alias("__n"),
                    F.countDistinct("a").cast("long").alias("__r"),
                    F.countDistinct("b").cast("long").alias("__c"))
    j = (cells.join(ma, "a").join(mb, "b").crossJoin(F.broadcast(tot)))
    pmi = F.round(
        (F.log((d38(F.col("__n")) * d38(F.col("n_ab"))).cast("double"))
         - F.log((d38(F.col("n_a")) * d38(F.col("n_b"))).cast("double"))) * 1e6
    ).cast("long")
    contrib = (F.col("n_ab") * pmi).cast("long")
    agg = j.agg(F.max("__n").alias("n"), F.max("__r").alias("r"),
                F.max("__c").alias("c"),
                F.sum(contrib).cast("long").alias("__core"))
    ok = (F.col("r") >= 2) & (F.col("c") >= 2)
    g = F.when(ok, F.round(
        2.0 * F.col("__core").cast("double") / F.lit(1e6), 6))
    return agg.select(
        "n", "r", "c",
        F.when(ok, (F.col("r") - 1) * (F.col("c") - 1)).alias("df"),
        F.when(ok, 2 * F.col("__core")).alias("g_micro"),
        g.alias("g"))


def kupiec_pof(df: DataFrame, *, fail_expr: str,
               p0_num: int, p0_den: int) -> DataFrame:
    """Kupiec proportion-of-failures likelihood-ratio test — the
    MONITORING gate "did the observed alert/violation rate match the
    promised p₀" (a 5 % VaR model, an SLA error budget, q276's FDR
    promise), the binomial LR counterpart of q377's two-SAMPLE z:

        LR = 2·[ x·ln(x/n) + (n−x)·ln(1−x/n)
                 − x·ln(p₀) − (n−x)·ln(1−p₀) ]  ~  χ²(1)

    Exactness: x and n are exact int64; LR is ONE fixed-order double
    chain over them with the x·ln x → 0 convention at the boundaries
    (x = 0 or x = n keeps the observed-side terms finite; the
    p₀-side is always finite for 0 < p₀ < 1); p₀ enters as the exact
    rational ``p0_num/p0_den`` so both engines form the identical
    double.  n = 0 → NULL.

    Output one row: (n, x, rate, p0, lr).
    """
    if not (0 < p0_num < p0_den):
        raise ValueError("need 0 < p0_num/p0_den < 1")
    f = F.expr(fail_expr).cast("int")
    agg = (df.filter(f.isNotNull())
           .agg(F.count("*").cast("long").alias("n"),
                F.sum(f).cast("long").alias("x")))
    nd = F.col("n").cast("double")
    xd = F.col("x").cast("double")
    p0 = F.lit(float(p0_num)) / F.lit(float(p0_den))

    def xlnr(c, r):
        # c·ln(r) with the c = 0 → 0 convention (r may be 0 there)
        return F.when(c > 0, c.cast("double") * F.log(r)) \
                .otherwise(F.lit(0.0))

    obs = (xlnr(F.col("x"), xd / nz(nd))
           + xlnr(F.col("n") - F.col("x"), (nd - xd) / nz(nd)))
    null = (xd * F.log(p0) + (nd - xd) * F.log(1.0 - p0))
    lr = F.when(F.col("n") > 0, F.round(2.0 * (obs - null), 6))
    return agg.select(
        "n", "x",
        F.when(F.col("n") > 0, F.round(xd / nz(nd), 6)).alias("rate"),
        F.round(p0, 6).alias("p0"), lr.alias("lr"))
