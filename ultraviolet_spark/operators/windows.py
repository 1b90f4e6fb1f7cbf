"""Windowed feature operators (SURVEY.md §2.6) — lag/lead, backfill
(forward-fill), sessionization, lang-stability — all over
``Window.partitionBy(by).orderBy(order)`` frames ending at currentRow
(zero temporal leakage, BASELINE.json:14; enforced by
tests/test_leakage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_SECS_DEFAULT = 24 * 3600.0  # G = 24h (FIXTURES.md §1)


def _w(by, order: str, tiebreak: str | None = None):
    """``by`` may be a column name or a list of names.  Prepending a
    materialized bucket column (plans.layout.BUCKET_COL) to the entity
    key keeps the window semantically identical (bucket = f(key)) while
    letting a bucketed-table scan satisfy the clustering requirement —
    zero exchanges (tests/test_layout.py)."""
    keys = [by] if isinstance(by, str) else list(by)
    cols = [order] if tiebreak is None else [order, tiebreak]
    return Window.partitionBy(*keys).orderBy(*cols)


def with_lags(df: DataFrame, cols: list[str], *, by: str = "url",
              order: str = "warc_ts", ks: tuple[int, ...] = (1,),
              tiebreak: str | None = None) -> DataFrame:
    w = _w(by, order, tiebreak)
    for c in cols:
        for k in ks:
            df = df.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
    return df


def with_leads(df: DataFrame, cols: list[str], *, by: str = "url",
               order: str = "warc_ts", ks: tuple[int, ...] = (1,),
               tiebreak: str | None = None) -> DataFrame:
    """lead(k) — generic operator; NOT for point-in-time feature paths
    (temporal-leakage rule, SURVEY.md §2.6)."""
    w = _w(by, order, tiebreak)
    for c in cols:
        for k in ks:
            df = df.withColumn(f"{c}_lead{k}", F.lead(c, k).over(w))
    return df


def with_ffill(df: DataFrame, col: str, *, by: str = "url",
               order: str = "warc_ts", out: str | None = None,
               tiebreak: str | None = None) -> DataFrame:
    """last-observed forward-fill: frame = unboundedPreceding..currentRow."""
    w = _w(by, order, tiebreak).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out or f"{col}_ffill", F.last(col, ignorenulls=True).over(w))


def with_lang_stability(df: DataFrame, *, lang: str = "lang", by: str = "url",
                        order: str = "warc_ts", ks: tuple[int, ...] = (1, 2)) -> DataFrame:
    """lang_stable_lagK: current lang equals lang K crawls ago (null →
    false on the first crawls, matching the golden pandas oracle)."""
    w = _w(by, order)
    for k in ks:
        df = df.withColumn(
            f"lang_stable_lag{k}",
            F.coalesce(F.lag(lang, k).over(w) == F.col(lang), F.lit(False)),
        )
    return df


def sessionize(df: DataFrame, *, by: str = "url", order: str = "warc_ts",
               gap_secs: float = SESSION_GAP_SECS_DEFAULT,
               tiebreak: str | None = None) -> DataFrame:
    """Inter-event-gap sessions: a new session starts when the gap to
    the previous event exceeds ``gap_secs`` (or on the first event).
    Adds ``gap_secs`` (double, null on first) and ``session_id`` (long,
    0-based per key).  Batch idiom — running sum of new-session flags
    over an unbounded-preceding..currentRow frame.
    """
    w = _w(by, order, tiebreak)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # exact µs arithmetic (matches the DuckDB oracle bit-for-bit):
    # gap = (unix_micros(t) - unix_micros(prev)) / 1e6
    ts = F.unix_micros(F.col(order).cast("timestamp"))
    prev = F.unix_micros(F.lag(F.col(order)).over(w).cast("timestamp"))
    df = df.withColumn("gap_secs", (ts - prev).cast("double") / F.lit(1e6))
    new_sess = F.when(F.col("gap_secs").isNull() | (F.col("gap_secs") > gap_secs), 1).otherwise(0)
    df = df.withColumn("session_id", F.sum(new_sess).over(wsum) - F.lit(1))
    return df


def dedup_latest(df: DataFrame, *, by: list[str], order: str,
                 keep: str = "last", tiebreak: str | None = None) -> DataFrame:
    """Keep one row per key: latest (or earliest) by ``order`` (then
    ``tiebreak``, same direction, for determinism on order ties)."""
    cols = [order] if tiebreak is None else [order, tiebreak]
    ordering = [F.col(c).desc() if keep == "last" else F.col(c).asc() for c in cols]
    w = Window.partitionBy(*by).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def with_change_features(df: DataFrame, *, by: str = "url",
                         order: str = "warc_ts", text_col: str = "text",
                         tiebreak: str | None = None) -> DataFrame:
    """Inter-crawl content-change features per entity: compare each
    crawl's text against the PREVIOUS crawl of the same key (lag frame
    — zero temporal leakage, like every window op here):

    * ``changed``       — text differs from the previous crawl
    * ``token_jaccard`` — Jaccard similarity of the two crawls'
      distinct lowercase token sets (1.0 = same vocabulary, 0.0 =
      disjoint; NULL when both are empty)
    * ``len_delta``     — character-length change

    First crawl of a key ⇒ all three NULL (no previous observation).

    The drift signals a crawl pipeline schedules on: re-crawl cadence
    tuning, boilerplate-change suppression, freshness features for
    point-in-time training sets.

    Scale notes: one hash exchange on ``by`` — the SAME partitioning
    as with_lags/sessionize/with_ffill, so composing it into
    feature_vector adds zero additional shuffles; token sets are
    per-row scan-stage work.
    """
    w = _w(by, order, tiebreak)
    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0,
        F.expr("CAST(array() AS array<string>)"),
    ).otherwise(F.array_distinct(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")))
    out = (df.withColumn("__tk", toks)
           .withColumn("__ptext", F.lag(text_col).over(w))
           .withColumn("__ptk", F.lag("__tk").over(w)))
    union_sz = F.size(F.array_union(F.col("__tk"), F.col("__ptk")))
    jac = F.when(
        F.col("__ptk").isNull() | (union_sz == 0), F.lit(None)
    ).otherwise(F.round(
        F.size(F.array_intersect(F.col("__tk"), F.col("__ptk")))
        / union_sz, 6))
    return (out.withColumn(
                "changed",
                F.when(F.col("__ptext").isNull(), F.lit(None))
                 .otherwise(F.col(text_col) != F.col("__ptext")))
            .withColumn("token_jaccard", jac)
            .withColumn(
                "len_delta",
                F.when(F.col("__ptext").isNull(), F.lit(None))
                 .otherwise((F.length(text_col) - F.length("__ptext"))
                            .cast("long")))
            .drop("__tk", "__ptext", "__ptk"))


def recrawl_estimates(df: DataFrame, *, by: str = "url",
                      order: str = "warc_ts",
                      content_col: str = "text",
                      tiebreak: str | None = None) -> DataFrame:
    """Per-key page-change-rate estimation (Cho & Garcia-Molina 2003):
    from the observed crawl history, estimate the Poisson change rate
    that drives re-crawl scheduling.

    Per key with ≥ 2 observations:
    ``(key, n_crawls, n_changed, mean_gap_secs, change_rate)`` where
    n_changed counts observations whose content differs from the
    previous crawl, and
    ``change_rate = -ln(1 - n_changed/(n_intervals+1)) / mean_gap``
    — the +1 regularizer keeps the estimator finite when every crawl
    changed (the paper's bias-corrected variant; r → 1 would diverge).

    One window over (key, ts) — the SAME single url-hash exchange every
    other PIT feature shares — then a partial-agg groupBy.  Rounded to
    6 so the oracle compares stable doubles (one ln per key).
    """
    w = _w(by, order, tiebreak)
    ts = F.col(order).cast("timestamp").cast("double")
    d = (df.select(
            F.col(by),
            (F.col(content_col) != F.lag(content_col).over(w))
            .alias("__chg"),
            (ts - F.lag(ts).over(w)).alias("__gap")))
    agg = (d.groupBy(by)
           .agg(F.count("*").cast("long").alias("n_crawls"),
                F.sum(F.col("__chg").cast("long")).alias("n_changed"),
                F.avg("__gap").alias("__mean_gap"),
                F.count("__gap").cast("long").alias("__n_int"))
           .filter(F.col("__n_int") >= 1))
    r = F.col("n_changed") / (F.col("__n_int") + 1)
    return agg.select(
        F.col(by), "n_crawls",
        F.col("n_changed").cast("long").alias("n_changed"),
        F.round("__mean_gap", 6).alias("mean_gap_secs"),
        F.round(-F.log(F.lit(1.0) - r) / F.col("__mean_gap"), 9)
         .alias("change_rate"))


def with_rolling_stats(df: DataFrame, col: str, *, by: str = "url",
                       order: str = "warc_ts", n: int = 3,
                       tiebreak: str | None = None,
                       out_prefix: str | None = None) -> DataFrame:
    """Rolling point-in-time stats of ``col`` over the PRECEDING ``n``
    observations per key — frame ``rowsBetween(-n, -1)`` strictly
    excludes the current row, so the features are what a model could
    have known at event time (zero temporal leakage, the same contract
    as with_lags/with_ffill).

    Adds ``{p}_rmean / {p}_rmin / {p}_rmax / {p}_rstd / {p}_rcnt``
    (p = out_prefix or col).  Rows with no history get NULL stats and
    rcnt 0; rstd is the SAMPLE std (NULL until 2 observations).
    Mean/std are rounded to 1e-6 for cross-engine value parity.

    Scale notes: one hash exchange on ``by``, shared with every other
    window feature on the same key; the frame is row-bounded so state
    per key is O(n)."""
    w = (_w(by, order, tiebreak).rowsBetween(-n, -1))
    p = out_prefix or col
    c = F.col(col).cast("double")
    return (df
            .withColumn(f"{p}_rcnt", F.count(c).over(w).cast("long"))
            .withColumn(f"{p}_rmean", F.round(F.avg(c).over(w), 6))
            .withColumn(f"{p}_rmin", F.min(c).over(w))
            .withColumn(f"{p}_rmax", F.max(c).over(w))
            .withColumn(f"{p}_rstd", F.round(F.stddev_samp(c).over(w), 6)))


def ewma_by_key(df: DataFrame, *, value_col: str, order_cols: list[str],
                by: str, micro: int = 1_000_000,
                out: str = "ewma_micro") -> DataFrame:
    """Per-key exponentially-decayed value (EWMA, α = 1/2) as ONE
    deterministic integer per key: ``e₁ = v₁·micro``, ``e_t =
    (e_{t-1} + v_t·micro) div 2`` folded in ``order_cols`` order — the
    feature-store "decayed engagement" signal.

    Why integers + an explicit fold: float EWMA is a recursive product
    of doubles whose rounding differs across engines, but an integer
    trunc-div recurrence over an explicitly ordered list is bit-exact
    anywhere (DuckDB mirrors it with list(… ORDER BY) + list_reduce;
    both engines trunc-divide negatives toward zero).  The division by
    2 each step means values from more than ~40 observations back
    contribute nothing (2⁻⁴⁰ · micro < 1), matching EWMA's memory.

    Scale: one partial-aggregated shuffle on ``by``; the per-key
    collect_list holds that key's history — for web-scale hot keys cap
    upstream (e.g. ``with_rolling_stats``-style windows or per-key
    ``row_number() ≤ K``, K≈64 — beyond the decay horizon anyway).
    ``order_cols`` must be a per-key unique ordering (include a
    tie-break id) or the fold order — and the result — is undefined.
    """
    m = F.floor(F.col(value_col).cast("double") * micro).cast("long")
    lst = F.sort_array(F.collect_list(F.struct(
        *[F.col(c) for c in order_cols], m.alias("__m"))))
    grouped = df.groupBy(by).agg(F.count("*").cast("long").alias("n"),
                                 lst.alias("__l"))
    vals = F.transform(F.col("__l"), lambda s: s["__m"])
    fold = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, v: ((acc + v) / 2.0).cast("long"))
    return grouped.select(by, "n", fold.alias(out))


def best_span(df: DataFrame, *, key_col: str, pos_col: str,
              score_col: str) -> DataFrame:
    """Maximum-sum contiguous span of scored units per key — Kadane's
    algorithm re-expressed as two window passes, for "keep the best
    region" content extraction (score lines +content/−boilerplate and
    the winning span is the article body; also the classic burst
    detector over +1/−1 event scores).

    Math: with prefix sums ``cum_t``, the best span ending at t is
    ``cum_t − min(cum_u : u < t, including the empty prefix 0)``.
    The argmin rides along by taking the window MIN of the struct
    ``(cum, rn)`` — lexicographic struct ordering gives the smallest
    prefix sum with ties to the EARLIEST u (longest span), and the
    empty prefix participates as ``(0, 0)``.  The per-key winner is
    the struct MAX of ``(span, −rn, …)`` — largest sum, ties to the
    earliest end.  All sums are exact int64; the tie policy is total,
    so the result is a pure function of the data.

    Output: ``(key, n_units, best_sum, start_idx, end_idx, len)`` with
    1-based indexes in the key's ``pos_col`` order; keys whose every
    span is ≤ 0 emit NULL span fields (keep nothing) rather than a
    degenerate empty span.  ``pos_col`` must be unique per key.

    Scale: ONE key exchange shared by both window passes and the
    final groupBy; no join, no explode.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(pos_col).asc())
    base = df.select(key_col, pos_col,
                     F.col(score_col).cast("long").alias("__sc"))
    base = base.withColumn("__rn", F.row_number().over(w))
    base = base.withColumn(
        "__cum", F.sum("__sc").over(w.rowsBetween(Window.unboundedPreceding,
                                                  0)))
    pm0 = F.min(F.struct(F.col("__cum").alias("c"),
                         F.col("__rn").alias("r"))).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    zero = F.struct(F.lit(0).cast("long").alias("c"),
                    F.lit(0).alias("r"))
    base = base.withColumn(
        "__pm", F.when(pm0.isNull() | (zero <= pm0), zero).otherwise(pm0))
    span = F.col("__cum") - F.col("__pm").getField("c")
    cand = F.struct(span.alias("s"), (-F.col("__rn")).alias("nr"),
                    (F.col("__pm").getField("r") + 1).alias("st"))
    agg = (base.groupBy(key_col)
           .agg(F.count("*").cast("long").alias("n_units"),
                F.max(cand.alias("__w")).alias("__w")))
    s = F.col("__w").getField("s")
    st = F.col("__w").getField("st").cast("long")
    en = (-F.col("__w").getField("nr")).cast("long")
    pos = s > 0
    return agg.select(
        key_col, "n_units",
        F.when(pos, s).alias("best_sum"),
        F.when(pos, st).alias("start_idx"),
        F.when(pos, en).alias("end_idx"),
        F.when(pos, en - st + 1).alias("len"))


def cusum_stats(df: DataFrame, *, by: str, order: str, value_col: str,
                warmup: int = 3, allowance: int = 0, threshold: int = 0,
                scale: int = 100,
                tiebreak: str | None = None) -> DataFrame:
    """Two-sided CUSUM changepoint detection per key (Page 1954) —
    sequential drift monitoring over a crawl/metric series: has this
    entity's signal shifted up or down versus its own early baseline,
    and when did the evidence first cross the decision threshold?

    The CUSUM recursion ``S_t = max(0, S_{t-1} + a_t)`` looks
    imperative but has the exact closed form ``S_t = P_t - min(P_0..
    P_t)`` over prefix sums ``P`` (with the empty prefix ``P_0 = 0``
    participating in the min) — the same prefix-extremum identity as
    Kadane/best_span — so the whole detector is two window passes, no
    UDF, no recursion.

    Exact-integer arithmetic end-to-end: values enter as
    ``round(value·scale)`` int64 units; the baseline is the SUM of the
    first ``warmup`` observations (never divided — deviations are
    tested as ``warmup·x_t - base_sum`` in warmup-scaled units, so no
    mean is ever materialized as a float).  ``allowance`` (CUSUM's k,
    per-observation slack) and ``threshold`` (decision limit h) are in
    the same ``scale`` units and get warmup-scaled internally.
    Detection starts at observation ``warmup + 1``; the baseline rows
    themselves are never tested (and a key with ≤ warmup observations
    reports zero alarms) — the baseline uses only PAST rows of each
    tested row, so the detector is temporally leakage-free by
    construction.

    Returns one row per key: ``n_obs``, ``max_cusum_up`` /
    ``max_cusum_down`` (peak evidence, warmup·scale units),
    ``n_alarms_up`` / ``n_alarms_down`` (observations with S above h),
    and ``first_alarm_ts`` (earliest crossing in either direction,
    NULL when none).

    Scale notes (100 TB): ONE hash exchange on ``by`` shared by both
    window passes and the final groupBy (same-key ordering); per-row
    state in the windows is O(1) (running sum / running min), the
    output is one row per key.  Skewed keys: a single entity's history
    must fit one task — cap lookback upstream if an adversarial key
    has millions of crawls (same playbook as sessionize/as-of)."""
    x = F.round(F.col(value_col).cast("double") * scale).cast("long")
    inner_order = [F.col("__ts").asc()] + (
        [F.col("__tb").asc()] if tiebreak else [])
    wcum = (Window.partitionBy("__k").orderBy(*inner_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    d = (df.select(F.col(by).alias("__k"), F.col(order).alias("__ts"),
                   *( [F.col(tiebreak).alias("__tb")] if tiebreak else []),
                   x.alias("__x"))
           .withColumn("__rn", F.row_number().over(
               Window.partitionBy("__k").orderBy(*inner_order))))
    # baseline: sum of the first `warmup` observations (unbounded window
    # over a masked column — for every TESTED row (rn > warmup) these are
    # strictly past rows, so no leakage)
    wk = Window.partitionBy("__k")
    d = d.withColumn("__base",
                     F.sum(F.when(F.col("__rn") <= warmup, F.col("__x"))
                            .otherwise(F.lit(0))).over(wk))
    # per-observation deviations in warmup-scaled integer units;
    # 0 during warmup so prefix sums pass through
    tested = F.col("__rn") > warmup
    a_up = F.when(tested,
                  warmup * F.col("__x") - F.col("__base")
                  - F.lit(warmup * allowance)).otherwise(F.lit(0))
    a_dn = F.when(tested,
                  F.col("__base") - warmup * F.col("__x")
                  - F.lit(warmup * allowance)).otherwise(F.lit(0))
    d = (d.withColumn("__pu", F.sum(a_up).over(wcum))
          .withColumn("__pd", F.sum(a_dn).over(wcum)))
    # S_t = P_t - min(P_0..P_t); least(run_min, 0) injects P_0 = 0
    s_up = F.col("__pu") - F.least(F.min("__pu").over(wcum), F.lit(0))
    s_dn = F.col("__pd") - F.least(F.min("__pd").over(wcum), F.lit(0))
    h = F.lit(warmup * threshold)
    d = (d.withColumn("__su", F.when(tested, s_up).otherwise(F.lit(0)))
          .withColumn("__sd", F.when(tested, s_dn).otherwise(F.lit(0))))
    return (d.groupBy(F.col("__k").alias(by))
            .agg(F.count("*").cast("long").alias("n_obs"),
                 F.max("__su").cast("long").alias("max_cusum_up"),
                 F.max("__sd").cast("long").alias("max_cusum_down"),
                 F.sum((F.col("__su") > h).cast("long")).cast("long")
                  .alias("n_alarms_up"),
                 F.sum((F.col("__sd") > h).cast("long")).cast("long")
                  .alias("n_alarms_down"),
                 F.min(F.when((F.col("__su") > h) | (F.col("__sd") > h),
                              F.col("__ts"))).alias("first_alarm_ts")))


def rate_limit_schedule(df: DataFrame, *, by: str, ready_col: str,
                        delay_s: int, tiebreak: str | None = None,
                        out_prefix: str = "sched") -> DataFrame:
    """Clock-based per-key rate limiting (the politeness scheduler in
    EVENT time, complementing the offset-based
    ``frontier.politeness_schedule``): request i of a key may start at
    ``sched_i = max(ready_i, sched_{i-1} + delay)`` — serve as soon as
    ready, but never within ``delay`` of the previous serve.

    The recursion has an exact max-plus closed form: ``sched_i =
    i·delay + max_{j≤i}(ready_j − j·delay)`` — a prefix MAX over a
    shifted column, the mirror image of CUSUM's prefix-min identity —
    so the whole scheduler is one row_number plus one running-max
    window, exact integer microseconds, no UDF, no recursion.

    Adds ``{p}_ts`` (the scheduled serve time) and ``{p}_wait_us``
    (how long the request queued behind the rate limit).

    Scale: ONE hash exchange on ``by`` shared by both windows; per-row
    window state is O(1).  The streaming twin
    (``streaming.stateful.streaming_rate_limit``) folds the same
    recursion across micro-batches with one int64 of state per key."""
    from pyspark.sql import Window

    order = [F.col(ready_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(by).orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d_us = int(delay_s) * 1_000_000
    rn = F.row_number().over(w).cast("long")
    # cast: parquet timestamps may be NTZ; session tz is pinned UTC
    base = F.unix_micros(F.col(ready_col).cast("timestamp"))
    adj = base - rn * F.lit(d_us)
    sched_us = F.max(adj).over(wcum) + rn * F.lit(d_us)
    return (df
            .withColumn(f"{out_prefix}_ts", F.timestamp_micros(sched_us))
            .withColumn(f"{out_prefix}_wait_us",
                        (sched_us - base).cast("long")))


def holt_forecast_by_key(df: DataFrame, *, value_col: str,
                         order_cols: list[str], by: str,
                         horizon: int = 3,
                         micro: int = 1_000_000) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + trend,
    α = β = 1/2) as an exact integer TWO-scalar fold — ``ewma_by_key``
    tracks a level but cannot see a ramp (its forecast of a steadily
    growing series lags forever); Holt carries the trend:

        l₁ = v₁·micro, b₁ = 0
        l_t = (l_{t−1} + b_{t−1} + v_t·micro) div 2
        b_t = (b_{t−1} + (l_t − l_{t−1})) div 2
        forecast(h) = l_n + h·b_n

    Same exactness contract as the EWMA: an integer trunc-div
    recurrence over an explicitly ordered list is bit-identical in
    every engine (DuckDB mirrors the [level, trend] pair fold with
    ``list_reduce`` over ``[m, 0]`` pairs; both engines trunc-divide
    toward zero — verified −3//2 = −1 in DuckDB, matching Spark's
    double-div-cast), where float Holt differs in the last ULP per
    step and compounds.

    Scale: one partial-aggregated shuffle on ``by``; per-key history
    in the collect_list with the same ~40-step decay-horizon cap
    advice as ``ewma_by_key``.  ``order_cols`` must be per-key unique.

    Output: (by, n, level_micro, trend_micro, fc_micro) with
    ``fc_micro = level + horizon·trend``.
    """
    m = F.floor(F.col(value_col).cast("double") * micro).cast("long")
    lst = F.sort_array(F.collect_list(F.struct(
        *[F.col(c) for c in order_cols], m.alias("__m"))))
    grouped = df.groupBy(by).agg(F.count("*").cast("long").alias("n"),
                                 lst.alias("__l"))
    pairs = F.transform(F.col("__l"),
                        lambda s: F.array(s["__m"],
                                          F.lit(0).cast("long")))

    def step(acc, v):
        l_new = ((acc[0] + acc[1] + v[0]) / F.lit(2.0)).cast("long")
        b_new = ((acc[1] + (l_new - acc[0])) / F.lit(2.0)).cast("long")
        return F.array(l_new, b_new)

    fold = F.aggregate(
        F.slice(pairs, 2, F.greatest(F.size(pairs) - 1, F.lit(0))),
        F.element_at(pairs, 1), step)
    h = int(horizon)
    return grouped.select(
        by, "n",
        fold[0].alias("level_micro"),
        fold[1].alias("trend_micro"),
        (fold[0] + F.lit(h) * fold[1]).alias("fc_micro"))


def holt_winters_by_key(df: DataFrame, *, value_col: str,
                        order_cols: list[str], by: str,
                        season_len: int, horizon: int = 1,
                        micro: int = 1_000_000) -> DataFrame:
    """Per-key Holt-Winters ADDITIVE triple-exponential smoothing
    (level + trend + season, α = β = γ = 1/2) as an exact integer
    fold over a (m+2)-long state vector — the forecaster for series
    where Holt's trend is systematically wrong once a day/week cycle
    dominates: on a pure 24-hour sawtooth Holt forecasts the MEAN
    ramp while HW replays the cycle (pinned in tests).

        init (classic, one full season):
          l = (Σ first m values·micro) div m,  b = 0,
          s_i = v_i·micro − l                       (i = 1..m)
        step (oldest seasonal s⁻ consumed per observation):
          l_t = (l + b + (v_t·micro − s⁻)) div 2
          b_t = (b + (l_t − l)) div 2
          s_t = ((v_t·micro − l_t) + s⁻) div 2      (appended)
        forecast(h) = l_n + h·b_n + s_{n+h−m}

    Same exactness contract as ``holt_forecast_by_key``: an integer
    trunc-div recurrence over an explicitly ordered list is
    bit-identical in every engine.  DuckDB 1.0's ``list_reduce`` has
    no seed argument, so the oracle prepends the init state as the
    FIRST element of the reduced list and pads every value element to
    state width (the lambda reads v[1]); Spark uses ``F.aggregate``
    with the explicit seed — identical trajectories.

    Keys with n < ``season_len`` report NULL level/trend/season/
    forecast (no full season to initialize from — a shorter init
    would be a silently different model).

    Scale: one partial-aggregated shuffle on ``by``; per-key history
    in a collect_list, same decay-horizon advice as the EWMA/Holt
    folds; the state is m+2 longs per key, O(1) per observation.

    Output: (by, n, level_micro, trend_micro, season_micro,
    fc_micro) where season_micro is the seasonal term the forecast
    uses (s_{n+h−m}).
    """
    m_len = int(season_len)
    h = int(horizon)
    mcol = F.floor(F.col(value_col).cast("double") * micro).cast("long")
    lst = F.sort_array(F.collect_list(F.struct(
        *[F.col(c) for c in order_cols], mcol.alias("__m"))))
    grouped = df.groupBy(by).agg(F.count("*").cast("long").alias("n"),
                                 lst.alias("__l"))
    vals = F.transform(F.col("__l"), lambda s: s["__m"])
    head = F.slice(vals, 1, m_len)
    sum_head = F.aggregate(head, F.lit(0).cast("long"),
                           lambda a, v: a + v)
    l0 = (sum_head / F.lit(float(m_len))).cast("long")
    seas0 = F.transform(head, lambda v: v - l0)
    state0 = F.concat(F.array(l0, F.lit(0).cast("long")), seas0)
    rest = F.slice(vals, m_len + 1,
                   F.greatest(F.size(vals) - m_len, F.lit(0)))

    def step(acc, v):
        l_new = ((acc[0] + acc[1] + (v - acc[2]))
                 / F.lit(2.0)).cast("long")
        b_new = ((acc[1] + (l_new - acc[0])) / F.lit(2.0)).cast("long")
        s_new = (((v - l_new) + acc[2]) / F.lit(2.0)).cast("long")
        return F.concat(F.array(l_new, b_new),
                        F.slice(acc, 4, m_len - 1), F.array(s_new))

    fold = F.aggregate(rest, state0, step)
    si = 2 + ((h - 1) % m_len)          # 0-based seasonal index
    ok = F.col("n") >= m_len
    return grouped.select(
        by, "n",
        F.when(ok, fold[0]).alias("level_micro"),
        F.when(ok, fold[1]).alias("trend_micro"),
        F.when(ok, fold[si]).alias("season_micro"),
        F.when(ok, fold[0] + F.lit(h) * fold[1] + fold[si])
        .alias("fc_micro"))


def kleinberg_bursts(df: DataFrame, *, ts_col: str, by: str,
                     s_mult: int = 2,
                     gamma_micro: int = 1_000_000) -> DataFrame:
    """Kleinberg's two-state burst detector (Kleinberg 2002) per key,
    as an exact integer Viterbi fold WITH in-plan backtracking — the
    interval answer the threshold detectors here can't give: CUSUM
    says "the rate shifted somewhere", seasonal_anomalies flags single
    points; this labels every inter-event gap as base or burst by the
    globally optimal two-state path, so a run of slightly-short gaps
    is one burst rather than zero anomalies.

    Model: exponential gap emissions at base rate α₀ = 1/ḡ and burst
    rate α₁ = s·α₀; entering a burst costs γ·ln(n+1), leaving is
    free.  Everything is µ-nat snapped per observation BEFORE the
    fold — emission costs e_j(g) = round(10⁶·(α_j·g − ln α_j)), the
    entry cost likewise — so the whole Viterbi trajectory (costs,
    argmin decisions, the backtracked path) is exact integer
    arithmetic, bit-identical in every engine; cost ties prefer the
    BASE state (and staying in burst over re-entering), pinned.

    Two folds per key, both over in-plan arrays: the forward pass
    carries [c₀, c₁, decisions...] (decisions packed 2 bits/step),
    the backward pass walks the reversed decisions from the cheaper
    final state.  DuckDB replays both with the seed-as-first-element
    list_reduce trick.  Keys with < 2 events emit nothing (no gap to
    label); an all-equal-timestamp key gets ḡ clamped to 1 µs rather
    than a 0-division.

    Scale: one partial-aggregated shuffle on ``by``; per-key history
    rides a collect_list (same bounded-history advice as the other
    fold operators); the explode returns one row per gap.

    Output: (by, pos, gap_us, burst) — pos is the 1-based gap index
    (gap t spans events t..t+1), burst ∈ {0, 1}.
    """
    INF = 1 << 60
    s = int(s_mult)
    g_dbl = float(gamma_micro) / 1e6
    tsm = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lst = F.sort_array(F.collect_list(tsm))
    grouped = df.groupBy(by).agg(lst.alias("__ts"))
    n_ts = F.size(F.col("__ts"))
    gaps = F.zip_with(
        F.slice(F.col("__ts"), 2, F.greatest(n_ts - 1, F.lit(0))),
        F.slice(F.col("__ts"), 1, F.greatest(n_ts - 1, F.lit(0))),
        lambda a, b: a - b)
    g = grouped.filter(n_ts >= 2).select(by, gaps.alias("__g"))
    n_g = F.size(F.col("__g"))
    mean = F.greatest(F.expr("aggregate(__g, 0L, (a, v) -> a + v) div "
                             "size(__g)"), F.lit(1).cast("long"))
    g = g.select(by, "__g", mean.alias("__m"), n_g.alias("__n"))
    md = F.col("__m").cast("double")
    pairs = F.transform(
        F.col("__g"),
        lambda gp: F.array(
            F.round(F.lit(1e6) * (gp.cast("double") / md + F.log(md)))
            .cast("long"),
            F.round(F.lit(1e6) * (F.lit(float(s)) * gp.cast("double")
                                  / md + F.log(md)
                                  - F.log(F.lit(float(s)))))
            .cast("long")))
    enter_cost = F.round(
        F.lit(1e6 * g_dbl)
        * F.log((F.col("__n") + 1).cast("double"))).cast("long")
    g = g.select(by, "__g", "__n", pairs.alias("__e"),
                 enter_cost.alias("__T"))

    def step(acc, v):
        c0, c1 = acc[0], acc[1]
        enter = c0 + F.col("__T")
        c0n = v[0] + F.least(c0, c1)
        c1n = v[1] + F.least(c1, enter)
        d0 = F.when(c0 <= c1, F.lit(0)).otherwise(F.lit(1)).cast("long")
        d1 = F.when(c1 <= enter, F.lit(1)).otherwise(F.lit(0)) \
            .cast("long")
        return F.concat(
            F.array(c0n, c1n),
            F.slice(acc, 3, F.greatest(F.size(acc) - 2, F.lit(0))),
            F.array(d0 + F.lit(2) * d1))

    seed = F.array(F.lit(0).cast("long"), F.lit(INF).cast("long"))
    fwd = F.aggregate(F.col("__e"), seed, step)
    g = g.select(by, "__g", "__n", fwd.alias("__f"))
    jstar = F.when(F.col("__f")[1] < F.col("__f")[0],
                   F.lit(1)).otherwise(F.lit(0)).cast("long")
    # decisions d_1..d_n sit at positions 3..n+2; backtrack consumes
    # d_n..d_2 (d_1's predecessor is the forced base-state seed)
    decs_rev = F.reverse(F.slice(
        F.col("__f"), 4, F.greatest(F.col("__n") - 1, F.lit(0))))
    back = F.aggregate(
        decs_rev, F.array(jstar),
        lambda acc, d: F.concat(acc, F.array(
            F.when(F.element_at(acc, -1) == 0, d % 2)
            .otherwise(F.floor(d / 2).cast("long") % 2).cast("long"))))
    states = F.reverse(back)
    zipped = F.zip_with(F.col("__g"), states,
                        lambda gp, st: F.struct(gp.alias("g"),
                                                st.alias("s")))
    ex = g.select(by, zipped.alias("__z")).select(by, F.posexplode("__z"))
    return ex.select(
        by, (F.col("pos") + 1).cast("long").alias("pos"),
        F.col("col").getField("g").alias("gap_us"),
        F.col("col").getField("s").cast("int").alias("burst"))
