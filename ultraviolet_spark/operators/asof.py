"""Point-in-time (as-of) join — THE core operator (BASELINE.json:14).

For each left row (by, t) take the single right row with the largest
``t_r <= t`` (backward; ``t_r < t`` when ``strict``) matching the same
``by`` key.  Zero temporal leakage by construction: right rows later
than ``t`` can never influence the output.

Spark has no native as-of join (verified absent in 4.1.2, SURVEY.md
§2.4), so the engine plans one as:

    left.groupBy(bucket) cogroup right.groupBy(bucket)
        .applyInPandas(merge_asof per bucket)

where ``bucket = pmod(xxhash64(by), num_buckets)``.  Spark inserts ONE
hash exchange per side for the cogroup (verified via explain — see
tests/test_plans.py); the per-(by,time) sort happens inside the merge
function with a stable mergesort, so no extra range/sort exchange is
needed (SURVEY.md §3.2 watch-out resolved: pre-repartitionByRange would
ADD a second shuffle, not remove one).

Scale notes (100 TB / 1000 executors):
* num_buckets should be ≥ 4× total cores so AQE-sized shuffle
  partitions stay ≤ ~200 MB; buckets are hash-uniform over entity keys
  so only entity-level skew (one hot url) matters — handle that with
  ``hot_keys=find_hot_keys(df, "url")`` (crawl-frequency skew,
  BASELINE.json:6).
* the merge is O(n log n) per bucket in numpy (sort) + O(n) merge —
  working set is one bucket, bounded by bucket count, not data size.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BUCKET = "__uv_bucket"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "warc_ts",
    right_on: str | None = None,
    by: str = "url",
    right_by: str | None = None,
    value_cols: list[str] | None = None,
    direction: str = "backward",
    strict: bool = False,
    tolerance: pd.Timedelta | str | None = None,
    num_buckets: int | None = None,
    suffix: str = "_r",
    hot_keys: list | None = None,
    salt: int = 8,
    bucket_col: str | None = None,
) -> DataFrame:
    """As-of join; returns all left columns + right ``value_cols``
    (suffixed on collision).  ``direction`` ∈ {backward, forward,
    nearest} (backward is the point-in-time default).

    Skew handling (crawl-frequency hot keys, BASELINE.json north_rule):
    pass ``hot_keys`` (entity values whose row counts dwarf the rest —
    find them with ``find_hot_keys``) and the left side of each hot key
    is split across ``salt`` slices by a hash of its *timestamp* while
    the right side is replicated to every slice.  Backward as-of only
    needs right rows ≤ t, and each slice carries the key's FULL right
    history, so the merge per (key, slice) is exact — verified by
    tests/test_skew.py equality against the unsalted plan.  AQE cannot
    split a cogroup group, so this explicit mechanism is required.

    ``bucket_col``: name of a PRE-MATERIALIZED bucket column present on
    BOTH sides (written by plans.layout.write_bucketed).  When both
    inputs scan bucketed tables on that column, the cogroup's required
    clustering is already satisfied and the as-of plans with ZERO
    exchanges (asserted in tests/test_layout.py).  Mutually exclusive
    with ``hot_keys`` (a bucketed layout fixes bucket ids at write
    time; re-bucket hot keys at ingest instead).
    """
    right_on = right_on or on
    right_by = right_by or by
    if bucket_col is not None and hot_keys:
        raise ValueError("bucket_col and hot_keys are mutually exclusive")
    if value_cols is None:
        value_cols = [c for c in right.columns
                      if c not in (right_on, right_by, bucket_col)]
    num_buckets = num_buckets or max(
        left.sparkSession.sparkContext.defaultParallelism * 4, 8
    )

    out_names = set(left.columns)
    renames = {c: (c + suffix if c in out_names else c) for c in value_cols}

    lschema = left.schema
    rschema = right.schema
    out_fields = list(lschema.fields) + [
        T.StructField(renames[c], rschema[c].dataType, True) for c in value_cols
    ]
    schema = T.StructType(out_fields)

    lcols = list(left.columns)
    tol = pd.Timedelta(tolerance) if isinstance(tolerance, str) else tolerance

    # Re-alias every right column to a fresh name BEFORE the cogroup:
    # when `right` is derived from `left` (self-as-of, e.g. joining a
    # table to a snapshot of itself) both children share attribute ids,
    # and Catalyst's column pruning can mis-resolve across the cogroup
    # (observed: count() pruned url/warc_ts out of the right child).
    # A different-name Alias mints new expression ids, breaking the
    # shared lineage; merge() renames them back first thing.
    rsel = [right_by, right_on] + value_cols
    unalias = {f"__uvr_{i}": c for i, c in enumerate(rsel)}
    ralias = [F.col(c).alias(f"__uvr_{i}") for i, c in enumerate(rsel)]
    if bucket_col is not None:
        # carry the pre-materialized bucket through the re-alias; naming
        # it _BUCKET here means no further withColumn (which would break
        # the alias-preserved hashpartitioning) is needed below
        ralias.append(F.col(bucket_col).alias(_BUCKET))
    right = right.select(*ralias)
    r_by, r_on = "__uvr_0", "__uvr_1"

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.drop(columns=[_BUCKET])
        rpdf = rpdf.drop(columns=[_BUCKET]).rename(columns=unalias)
        if not len(lpdf):
            return pd.DataFrame(columns=lcols + [renames[c] for c in value_cols])
        # stable sort on time only — merge_asof's `by` handles the key;
        # mergesort keeps equal-timestamp right rows in input order so
        # "latest" on ties is deterministic.
        lpdf = lpdf.sort_values(on, kind="mergesort").reset_index(drop=True)
        rpdf = (
            rpdf[[right_by, right_on] + value_cols]
            .rename(columns={right_by: by, right_on: on, **renames})
            .sort_values(on, kind="mergesort")
            .reset_index(drop=True)
        )
        merged = pd.merge_asof(
            lpdf,
            rpdf,
            on=on,
            by=by,
            direction=direction,
            allow_exact_matches=not strict,
            tolerance=tol,
        )
        # int columns that picked up NaN on misses → pandas nullable Int64
        for c in value_cols:
            f = rschema[c].dataType
            if isinstance(f, (T.LongType, T.IntegerType)) and merged[renames[c]].dtype.kind == "f":
                merged[renames[c]] = merged[renames[c]].astype("Int64")
        return merged

    if hot_keys:
        hot = F.array(*[F.lit(k) for k in hot_keys])
        # left: hot rows fan out over `salt` slices by timestamp hash
        lsalt = F.when(
            F.array_contains(hot, F.col(by)),
            F.pmod(F.xxhash64(F.col(on)), F.lit(salt)),
        ).otherwise(F.lit(0))
        lb = left.withColumn(
            _BUCKET,
            F.pmod(F.xxhash64(F.col(by), lsalt), F.lit(num_buckets)),
        )
        # right: hot rows replicated into every slice (backward as-of
        # may need any earlier right row in any slice)
        rsalts = F.when(
            F.array_contains(hot, F.col(r_by)),
            F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"),
        ).otherwise(F.array(F.lit(0)).cast("array<long>"))
        rb = right.withColumn("__uv_salt", F.explode(rsalts)).withColumn(
            _BUCKET,
            F.pmod(F.xxhash64(F.col(r_by), F.col("__uv_salt")), F.lit(num_buckets)),
        ).drop("__uv_salt")
    elif bucket_col is not None:
        lb = left.withColumn(_BUCKET, F.col(bucket_col))
        rb = right  # _BUCKET already aliased in the re-alias select
    else:
        lb = left.withColumn(_BUCKET, F.pmod(F.xxhash64(F.col(by)), F.lit(num_buckets)))
        rb = right.withColumn(_BUCKET, F.pmod(F.xxhash64(F.col(r_by)), F.lit(num_buckets)))
    return (
        lb.groupBy(_BUCKET)
        .cogroup(rb.groupBy(_BUCKET))
        .applyInPandas(merge, schema=schema)
    )


def find_hot_keys(df: DataFrame, by: str, *, min_rows: int = 1_000_000,
                  top: int = 64) -> list:
    """Entity values whose row counts exceed ``min_rows`` (the scale at
    which one cogroup pandas group stops fitting an executor).  One
    partial-agg count — cheap relative to the join itself."""
    rows = (
        df.groupBy(by).agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_rows)
        .orderBy(F.col("__n").desc()).limit(top).collect()
    )
    return [r[by] for r in rows]


def temporal_leakage_audit(df: DataFrame, *, ts_col: str,
                           feature_ts_col: str, label: str) -> DataFrame:
    """One-row audit proving (or refuting) zero temporal leakage of a
    feature join: a feature row whose source timestamp is STRICTLY
    after the entity's event time leaked the future into the feature
    vector (north-rule invariant).  Equality is allowed — point-in-time
    includes the present instant.

    Returns ``(method, n_rows, n_joined, n_violations, max_lead_us)``:
    violation count plus the worst future-peek in microseconds (NULL
    when clean).  Run it against every as-of/backfill output in CI —
    a forward-direction join, a missing watermark, or an off-by-one in
    a window frame all surface here as n_violations > 0 with the exact
    magnitude, not as silently optimistic eval metrics months later.

    Scale: a single partial aggregation — no shuffle beyond the 1-row
    reduce, safe to run on the full 10^12-row feature table.
    """
    viol = F.col(feature_ts_col) > F.col(ts_col)
    # unix_micros rejects TIMESTAMP_NTZ; the session timezone is pinned
    # UTC (session.py), so the NTZ→TZ cast is value-preserving and the
    # DIFFERENCE is timezone-free regardless.
    lead_us = (F.unix_micros(F.col(feature_ts_col).cast("timestamp"))
               - F.unix_micros(F.col(ts_col).cast("timestamp")))
    return df.agg(
        F.lit(label).alias("method"),
        F.count("*").cast("long").alias("n_rows"),
        F.count(feature_ts_col).cast("long").alias("n_joined"),
        F.sum(F.when(viol, 1).otherwise(0)).cast("long")
         .alias("n_violations"),
        F.max(F.when(viol, lead_us)).cast("long").alias("max_lead_us"))


def multi_horizon_asof(left: DataFrame, right: DataFrame, *,
                       on: str = "warc_ts", by: str = "url",
                       value_cols: list[str] | None = None,
                       horizons: list[tuple[str, str]] = (),
                       **asof_kwargs) -> DataFrame:
    """Point-in-time feature vector at MULTIPLE lag horizons — the
    feature-store staple on top of :func:`asof_join`: for each left
    row at time t, fetch the last right observation at-or-before
    t − Δ for every Δ in ``horizons`` (e.g. the 1-hour-ago, 1-day-ago
    and 7-days-ago states), all with zero temporal leakage by
    construction.

    ``horizons`` is a list of ``(label, interval_sql)`` pairs, e.g.
    ``[("1h", "INTERVAL 1 HOUR"), ("24h", "INTERVAL 24 HOURS")]``;
    each right ``value_col`` lands as ``{col}_{label}``.

    Mechanics: shifting the RIGHT timestamps forward by Δ makes the
    ordinary backward as-of at t equivalent to "last right row with
    original ts ≤ t − Δ" — so every horizon is one standard
    :func:`asof_join` (same cogroup/mergesort machinery, same
    salting/bucketing options via ``asof_kwargs``), chained left to
    right.  H horizons = H cogroups; on a ``write_bucketed`` layout
    each plans exchange-free (``bucket_col``).

    The usual backward-as-of caveat applies doubly here: duplicate
    right (key, ts) rows resolve by position in pandas — pre-aggregate
    the right side to one row per (key, ts) for deterministic
    results (the q371 contract).
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, by)]
    out = left
    for label, interval in horizons:
        shifted = right
        for c in value_cols:
            shifted = shifted.withColumnRenamed(c, f"{c}_{label}")
        shifted = shifted.withColumn(on, F.col(on) + F.expr(interval))
        out = asof_join(out, shifted, on=on, by=by,
                        value_cols=[f"{c}_{label}" for c in value_cols],
                        direction="backward", **asof_kwargs)
    return out
