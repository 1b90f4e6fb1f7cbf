"""End-to-end feature pipeline (SURVEY.md §3.1–3.2, the flagship).

    pages ──extract_stage(mapInArrow: decode+validate+extract)──▶ text_extracted
          ──feature_vector(window ops, one shuffle on url)──────▶ features
          ──backward as-of against each url's first crawl───────▶ enriched

Shuffle census at scale: ONE hash exchange on `url` for the whole
flagship.  extract_stage is shuffle-free; every feature window shares
that partitioning and (url, warc_ts) sort, and the as-of enrichment is
one more window over the same frame, so it reuses them.  Nothing else
moves data (tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ultraviolet_spark.functions.udfs import extract_stage
from ultraviolet_spark.operators.windows import (
    SESSION_GAP_SECS_DEFAULT,
    _w,
    sessionize,
    with_ffill,
    with_lags,
    with_lang_stability,
)

FEATURE_COLS = [
    "url", "warc_ts", "text_len", "cp_hist", "lang",
    "lang_stable_lag1", "lang_stable_lag2", "gap_secs", "session_id",
    "text_len_lag1", "text_len_ffill",
]


def feature_vector(
    text_extracted: DataFrame,
    *,
    by: str = "url",
    order: str = "warc_ts",
    gap_secs: float = SESSION_GAP_SECS_DEFAULT,
    extra_cols: tuple[str, ...] = (),
    bucket_col: str | None = None,
) -> DataFrame:
    """text_extracted → features (SURVEY.md §1.2 schema).  The input
    comes from ``extract_stage(..., with_features=True)``, whose fused
    kernel pass already carries text_len and cp_hist.  All window
    frames end at currentRow — no temporal leakage.

    ``bucket_col``: name of a materialized bucket column (written by
    plans.layout.write_bucketed).  Windows then partition by
    (bucket, key) — semantically identical since bucket = f(key) — so a
    bucketed-table scan satisfies the clustering requirement and the
    whole feature stage plans with ZERO exchanges (tests/test_layout.py).
    """
    keys = by if bucket_col is None else [bucket_col, by]
    f = with_lang_stability(text_extracted, by=keys, order=order)
    f = sessionize(f, by=keys, order=order, gap_secs=gap_secs)
    f = with_lags(f, ["text_len"], by=keys, order=order)
    # forward-fill of the last *cleanly decoded* length: rows whose html
    # needed replacements observe null and inherit the last clean value.
    f = f.withColumn(
        "obs_len", F.when(F.col("valid_utf8"), F.col("text_len"))
    )
    f = with_ffill(f, "obs_len", by=keys, order=order, out="text_len_ffill")
    bucket_extra = () if bucket_col is None else (bucket_col,)
    return f.select(*FEATURE_COLS, *bucket_extra, *extra_cols)


def compute_features(pages: DataFrame, **kwargs) -> DataFrame:
    return feature_vector(extract_stage(pages, with_features=True), **kwargs)


def _with_first_text_len(features: DataFrame, keys: str | list[str]) -> DataFrame:
    """features ⟕ (backward as-of) each url's first-crawl row, keeping
    its text_len as ``first_text_len``.  Every row is at or after its
    url's first crawl, so the as-of value is first() over the feature
    windows' own frame (unbounded preceding .. current row): it reuses
    their exchange and sort, and cannot see the future."""
    return features.withColumn(
        "first_text_len", F.first("text_len").over(_w(keys, "warc_ts")))


def flagship_enriched(pages: DataFrame, **kwargs) -> DataFrame:
    """pages → features → backward-as-of enrichment against the per-url
    first-crawl snapshot, all in one url shuffle."""
    return _with_first_text_len(compute_features(pages, **kwargs), "url")


def flagship_over_bucketed(spark, table: str, **kwargs) -> DataFrame:
    """The flagship feature + as-of pipeline over a ``write_bucketed``
    text_extracted table — ZERO exchanges end-to-end (plan-asserted in
    tests/test_layout.py).

    This is the 100 TB production shape: transcode+extract is
    shuffle-free row-parallel work paid once at ingest, the bucketed
    (uv_bucket / url, warc_ts-sorted) layout is written once, and every
    subsequent feature/as-of run over it shuffles NOTHING — every
    window, the as-of one included, partitions by (bucket, url)."""
    from ultraviolet_spark.plans.layout import BUCKET_COL, read_bucketed

    te = read_bucketed(spark, table)
    features = feature_vector(te, bucket_col=BUCKET_COL, **kwargs)
    return _with_first_text_len(features, [BUCKET_COL, "url"])


def run_checkpointed_pipeline(spark, pages: DataFrame, warehouse: str,
                              *, inputs_key: str,
                              gap_secs: float = SESSION_GAP_SECS_DEFAULT):
    """The flagship pipeline with snapshot checkpoints between stages
    (north_rule resumability).  Re-running after a kill skips every
    stage whose inputs are unchanged — each stage's fingerprint chains
    the upstream snapshot, so a changed input cascades recomputation
    exactly as far as needed.

    Returns (enriched_features_df, {stage: resumed_bool}).
    """
    from ultraviolet_spark.plans.snapshots import (
        ParquetSnapshotFormat,
        fingerprint,
        run_stage,
    )

    fmt = ParquetSnapshotFormat(warehouse)
    resumed: dict[str, bool] = {}

    # Per-stage accumulator metrics ride the write pass via df.observe
    # (zero extra jobs) and land in fmt.observed_metrics() — the
    # cross-stage audit table (north_rule 'metrics tables').
    fp1 = fingerprint("text_extracted", inputs_key)
    te, resumed["text_extracted"] = run_stage(
        spark, fmt, "text_extracted", fp1,
        lambda: extract_stage(pages, with_features=True),
        observe={"text_bytes": F.sum(F.length("text")),
                 "min_warc_ts": F.min(F.unix_micros(
                     F.col("warc_ts").cast("timestamp"))),
                 "max_warc_ts": F.max(F.unix_micros(
                     F.col("warc_ts").cast("timestamp")))})

    fp2 = fingerprint("features", fp1, gap_secs)
    feats, resumed["features"] = run_stage(
        spark, fmt, "features", fp2,
        lambda: feature_vector(te, gap_secs=gap_secs),
        observe={"total_text_len": F.sum("text_len"),
                 "max_session_id": F.max("session_id")})

    fp3 = fingerprint("features_enriched", fp2)
    enriched, resumed["features_enriched"] = run_stage(
        spark, fmt, "features_enriched", fp3,
        lambda: _with_first_text_len(feats, "url"))
    return enriched, resumed
