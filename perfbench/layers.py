"""Per-layer split of the flagship job (the ``--trace 1`` run).

Spans are taken from outside the program, around calls into each
layer's public functions:

* cumulative prefixes of the flagship — scan, + ``extract_stage``,
  + ``feature_vector``, + as-of enrichment — run in interleaved passes;
  each layer's time is its prefix minus the one before;
* the ``mapInArrow`` worker's busy time, measured inside a wrapper
  around ``transcode_extract_batches`` and returned through an
  accumulator;
* each numpy kernel, timed in-process on one core by wrapping the names
  ``transcode_extract_batches`` calls;
* the snapshot layer, through ``run_checkpointed_pipeline`` into a
  fresh warehouse followed by resumes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KERNELS = ("binary_to_offsets", "decode_auto", "codepoints_to_utf8",
           "extract_text", "utf8_to_codepoints", "codepoint_class_histogram")
BOM_KINDS = ("none", "utf-8", "utf-16le", "utf-16be", "utf-32le", "utf-32be")
SNAPSHOT_TABLES = ("text_extracted", "features", "features_enriched")
BATCH_ROWS = 2000            # the engine's spark.sql.execution.arrow.maxRecordsPerBatch


def prefixes():
    """name -> pages DataFrame -> DataFrame, each one layer longer."""
    from ultraviolet_spark.functions.udfs import extract_stage
    from ultraviolet_spark.pipeline import compute_features, flagship_enriched

    return {
        "scan": lambda pages: pages,
        "extract": lambda pages: extract_stage(pages, with_features=True),
        "features": compute_features,
        "full": flagship_enriched,
    }


def _timed_batches(batches, html_col, with_features, busy):
    """Run ``transcode_extract_batches`` and add to ``busy`` the seconds
    it spent computing, i.e. excluding the time it waited for input
    batches from the JVM."""
    from time import perf_counter_ns

    from ultraviolet_spark.functions.udfs import transcode_extract_batches

    waited = 0

    def source():
        nonlocal waited
        it = iter(batches)
        while True:
            t = perf_counter_ns()
            try:
                b = next(it)
            except StopIteration:
                return
            finally:
                waited += perf_counter_ns() - t
            yield b

    out = transcode_extract_batches(source(), html_col, with_features)
    spent = 0
    while True:
        t, w = perf_counter_ns(), waited
        try:
            b = next(out)
        except StopIteration:
            break
        finally:
            spent += perf_counter_ns() - t - (waited - w)
        yield b
    busy.add(spent / 1e9)


class TracedExtract:
    """Context manager: inside it, while ``active`` is set,
    ``pipeline.extract_stage`` builds the same mapInArrow stage (same
    input, same schema) around ``_timed_batches``; ``busy`` accumulates
    the workers' compute time.  ``calls`` counts the stages it built, so
    a pipeline that no longer goes through ``extract_stage`` shows up
    as 0."""

    def __init__(self, sc):
        self.busy = sc.accumulator(0.0)
        self.calls = 0
        self.active = False

    def __enter__(self):
        import sys

        from pyspark import cloudpickle

        from ultraviolet_spark import pipeline

        # workers cannot import this file: ship _timed_batches by value
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        from ultraviolet_spark.functions.udfs import extract_stage

        self._orig = pipeline.extract_stage
        busy = self.busy

        def traced(pages, html_col="html", with_features=False):
            if not self.active:
                return extract_stage(pages, html_col, with_features)
            self.calls += 1
            schema = extract_stage(pages, html_col, with_features).schema
            src = pages.select(*[c for c in pages.columns if c != "text"])
            return src.mapInArrow(
                lambda it: _timed_batches(it, html_col, with_features, busy),
                schema=schema)

        pipeline.extract_stage = traced
        return self

    def __exit__(self, *exc):
        from ultraviolet_spark import pipeline

        pipeline.extract_stage = self._orig
        return False


def kernel_split(pages_path: str) -> dict:
    """Per-kernel seconds of ``transcode_extract_batches`` run in-process
    on the input's own batches of BATCH_ROWS rows, plus exact counts
    from its output columns.  A kernel the stage no longer calls
    reads 0."""
    from ultraviolet_spark.functions import udfs

    tbl = pq.read_table(pages_path)
    tbl = tbl.set_column(tbl.schema.get_field_index("html"), "html",
                         tbl.column("html").cast(pa.large_binary()))
    batches = tbl.combine_chunks().to_batches(max_chunksize=BATCH_ROWS)
    html_mb = sum(pc.sum(pc.binary_length(b.column("html"))).as_py() or 0
                  for b in batches) / 1e6

    spent = dict.fromkeys(KERNELS, 0)
    saved = {}

    def wrap(name, fn):
        def timed(*a, **kw):
            t = time.perf_counter_ns()
            try:
                return fn(*a, **kw)
            finally:
                spent[name] += time.perf_counter_ns() - t
        return timed

    for name in KERNELS:
        if hasattr(udfs, name):
            saved[name] = getattr(udfs, name)
            setattr(udfs, name, wrap(name, saved[name]))
    counts = Counter()
    try:
        for b in batches:
            nulls = b.column("html").is_null().to_numpy(zero_copy_only=False)
            for out in udfs.transcode_extract_batches(iter([b]), "html", True):
                n_repl = out.column("n_replacements").to_numpy()
                counts["rows_replaced"] += int((n_repl > 0).sum())
                counts["replacements"] += int(n_repl.sum())
                counts["null_rows"] += int(nulls.sum())
                bom = out.column("bom").to_numpy(zero_copy_only=False)
                counts.update(f"bom_rows.{k}" for k in bom[~nulls])
    finally:
        for name, fn in saved.items():
            setattr(udfs, name, fn)
    out = {f"kernels.{k}_s": v / 1e9 for k, v in spent.items()}
    out["kernels.mb_per_s"] = html_mb / max(sum(spent.values()) / 1e9, 1e-9)
    for k in ("rows_replaced", "replacements", "null_rows"):
        out[f"kernels.{k}"] = counts[k]
    for k in BOM_KINDS:
        out[f"kernels.bom_rows.{k}"] = counts[f"bom_rows.{k}"]
    return out


def snapshot_layer(spark, pages_path: str, warehouse: str, html_bytes: int,
                   materialize, resumes: int = 3) -> dict:
    """One checkpointed run into a fresh warehouse, then ``resumes``
    runs that must skip every stage."""
    from ultraviolet_spark.pipeline import run_checkpointed_pipeline
    from ultraviolet_spark.plans.snapshots import ParquetSnapshotFormat

    shutil.rmtree(warehouse, ignore_errors=True)
    pages = spark.read.parquet(pages_path)
    key = os.path.basename(pages_path)
    enriched, resumed = run_checkpointed_pipeline(spark, pages, warehouse,
                                                  inputs_key=key)
    materialize(enriched)
    if any(resumed.values()):
        raise RuntimeError(f"fresh warehouse resumed a stage: {resumed}")
    times = []
    for _ in range(resumes):
        t0 = time.perf_counter()
        enriched, resumed = run_checkpointed_pipeline(spark, pages, warehouse,
                                                      inputs_key=key)
        materialize(enriched)
        times.append(time.perf_counter() - t0)
        if not all(resumed.values()):
            raise RuntimeError(f"resume recomputed a stage: {resumed}")

    fmt = ParquetSnapshotFormat(warehouse)
    out = {"snapshots.resume_s": statistics.median(times)}
    written = files = 0
    for table in SNAPSHOT_TABLES:
        snap = fmt.snapshots(table)[-1]
        written += snap.bytes
        files += snap.n_files
        row = fmt.lineage(spark, table).agg(
            {"started_utc": "min", "finished_utc": "max"}).collect()[0]
        out[f"snapshots.stage_s.{table}"] = (row["max(finished_utc)"]
                                            - row["min(started_utc)"])
    out["snapshots.bytes_written"] = written
    out["snapshots.files_written"] = files
    out["snapshots.stored_bytes_per_input_byte"] = written / html_bytes
    shutil.rmtree(warehouse, ignore_errors=True)
    return out
