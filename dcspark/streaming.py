"""Streaming validation: contract checks over a Structured Streaming source.

The reference batch-reads Kafka earliest->latest
(/root/reference/datacontract/engines/soda/connections/kafka.py:46-73 — it
does NOT stream). This module is the true-streaming extension (SURVEY.md
§2.3): ``readStream`` -> per-micro-batch validation via ``foreachBatch``, with
per-batch Run results appended to an in-memory history and (optionally) a
results sink. Checks that need global state (unique, referential vs static
dims, drift vs a reference snapshot) run per batch — uniqueness is
within-batch plus an optional cross-batch key-count state table.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field as dc_field
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import ValidationConfig, ValidationResult, validate
from .run_model import Run
from .spec import DataContractSpecification, to_spark_schema


@dataclass
class StreamValidation:
    """Handle for a running stream validation."""

    query: "object"  # StreamingQuery
    # bounded (max_history): an always-on stream appends one result per
    # micro-batch forever, each pinning Run objects + a violations frame —
    # consume per-batch state via on_batch; await_batches counts
    # total_batches, not the trimmed tail
    history: List[ValidationResult] = dc_field(default_factory=list)
    max_history: int = 1000
    total_batches: int = 0
    _lock: threading.Lock = dc_field(default_factory=threading.Lock)

    def _record(self, result: ValidationResult) -> None:
        with self._lock:
            self.total_batches += 1
            self.history.append(result)
            if len(self.history) > self.max_history:
                del self.history[:len(self.history) - self.max_history]

    def stop(self) -> None:
        self.query.stop()

    def runs(self) -> List[Run]:
        with self._lock:
            return [r.run for r in self.history]

    def await_batches(self, n: int, timeout_s: float = 60.0) -> bool:
        """Block until >= n batches validated (or timeout)."""
        import time

        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.total_batches >= n:
                    return True
            time.sleep(0.2)
        return False


def validate_stream(
    spark: SparkSession,
    spec: DataContractSpecification,
    stream_df: DataFrame,
    model_name: str,
    static_tables: Optional[Dict[str, DataFrame]] = None,
    config: Optional[ValidationConfig] = None,
    results_sink: Optional[str] = None,
    on_batch: Optional[Callable[[int, ValidationResult], None]] = None,
    trigger_seconds: Optional[float] = None,
    checkpoint_location: Optional[str] = None,
) -> StreamValidation:
    """Attach contract validation to a streaming DataFrame via foreachBatch.

    Each micro-batch is validated as a bounded table (the engine's whole check
    suite applies); results rows are appended to ``results_sink`` (parquet)
    when given. ``static_tables`` supplies reference/dimension tables for
    referential checks — at scale these are broadcast by the engine.
    """
    handle_ref: dict = {}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tables = {model_name: batch_df}
        if static_tables:
            tables.update(static_tables)
        result = validate(spark, spec, tables, config)
        handle_ref["handle"]._record(result)
        if results_sink:
            # explicit schema: an all-pass batch has every reason NULL,
            # which would fail dict type inference
            from .engine import RESULTS_DDL, rows_frame

            rows = rows_frame(spark, result.results, RESULTS_DDL)
            rows.withColumn("batch_id", F.lit(batch_id)) \
                .write.mode("append").parquet(results_sink)
        if on_batch:
            on_batch(batch_id, result)

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode("append")
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    # construct + publish the handle BEFORE start(): with data already queued
    # (file source) the stream thread can run process_batch the instant the
    # query starts, and handle_ref["handle"] must already resolve — the
    # wap_stream pattern (a KeyError here would kill batch 0)
    handle = StreamValidation(query=None)
    handle_ref["handle"] = handle
    handle.query = writer.start()
    return handle


def read_json_stream(
    spark: SparkSession,
    spec: DataContractSpecification,
    model_name: str,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source JSON stream decoded with the contract schema (the streaming
    analog of the reference's Kafka from_json path, kafka.py:98-114)."""
    schema = to_spark_schema(spec.models[model_name])
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def stateful_duplicate_stream(
    stream_df: DataFrame,
    key_col: str = "clip_id",
) -> DataFrame:
    """Cross-batch uniqueness: cumulative per-key occurrence counts via
    ``applyInPandasWithState`` (the custom-stateful-operator path).

    Per-batch validation can only see within-batch duplicates; this keeps a
    per-key running count in the state store, so a clip_id arriving in batch
    40 that was first seen in batch 3 is flagged. Emits one row per key per
    batch it appears in: (key, new_rows, occurrences, dup). State is one long
    per distinct key, hash-partitioned by the groupBy — the same shape as the
    batch engine's salted unique count, but incremental. At 10^12 keys the
    state store is RocksDB
    (``spark.sql.streaming.stateStore.providerClass``) and keys expire via a
    TTL timeout; the sandbox test path uses the default HDFS-backed store.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} string, new_rows long, occurrences long, dup boolean"
    state_schema = "occurrences long"

    def track(key, pdfs, state) -> "object":
        import pandas as pd

        new = sum(len(p) for p in pdfs)
        prev = state.get[0] if state.exists else 0
        total = prev + new
        state.update((total,))
        yield pd.DataFrame({
            key_col: [key[0]],
            "new_rows": [new],
            "occurrences": [total],
            "dup": [total > 1],
        })

    return (
        stream_df.select(F.col(key_col).cast("string").alias(key_col))
        .groupBy(key_col)
        .applyInPandasWithState(
            track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def windowed_drift_psi(
    stream_df: DataFrame,
    column: str,
    stats: dict,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Continuous PSI drift vs a reference snapshot, per event-time window.

    The always-on drift monitor: the snapshot's bin edges become when-sum
    aggregates inside a watermarked window aggregation (state bounded by
    windows x bins), and the PSI fold — sum (p-q) ln(p/q) with the SAME
    epsilon smoothing as the batch engine (drift.drift_statistic) — is a
    literal-weighted column expression over each window's counts. Everything
    stays in streaming SQL: no foreachBatch, no Python, works identically on
    a bounded DataFrame (batch == streaming semantics, test-locked).
    """
    from . import drift as drift_mod

    ref_probs = stats["bin_probs"]
    n_bins = drift_mod.n_bins(stats)
    if "categories" in stats:
        # categorical snapshot: bucket by category position (+ OTHER), same
        # when-sum shape as the numeric edges
        bucket = drift_mod.cat_bucket_expr(column, stats["categories"])
        bins = [
            F.coalesce(F.sum(F.when(
                F.col(column).isNotNull() & (bucket == k), 1).otherwise(0)),
                F.lit(0)).alias(f"__b{k}")
            for k in range(n_bins)
        ]
    else:
        edges = stats["bin_edges"]
        bins = [drift_mod._bin_count_expr(column, edges, k).alias(f"__b{k}")
                for k in range(n_bins)]
    agg = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count(F.lit(1)).alias("rows"), *bins)
    )
    binned = sum(F.col(f"__b{k}") for k in range(n_bins))
    total = F.greatest(binned, F.lit(1)).cast("double")
    terms = []
    for k, q_ref in enumerate(ref_probs):
        p = F.greatest(F.col(f"__b{k}") / total, F.lit(drift_mod.EPS))
        q = F.lit(max(float(q_ref), drift_mod.EPS))
        terms.append((p - q) * F.log(p / q))
    psi = terms[0]
    for t in terms[1:]:
        psi = psi + t
    # a window whose monitored column is entirely NULL has zero evidence:
    # the batch engine (drift_statistic) abstains with None there, and the
    # clamped bins would otherwise report a maximal ~13.8 false alarm
    psi = F.when(binned > 0, psi)
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "rows",
        psi.alias("psi"),
    )


def windowed_invalid_counts(
    stream_df: DataFrame,
    predicate,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Continuous windowed violation counts with late-data handling — the
    always-on monitoring companion to per-batch validation (watermark bounds
    state; counts are append-only per closed window)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(predicate, 1).otherwise(0)).alias("invalid"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rows", "invalid",
        )
    )


# ---------------------------------------------------------------------------
# Iceberg snapshot polling: incremental validation without a streaming source
# ---------------------------------------------------------------------------


def validate_iceberg_increments(
    spark: SparkSession,
    spec: DataContractSpecification,
    table_location: str,
    model_name: str,
    state_path: str,
    static_tables: Optional[Dict[str, DataFrame]] = None,
    config: Optional[ValidationConfig] = None,
    results_sink: Optional[str] = None,
) -> Optional[ValidationResult]:
    """One poll of an Iceberg table: validate ONLY rows appended since the
    last validated snapshot.

    The production shape for continuously-landing corpora: a scheduler calls
    this per tick; the first call validates the whole table, every later
    call plans `incremental_files(last_snapshot)` (manifest-level
    sequence-number skip — already-validated history is never rescanned,
    matching the north rule's "resumable from a checkpoint manifest" at
    table granularity, on top of the engine's per-partition lineage).

    `state_path` is a JSON file holding the last validated snapshot id; it
    is advanced ATOMICALLY (tmp + rename) only after the run completes, so
    a crashed run re-validates its increment instead of skipping it.
    Returns None when there is nothing new.
    """
    import json
    import os
    import uuid as _uuid

    from .iceberg import IcebergTable

    t = IcebergTable(table_location)
    current = t.current_snapshot_id()
    if current is None:
        return None
    last = None
    if os.path.exists(state_path):
        with open(state_path) as f:
            last = json.load(f).get("last_snapshot_id")
    if last == current:
        return None
    if last is None:
        df = t.read(spark, snapshot_id=current)
    else:
        df = t.read_incremental(spark, last, current)
    tables = {model_name: df}
    if static_tables:
        tables.update(static_tables)
    result = validate(spark, spec, tables, config)
    if results_sink:
        from .engine import RESULTS_DDL, rows_frame
        from .io import write_results

        rows = rows_frame(spark, result.results, RESULTS_DDL) \
            .withColumn("snapshot_id", F.lit(current).cast("long"))
        write_results(rows, results_sink, fmt="iceberg")
    tmp = state_path + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"last_snapshot_id": current}, f)
    os.replace(tmp, state_path)
    return result
