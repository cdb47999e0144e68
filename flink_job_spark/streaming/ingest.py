"""Structured Streaming snapshot ingest — the streaming-native recast of the
reference's exactly-once resumable source (SURVEY §2.7, milestone 3).

The reference implements exactly-once with a checkpointed row-offset
(`ListState<Long>` snapshot/restore, mis:1019-1059) and 60s EXACTLY_ONCE
checkpoints (mis:151-160). In Spark the whole mechanism IS the Structured
Streaming checkpoint: the source's offset log records which input is
committed; `Trigger.AvailableNow` drains all available input then stops —
a restartable, exactly-once bounded snapshot, strictly stronger than SKIP-n
resume (offsets commit atomically with the sink epoch).

Two sources share one audited path: a parquet file stream
(:func:`stream_snapshot_ingest_audited`) and the paged keyed-cursor JDBC
stand-in (:func:`stream_paged_ingest_audited`). Both stamp the batch
pipeline's envelope builder (``with_envelope``) and sink-side hash
(``row_hash_sql_expr``) onto the stream, then drain it through
``_audited_batch_sink``, which writes each epoch and runs the batch
pipeline's COUNT + mismatch audit (``run_consistency_check``) on what landed.
The batch pipeline keeps its own copy of the stamp around its write.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_job_spark.functions.hashing import row_hash_sql_expr
from flink_job_spark.operators.audit import AuditReport, run_consistency_check
from flink_job_spark.operators.envelope import tech_column_names, with_envelope
from flink_job_spark.pipeline import ConsistencyError
from flink_job_spark.streaming import drain, file_stream


def stream_snapshot_ingest_audited(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    target_dir: str,
    checkpoint_dir: str,
    src_system_code: str = "mis",
    load_dttm: dt.datetime | None = None,
    fail_on_consistency_error: bool = True,
    row_hash=None,
    max_files_per_trigger: int | None = None,
) -> list[AuditReport]:
    """Streaming ingest of the parquet files under ``src_dir`` with the
    batch pipeline's COUNT+mismatch gate wired into a ``foreachBatch`` sink:
    every micro-batch is written AND audited (dual-hash mismatch count,
    exact per-batch row count) before its offsets commit — the streaming
    twin of the post-load audit (mis:1264-1331). Re-running after new files
    arrive processes ONLY the new files (the resume semantics the reference
    builds by hand with SKIP-n); ``max_files_per_trigger`` splits the drain
    into bounded epochs (see :func:`~flink_job_spark.streaming.file_stream`).

    With ``fail_on_consistency_error`` a mismatching batch raises
    :class:`~flink_job_spark.pipeline.ConsistencyError` inside foreachBatch,
    which fails the streaming query BEFORE the offending batch's offsets are
    committed — on restart the batch is reprocessed, so corrupt data never
    silently advances the stream (the reference's rethrow semantics,
    mis:365-368, made exactly-once).

    ``row_hash`` overrides the source-side hash column (the audit exists
    precisely because the two hash implementations are independent inputs).
    Returns the per-batch :class:`AuditReport` ledger."""
    src = file_stream(spark, src_dir, schema, max_files_per_trigger)
    return _ingest_audited(spark, src, target_dir, checkpoint_dir, src_system_code,
                           load_dttm, fail_on_consistency_error, row_hash)


def stream_paged_ingest_audited(
    spark: SparkSession,
    cutoff: int,
    target_dir: str,
    checkpoint_dir: str,
    fetch_size: int = 1000,
    src_system_code: str = "mis",
    load_dttm: dt.datetime | None = None,
    fail_on_consistency_error: bool = True,
    row_hash=None,
):
    """The FULL reference-pipeline streaming twin, end to end: the paged
    keyed-cursor SOURCE (sources/paged.py — the reference's fetch-size-paged
    JDBC read whose streaming offset log carries the last committed key)
    composed with the audited exactly-once SINK (`_audited_batch_sink` —
    per-epoch COUNT + dual-hash mismatch gate before offsets commit).

    Semantics under failure, proven in tests/test_streaming.py:
    - a restart with a HIGHER cutoff and the same checkpoint reads only
      (committed_key, new_cutoff] — nothing re-read, nothing skipped;
    - an injected hash corruption raises ConsistencyError inside
      foreachBatch BEFORE the epoch's offsets commit, so a corrected restart
      reprocesses that epoch and the sink holds each key exactly once.

    Returns the per-batch :class:`AuditReport` ledger."""
    from flink_job_spark.sources.paged import register_paged_source

    register_paged_source(spark)
    src = (
        spark.readStream.format("paged_cursor")
        .option("cutoff", cutoff)
        .option("fetch_size", fetch_size)
        .load()
    )
    return _ingest_audited(spark, src, target_dir, checkpoint_dir, src_system_code,
                           load_dttm, fail_on_consistency_error, row_hash)


def _ingest_audited(spark: SparkSession, src: DataFrame, target_dir: str,
                    checkpoint_dir: str, src_system_code: str,
                    load_dttm: dt.datetime | None,
                    fail_on_consistency_error: bool, row_hash) -> list[AuditReport]:
    """Stamp envelope + sink-side hash + ``load_month`` onto ``src`` and
    drain it through the audited sink; returns the per-batch ledger."""
    src_cols = list(src.columns)
    names = tech_column_names(src_cols)
    out = (
        with_envelope(src, src_system_code,
                      load_dttm=load_dttm or dt.datetime.now(), row_hash=row_hash)
        .withColumn(names["row_hash_iceberg"],
                    F.expr(row_hash_sql_expr(src.schema, src_cols)))
        .withColumn("load_month",
                    F.date_format(F.col(names["load_dttm"]), "yyyy-MM"))
    )
    reports: list[AuditReport] = []
    drain(out, _audited_batch_sink(spark, target_dir, names, reports,
                                   fail_on_consistency_error), checkpoint_dir)
    return reports


def _audited_batch_sink(spark: SparkSession, target_dir: str, names: dict,
                        reports: list, fail_on_consistency_error: bool):
    """The shared write-and-audit ``foreachBatch`` body: idempotent
    batch_id-partitioned dynamic overwrite, then audit what actually LANDED
    (re-read from the sink) before the epoch's offsets may commit."""

    def write_and_audit(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            # batch_id partition + dynamic overwrite: a REPLAYED batch (crash
            # before offset commit, or the ConsistencyError path itself)
            # overwrites its own partition instead of appending a duplicate
            # copy per retry
            (batch_df.withColumn("batch_id", F.lit(batch_id))
                .write
                .partitionBy("batch_id", "load_month")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(target_dir))
            n = batch_df.count()
            # audit what actually LANDED: re-read the written partition so the
            # count half of the gate is real (auditing the in-memory batch
            # twice made delta == 0 by construction)
            tgt = spark.read.parquet(target_dir).filter(
                F.col("batch_id") == batch_id)
            report = run_consistency_check(
                f"batch:{batch_id}", n, tgt,
                h1=names["row_hash"], h2=names["row_hash_iceberg"])
            reports.append(report)
            if not report.ok and fail_on_consistency_error:
                raise ConsistencyError(f"batch:{batch_id}", report)
        finally:
            batch_df.unpersist()

    return write_and_audit
