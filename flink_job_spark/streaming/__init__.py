"""Streaming twins of the batch operators (see SURVEY.md §2 row 40-43).

Every streaming operator in this package is the same mechanism, the
Structured Streaming recast of the reference's hand-built exactly-once
source (SURVEY §2.7): a parquet file stream drained by
``Trigger.AvailableNow`` into a ``foreachBatch`` body, with offsets in a
checkpoint. :func:`file_stream` and :func:`drain` are the one place that
mechanism is spelled out; each module supplies only its per-epoch body.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def file_stream(spark: SparkSession, src_dir: str, schema: T.StructType,
                max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming DataFrame over the parquet files in ``src_dir`` (a
    streaming read needs its schema up front).

    ``max_files_per_trigger`` caps how many new files one micro-batch
    takes; ``None`` means no cap, so an availableNow drain takes everything
    pending in one batch (never a silent coercion to 1-file batches). The
    cap sits on the source because that is where Spark reads it: set on
    ``writeStream`` it is silently ignored. Bounding each epoch's input is
    the Structured Streaming stand-in for the reference's backpressure: it
    keeps sink pressure and per-epoch state flat, and maps unchanged onto
    other sources' per-trigger caps (Kafka ``maxOffsetsPerTrigger``)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def drain(stream_df: DataFrame, batch_fn: Callable[[DataFrame, int], None],
          checkpoint_dir: str) -> None:
    """Run ``batch_fn(batch_df, batch_id)`` on every micro-batch of
    ``stream_df`` that is available now, then stop.

    Offsets live in ``checkpoint_dir``; an epoch's offsets commit only after
    ``batch_fn`` returns. A rerun on the same checkpoint therefore processes
    only input that arrived since, and an epoch whose ``batch_fn`` raised is
    replayed by the next run (``batch_fn`` must tolerate that replay). Blocks
    until the drain ends; a raise inside ``batch_fn`` surfaces here as
    ``StreamingQueryException``."""
    (stream_df.writeStream
        .foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination())
