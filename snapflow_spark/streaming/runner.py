"""Structured Streaming wrappers (SURVEY.md §2.B.10).

Snapflow's reactive loop processes blocks as they arrive; the true
streaming analogue is a file-source stream over a SnapshotStore
directory — every appended snapshot becomes a micro-batch. Bounded
runs use trigger(availableNow) so tests and the oracle can compare the
final table against batch SQL (SURVEY §5.2).
"""

from __future__ import annotations

import json
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from snapflow_spark.incremental.store import _STREAM
from snapflow_spark.scope import owned, scratch_dir

# snapshot ids one epoch may lose to other writers before it fails
_ID_RETRIES = 100


def stream_from_snapshots(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a snapshot-store directory (new parquet files =
    new micro-batches). Streaming file sources require an explicit
    schema — take it from ``store.read(spark).schema``.

    max_files_per_trigger bounds each micro-batch; without it a bounded
    (availableNow) run drains ALL existing files in one batch, so the
    watermark never advances mid-run — set it when event-time semantics
    across batches matter."""
    reader = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def streaming_dedupe(
    stream: DataFrame, keys: list[str], ts: str, watermark: str
) -> DataFrame:
    """Streaming dedupe (SURVEY §2.B.10): exactly-once keys within the
    watermark horizon — state for a key is dropped once the watermark
    passes, bounding state size on an infinite stream.

    Semantics note (verified empirically on Spark 4.1): the watermark
    bounds STATE, it does not filter late rows — a duplicate arriving
    after its key's state was evicted is re-emitted (at-least-once
    dedupe). Event-time late-row *dropping* is a property of windowed
    aggregations (see tumbling_agg + withWatermark), not dropDuplicates."""
    return stream.withWatermark(ts, watermark).dropDuplicates(keys)


def stream_to_snapshots(
    stream: DataFrame,
    store,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """writeStream -> SnapshotStore: every micro-batch appends one
    immutable snapshot, so downstream *batch* Pipeline nodes consume a
    live stream through the same ledgered incremental path as any
    other source — snapflow's stream/batch unification on Spark.

    Each epoch is published through the store's one commit step
    (``SnapshotStore.publish``) under the next ordinary snapshot id:
    written to an invisible temp dir with its ``_SCHEMA`` record and a
    ``_STREAM`` record ``{query id: batch id}``, and published by one
    rename after the parquet job commits, so concurrent batch Pipeline
    ticks never observe a partial snapshot. A batch id at or below the
    mark the store already holds for the query is a replay (a crash
    after the publish, before Spark committed the batch) and is
    skipped — the ``delta_stream_sink`` / ``iceberg_stream_sink``
    rule. An epoch that loses its id to another writer of the store
    (a Pipeline compacting it, say) publishes under the next one.

    With ``checkpoint=`` the landing is exactly-once: a restart keeps
    the checkpoint's query id. Without it every call makes a fresh
    checkpoint and so a fresh query id: it re-reads the whole source
    and lands it again beside the earlier landing (at-least-once)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the checkpoint's query id: stable across restarts on it
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )

        def stage(tmp: Path) -> None:
            batch_df.write.mode("errorifexists").parquet(str(tmp))
            (tmp / _STREAM).write_text(json.dumps({query_id: batch_id}))

        floor = 0
        for _ in range(_ID_RETRIES):
            if store.stream_marks().get(query_id, -1) >= batch_id:
                return  # replayed batch: already landed
            sid = store._next_id(floor)
            try:
                store.publish(sid, stage, schema=batch_df.schema)
                return
            except FileExistsError:
                floor = int(sid.split("-")[1]) + 1
        raise RuntimeError(
            f"stream epoch {batch_id} lost {_ID_RETRIES} consecutive "
            f"snapshot ids in {store.path}"
        )

    writer = stream.writeStream.foreachBatch(write_batch)
    if not available_now:  # a running query keeps its checkpoint
        checkpoint = checkpoint or tempfile.mkdtemp(prefix="ckpt_")
        return writer.option("checkpointLocation", checkpoint).start()
    with owned():  # a checkpoint made here dies with the finished run
        writer = writer.option("checkpointLocation", checkpoint or scratch_dir("ckpt_"))
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def run_stream_to_batch(
    stream: DataFrame,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> DataFrame:
    """Run a bounded streaming query to completion (availableNow) into
    an in-memory sink and return the final result as a DataFrame."""
    name = f"snapflow_stream_{abs(hash(stream)) % 10**8}"
    with owned():  # the memory sink outlives a checkpoint made here
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint or scratch_dir("ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream.sparkSession.table(name)
