"""Structured Streaming wrappers (SURVEY.md §2.B.10).

Snapflow's reactive loop processes blocks as they arrive; the true
streaming analogue is a file-source stream over a SnapshotStore
directory — every appended snapshot becomes a micro-batch. Bounded
runs use trigger(availableNow) so tests and the oracle can compare the
final table against batch SQL (SURVEY §5.2).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from snapflow_spark.scope import owned, scratch_dir


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

    foreachBatch gives exactly-once per epoch via the checkpoint: a
    replayed epoch re-runs the function, and the store append is made
    idempotent by naming the snapshot after the epoch id. Each epoch
    is written to a dot-prefixed temp dir (invisible to
    snapshot_ids()) and os.rename()d into place only after the
    parquet job commits, so concurrent batch Pipeline ticks can never
    observe a partially written snapshot; snapshot_ids() additionally
    requires the _SUCCESS marker."""
    import os
    import shutil

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sid = f"snapshot-{epoch_id:06d}-stream"
        target = store.path / sid
        tmp = store.path / f".{sid}.tmp"
        if tmp.exists():
            shutil.rmtree(tmp)
        batch_df.write.mode("errorifexists").parquet(str(tmp))
        if target.exists():
            # Replayed epoch: swap via two renames, not rmtree-then-
            # rename. POSIX has no atomic directory replace, so the
            # committed dir IS absent for the instant between the two
            # renames — but the window shrinks from a full recursive
            # delete to two rename syscalls, and SnapshotStore.read()
            # retries a vanished listed dir to cover exactly it. The
            # dot-prefixed retired dir is invisible to snapshot_ids().
            retired = store.path / f".{sid}.retired"
            if retired.exists():
                shutil.rmtree(retired)
            os.rename(target, retired)
            os.rename(tmp, target)
            shutil.rmtree(retired)
        else:
            os.rename(tmp, target)

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
