from snapflow_spark.streaming.joins import enrich_latest, interval_join
from snapflow_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from snapflow_spark.streaming.runner import (
    run_stream_to_batch,
    stream_from_snapshots,
    stream_to_snapshots,
    streaming_dedupe,
)
from snapflow_spark.streaming.ingest import web_ingest_gate
from snapflow_spark.streaming.stateful import running_user_stats

__all__ = [
    "enrich_latest",
    "interval_join",
    "tumbling_agg",
    "sliding_agg",
    "session_agg",
    "stream_from_snapshots",
    "stream_to_snapshots",
    "run_stream_to_batch",
    "streaming_dedupe",
    "running_user_stats",
    "web_ingest_gate",
]
