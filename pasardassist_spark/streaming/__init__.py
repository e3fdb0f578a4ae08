from pasardassist_spark.streaming.dedup import streaming_dedup
from pasardassist_spark.streaming.dynamic import (
    dynamic_collection_sink,
    process_collection_batch,
    register_collection,
    registered_collections,
)
from pasardassist_spark.streaming.generations import admitted_events
from pasardassist_spark.streaming.ingest import (
    append_into_bucketed_state,
    maintain_entity_state,
    maintain_latest_state,
    merge_into_bucketed_state,
    read_event_stream,
    read_lsm_state,
    read_state,
    stage_file_source,
    streaming_day_rollup,
)
from pasardassist_spark.streaming.stats import (
    collection_stats_from_state,
    maintain_collection_stats,
)

__all__ = [
    "read_event_stream",
    "maintain_entity_state",
    "maintain_latest_state",
    "merge_into_bucketed_state",
    "append_into_bucketed_state",
    "read_lsm_state",
    "read_state",
    "stage_file_source",
    "streaming_day_rollup",
    "streaming_dedup",
    "maintain_collection_stats",
    "collection_stats_from_state",
    "admitted_events",
    "dynamic_collection_sink",
    "process_collection_batch",
    "register_collection",
    "registered_collections",
]
