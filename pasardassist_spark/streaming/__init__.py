from pasardassist_spark.streaming.dedup import streaming_dedup
from pasardassist_spark.streaming.dynamic import (
    process_collection_batch,
    register_collection,
    registered_collections,
)
from pasardassist_spark.streaming.generations import admitted_events, start_epochs
from pasardassist_spark.streaming.ingest import (
    append_into_bucketed_state,
    apply_entity_batch,
    maintain_latest_state,
    merge_into_bucketed_state,
    read_event_stream,
    read_lsm_state,
    read_state,
    stage_file_source,
    streaming_day_rollup,
)
from pasardassist_spark.streaming.stats import (
    apply_stats_batch,
    collection_stats_from_state,
)

__all__ = [
    "start_epochs",
    "read_event_stream",
    "apply_entity_batch",
    "maintain_latest_state",
    "merge_into_bucketed_state",
    "append_into_bucketed_state",
    "read_lsm_state",
    "read_state",
    "stage_file_source",
    "streaming_day_rollup",
    "streaming_dedup",
    "apply_stats_batch",
    "collection_stats_from_state",
    "admitted_events",
    "process_collection_batch",
    "register_collection",
    "registered_collections",
]
