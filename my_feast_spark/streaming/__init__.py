from my_feast_spark.streaming.online import materialize_stream
from my_feast_spark.streaming.scd2 import read_scd2_table, scd2_maintain_stream
from my_feast_spark.streaming.ingest import (
    capture_to_parquet,
    dedup_ingest_stream,
    embedding_dedup_ingest_stream,
    near_dedup_ingest_stream,
    read_event_stream,
    run_to_memory_table,
    sessionize,
    streaming_dedup,
    tumbling_window_agg,
)
from my_feast_spark.streaming.versioned import (
    mirror_changes_stream,
    versioned_ingest_stream,
)
from my_feast_spark.streaming.sketches import (
    cms_ingest_stream,
    compact_cms,
    hll_ingest_stream,
    hll_stream_estimate,
    kmv_ingest_stream,
    read_cms_sketch,
    read_hll_sketch,
    read_kmv_sketch,
)

__all__ = [
    "capture_to_parquet",
    "dedup_ingest_stream",
    "embedding_dedup_ingest_stream",
    "near_dedup_ingest_stream",
    "materialize_stream",
    "read_event_stream",
    "read_scd2_table",
    "scd2_maintain_stream",
    "run_to_memory_table",
    "sessionize",
    "streaming_dedup",
    "tumbling_window_agg",
    "hll_ingest_stream",
    "read_hll_sketch",
    "hll_stream_estimate",
    "cms_ingest_stream",
    "read_cms_sketch",
    "compact_cms",
    "kmv_ingest_stream",
    "read_kmv_sketch",
    "versioned_ingest_stream",
    "mirror_changes_stream",
]
