"""Structured Streaming surface (SURVEY.md §2.8 T1-T7, §2.9 U3)."""

from open_data_lakehouse_demo_spark.streaming.job import (  # noqa: F401
    BUS_DATA_SCHEMA,
    ENVELOPE_SCHEMA,
    alerts_stream,
    deduped_updates,
    enriched_alerts,
    kafka_sink,
    kafka_source,
    latest_state_agg,
    windowed_boardings,
    latest_state_stateful,
    parse_envelope,
    read_json_stream,
    relief_join,
    run_pipeline,
    session_boardings,
    upsert_state_sink,
)
from open_data_lakehouse_demo_spark.streaming.manager import (  # noqa: F401
    StreamingWorkerManager,
)
from open_data_lakehouse_demo_spark.streaming.replay import (  # noqa: F401
    emission_schedule,
    events_as_bus_updates,
    replay_to_json_files,
)
from open_data_lakehouse_demo_spark.streaming.rollups import (  # noqa: F401
    windowed_ohlc,
)
