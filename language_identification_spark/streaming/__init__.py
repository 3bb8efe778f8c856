from language_identification_spark.streaming.jobs import (
    run_stream_once,
    streaming_docs_c4,
    streaming_pages_filter,
)

__all__ = [
    "run_stream_once",
    "streaming_docs_c4",
    "streaming_pages_filter",
]
