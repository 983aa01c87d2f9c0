from streamprocessing_spark.streaming.replay import (
    stream_table,
    run_to_memory_sink,
)

__all__ = ["stream_table", "run_to_memory_sink"]
