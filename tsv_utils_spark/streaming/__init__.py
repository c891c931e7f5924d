from tsv_utils_spark.streaming.dedup_stream import streaming_dedup
from tsv_utils_spark.streaming.sketch_stream import (
    streaming_sketch_agg,
    streaming_windowed_sketch_agg,
)

__all__ = ["streaming_sketch_agg", "streaming_windowed_sketch_agg",
           "streaming_dedup"]
