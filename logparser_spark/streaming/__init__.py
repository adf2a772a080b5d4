from logparser_spark.streaming.stream import run_streaming_pipeline

__all__ = ["run_streaming_pipeline"]
