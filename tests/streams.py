"""Test harness for streaming queries: run a streaming frame to completion
against a static input and read its output back as a batch frame."""

from pyspark.sql import DataFrame


def drain_to_memory(stream: DataFrame, query_name: str) -> DataFrame:
    """Write ``stream`` to the memory sink in append mode, process all
    available input, stop the query and return the sink's table."""
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream.sparkSession.sql(f"SELECT * FROM {query_name}")
