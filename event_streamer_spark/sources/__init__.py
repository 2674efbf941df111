"""Source connectors: files, memory/rate (SURVEY §2.A B1/B2). The Kafka
source is built by ``ConsumerRouter.start`` (A1)."""

from event_streamer_spark.sources.files import read_file_stream

__all__ = ["read_file_stream"]
