"""Sources: batch parquet scans and the streaming readers.

The reference reads Kafka (``streaming_job.py:190-196``) and Iceberg
(``verify_medallion.py:13,40``).  This engine's equivalents:

- batch: ``spark.read.parquet`` (vectorized reader, predicate pushdown,
  column pruning — free via Catalyst, SURVEY.md section 4 O2/O3);
- streaming: ``kafka_stream`` when the Kafka package is on the
  classpath, or a file/parquet stream for deterministic replay tests
  (SURVEY.md section 5.2);
- CDC: ``parse_cdc_envelope`` unwraps the Debezium-style envelope.
"""

from .tables import fan_out, load_table, register_views
from .filestream import (
    file_stream,
    kafka_reader_options,
    kafka_stream,
    parse_kafka_json,
)
from .cdc import parse_cdc_envelope

__all__ = [
    "fan_out",
    "load_table",
    "register_views",
    "file_stream",
    "kafka_reader_options",
    "kafka_stream",
    "parse_kafka_json",
    "parse_cdc_envelope",
]
