"""Deterministic file-based streaming source for tests.

The reference's streams are Kafka topics replayed into micro-batches
(``stream_content.py:93-98``).  The driver environment has no Kafka, so
streaming semantics (watermarks, tumbling windows, foreachBatch merge)
are exercised by replaying fixture parquet/json files through
``spark.readStream`` — same micro-batch engine, deterministic input
(SURVEY.md section 5.2).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamReader
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
):
    """``readStream`` over a directory of fixture files.

    ``maxFilesPerTrigger=1`` makes each fixture file one micro-batch —
    the deterministic analogue of the reference's
    ``maxOffsetsPerTrigger`` rate limit (``streaming_job.py:195``).
    """
    reader: DataStreamReader = spark.readStream.format(fmt).schema(schema)
    return reader.option("maxFilesPerTrigger", "1").load(path)


def kafka_reader_options(
    bootstrap: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 5000,
    fail_on_data_loss: bool | None = None,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """The reader-options dict for the Kafka source, reference parity
    (``streaming_job.py:190-196``: bootstrap servers, subscribe,
    ``startingOffsets=earliest``, ``maxOffsetsPerTrigger=5000``).

    Pure option mapping — unit-testable without a broker.
    ``maxOffsetsPerTrigger`` is the per-micro-batch rate limit that
    keeps one restart-after-downtime from turning into a single
    giant batch; ``failOnDataLoss=false`` is the standard production
    setting once retention can outrun a stalled consumer."""
    opts = {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if fail_on_data_loss is not None:
        opts["failOnDataLoss"] = "true" if fail_on_data_loss else "false"
    if extra:
        opts.update(extra)
    return opts


def parse_kafka_json(df, value_schema):
    """The reference's wire-decode stage (``streaming_job.py:199-202``):
    cast the Kafka ``value`` bytes to string, ``from_json`` with the
    explicit schema, flatten ``data.*`` and keep the broker timestamp.

    Separated from the reader so it unit-tests on a static DataFrame
    carrying the Kafka wire columns (``value binary, timestamp
    timestamp``) — same plan, no broker."""
    from pyspark.sql import functions as F

    return df.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("data"),
        F.col("timestamp").alias("kafka_ts"),
    ).select("data.*", "kafka_ts")


def kafka_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 5000,
    value_schema: StructType | str | None = None,
    **kw,
):
    """A1: Kafka streaming source, reference parity
    (``streaming_job.py:190-202``).  With ``value_schema`` the stream
    is wire-decoded via :func:`parse_kafka_json`; without it the raw
    Kafka columns come back.

    Requires the spark-sql-kafka package on the classpath; not present
    in the test container — the option mapping and the decode stage
    are covered by broker-less unit tests instead.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap, topic, starting_offsets, max_offsets_per_trigger, **kw
    ).items():
        reader = reader.option(k, v)
    out = reader.load()
    if value_schema is not None:
        out = parse_kafka_json(out, value_schema)
    return out
