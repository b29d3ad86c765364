"""CDC envelope parsing (SURVEY.md section 3.2): JSON string ->
``from_json`` with the explicit envelope schema -> flatten ``after.*``
-> cast ISO strings to timestamps — the reference's stream_dims
parse path (stream_dims.py:162-169,178-185) as a pure function usable
from both batch and foreachBatch."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def parse_cdc_envelope(
    raw: DataFrame,
    schema: StructType,
    ts_cast_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``raw`` carries JSON envelope strings in ``value`` (Kafka
    value shape).  Returns op, ts_ms, and the flattened after columns,
    with the named ISO-string columns cast to TIMESTAMP (H7/B2)."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("env")
    ).select("env.op", "env.ts_ms", "env.after.*")
    for c in ts_cast_cols:
        parsed = parsed.withColumn(c, F.col(c).cast("timestamp"))
    return parsed
