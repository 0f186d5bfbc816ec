"""The Kafka JSON record parse/serialize pair.

The reference's producer sends keyed JSON (key=city for per-key
ordering, gzip, acks=all — weather_producer.py:146-154) and its consumer
reads with a group id + manual commit (kafka_consumer_s3.py:127-135).
The live transport is the kafka-wire datasource (streaming/kafkawire.py);
the record transformations here are plain column logic over
(key, value, partition, offset, timestamp) frames — which is the point:
the analytical code is identical whether rows arrive from Kafka or
parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# JSON timestamp format carrying full µs precision for record
# round-trips (Spark's default truncates to millis). ONE definition —
# the produce and parse sides must always agree (review r6: the string
# existed in four places).
TS_FMT_MICROS = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def parse_json_records(
    kafka_df: DataFrame,
    payload_schema: T.StructType,
    json_options: dict[str, str] | None = None,
) -> DataFrame:
    """S2 as a Spark transformation: binary JSON value → typed columns,
    carrying the Kafka metadata the reference keeps
    (_kafka_partition/_kafka_offset/_kafka_timestamp,
    kafka_consumer_s3.py:213-217). Malformed payloads yield nulls
    (PERMISSIVE from_json) instead of dropping the message.
    """
    parsed = F.from_json(
        F.col("value").cast("string"), payload_schema, json_options or {}
    )
    return kafka_df.select(
        parsed.alias("r"),
        F.col("partition").alias("_kafka_partition"),
        F.col("offset").alias("_kafka_offset"),
        F.col("timestamp").alias("_kafka_timestamp"),
    ).select("r.*", "_kafka_partition", "_kafka_offset", "_kafka_timestamp")


def to_kafka_records(
    df: DataFrame, key_col: str, json_options: dict[str, str] | None = None
) -> DataFrame:
    """S3's message construction: row → (key, JSON value) pair, keyed for
    per-key topic ordering (weather_producer.py:148,171)."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns), json_options or {}).alias("value"),
    )
