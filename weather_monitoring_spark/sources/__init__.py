from weather_monitoring_spark.sources.binary import read_binary_assets
from weather_monitoring_spark.sources.csv import read_csv, read_csv_documents
from weather_monitoring_spark.sources.filestream import read_parquet_stream
from weather_monitoring_spark.sources.jsonl import read_jsonl, read_jsonl_documents
from weather_monitoring_spark.sources.generator import (
    synthetic_wire_batch,
    synthetic_wire_json_batch,
    synthetic_wire_stream,
)
from weather_monitoring_spark.sources.kafka import (
    kafka_available,
    read_kafka_stream,
    write_kafka_stream,
)
from weather_monitoring_spark.sources.tables import TABLES, load_table, register_views

__all__ = [
    "TABLES",
    "kafka_available",
    "load_table",
    "read_binary_assets",
    "read_csv",
    "read_csv_documents",
    "read_jsonl",
    "read_jsonl_documents",
    "read_kafka_stream",
    "read_parquet_stream",
    "register_views",
    "synthetic_wire_batch",
    "synthetic_wire_json_batch",
    "synthetic_wire_stream",
    "write_kafka_stream",
]
