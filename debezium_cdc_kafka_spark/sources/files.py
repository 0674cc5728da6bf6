"""File-format interchange: read/write the catalog tables as CSV, JSON
(lines), or ORC with explicit schemas.

The reference's only storage formats are Postgres heap tables and Kafka
JSON (reference: app/utils/postgres.py:51–59, consumer.py:69–71); a
Spark-native engine additionally speaks the interchange formats a data
platform actually receives. Rules encoded here:

- **Schema is always explicit on read** — never ``inferSchema`` (a
  second pass over 100 TB, and type drift between files). The writer's
  DataFrame schema is the contract, same policy as the CDC envelope
  (`sources/cdc_events.envelope_schema`).
- **Timestamps round-trip via an explicit format string** with
  microsecond precision; CSV/JSON carry no type system, so the format
  IS the type.
- **Parquet/ORC are the performance path** (columnar, min/max stats,
  splittable compression); CSV/JSON exist for interchange only, and
  `test_file_formats.py` proves bit-faithful round-trips so a pipeline
  can accept them at the edge and convert once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

_FORMATS = ("csv", "json", "orc", "parquet")


def write_interchange(df: DataFrame, path: str, fmt: str) -> None:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {_FORMATS}")
    w = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        w = w.option("header", "true").option("timestampFormat", TS_FMT)
    if fmt == "json":
        w = w.option("timestampFormat", TS_FMT)
    w.save(path)


def read_interchange(spark: SparkSession, path: str, fmt: str, schema) -> DataFrame:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {_FORMATS}")
    r = spark.read.format(fmt).schema(schema)
    if fmt == "csv":
        r = r.option("header", "true").option("timestampFormat", TS_FMT)
    if fmt == "json":
        r = r.option("timestampFormat", TS_FMT)
    return r.load(path)

