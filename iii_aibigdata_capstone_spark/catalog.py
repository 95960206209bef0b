"""Table catalog over the driver-provided parquet directories.

The reference has no table abstraction (SURVEY.md §1): it reads CSVs on the
driver and captures them in closures. Here every input is a named parquet
relation loaded through ``spark.read.parquet`` so Catalyst gets column
pruning + filter pushdown + partition-sized splits for free.

A read starts no Spark job: the schema comes from the file's parquet footer
(``pyarrow.parquet.read_schema``, a local read of a few KB) and is handed to
the reader, so Spark skips its one-job schema inference. The converted
schema equals the one Spark infers for every table file the engine reads
(tests/test_contract.py pins it at three scale factors); TIMESTAMP(NANOS)
columns map to LONG, as ``spark.sql.legacy.parquet.nanosAsLong`` reads
them, and are floored to micros below. Each table is one parquet file that
the driver process can open (the driver's ``{sf_dir}/{name}.parquet``
layout); the footer read refuses a directory of part files.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import DataType, LongType, StructField, StructType

from .session import apply_runtime_confs

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that stay tiny at ANY scale factor (TPC-H semantics:
# region=5 rows, nation=25 rows forever). Always broadcast them.
ALWAYS_BROADCAST: frozenset[str] = frozenset({"region", "nation"})


def _is_nanos(t: pa.DataType) -> bool:
    return pa.types.is_timestamp(t) and t.unit == "ns"


def _spark_type(t: pa.DataType) -> DataType:
    # nanosAsLong reads TIMESTAMP(NANOS) as epoch-nanos LONG
    return LongType() if _is_nanos(t) else from_arrow_type(t, prefer_timestamp_ntz=True)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        footer = pq.read_schema(path)
    except FileNotFoundError:
        spark.read.parquet(path)  # raises Spark's own PATH_NOT_FOUND
        raise
    schema = StructType([StructField(f.name, _spark_type(f.type)) for f in footer])
    df = spark.read.schema(schema).parquet(path)
    for f in footer:
        if _is_nanos(f.type):
            # epoch-nanos LONG: floor to micros and make a naive (NTZ)
            # timestamp — matches DuckDB's ns->us parquet read.
            df = df.withColumn(
                f.name,
                F.expr(f"CAST(timestamp_micros(`{f.name}` DIV 1000) AS TIMESTAMP_NTZ)"),
            )
    return df


def tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [table(spark, sf_dir, n) for n in names]


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}
