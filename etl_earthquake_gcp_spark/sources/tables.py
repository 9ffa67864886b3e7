"""Parquet table sources for the driver testdata star schema.

Analog of the reference's Delta/BigQuery scans (S5: process_silver_to_gold.py:40;
S3: process_bronze_to_silver.py:38) over the local testdata layout
(``{sf_dir}/{name}.parquet``, one file or a directory of part files).

Like those catalogs, the schema of every table is declared here, so
opening a table runs no Spark job: ``spark.read.schema(<declared>)``
skips the footer-reading inference job a bare ``spark.read.parquet``
starts per table. The scan is still a plain parquet scan (predicate
pushdown, column pruning, vectorized reads).

Declared is not trusted blindly. Each open reads the parquet footer in
the Python process (pyarrow; the first part file of a directory) and checks
every column against the declaration; a column of another type, or one
the catalog does not declare, raises :class:`TableContractError` naming
the table, the column and both types. Regenerated testdata that drifts
fails at open instead of being cast silently. A declared column the
file lacks is left out of the opened frame, as inference would; a query
that needs it fails at analysis.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

_TYPES: dict[str, DataType] = {
    "int": IntegerType(),
    "bigint": LongType(),
    "double": DoubleType(),
    "string": StringType(),
    "timestamp_ntz": TimestampNTZType(),
    "array<float>": ArrayType(FloatType()),
}


def _schema(ddl: str) -> StructType:
    return StructType(
        [StructField(n, _TYPES[t]) for n, t in (c.split() for c in ddl.split(", "))]
    )


# copied from the parquet footers of the sf0.001 / sf0.01 / sf0.1
# testdata (identical at every scale); tests/test_catalog.py pins them
# against Spark's own inference
SCHEMAS: dict[str, StructType] = {
    "region": _schema("r_regionkey int, r_name string"),
    "nation": _schema("n_nationkey int, n_name string, n_regionkey int"),
    "customer": _schema(
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": _schema(
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    ),
    "part": _schema(
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": _schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": _schema(
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": _schema(
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": _schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ),
    "embeddings": _schema("vec_id bigint, embedding array<float>, label int"),
}

TABLE_NAMES = tuple(SCHEMAS)

_NANOS = "timestamp(NANOS)"
# events.ts has shipped in several physical encodings; each opens as the
# type fix_nanos_ts normalizes from (NANOS needs nanosAsLong, see there)
_EVENTS_TS = {
    "timestamp_ntz": TimestampNTZType(),
    "timestamp": TimestampType(),
    _NANOS: LongType(),
}
# arrow type names whose Spark name differs; the rest map by identity
# (string, double, float) or name a type the catalog never declares
_ARROW_TO_SPARK = {"int32": "int", "int64": "bigint", "large_string": "string"}


class TableContractError(ValueError):
    """A parquet file's columns disagree with the declared table schema."""


def _spark_type(t) -> str:
    """The Spark type name a parquet column of arrow type ``t`` reads as."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return _NANOS
        return "timestamp" if t.tz else "timestamp_ntz"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"array<{_spark_type(t.value_type)}>"
    return _ARROW_TO_SPARK.get(str(t), str(t))


def _footer_types(path: str) -> dict[str, str]:
    """Column name -> Spark type name from the footer of ``path`` (the first
    part file, by name, when ``path`` is a directory).

    INT96 (Spark's default timestamp encoding) reads as LTZ ``timestamp``;
    pyarrow reports it as nanosecond timestamps, so it is told apart by
    the physical type.
    """
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            raise FileNotFoundError(f"no parquet part files in {path}")
        path = os.path.join(path, parts[0])
    with pq.ParquetFile(path) as pf:
        leaves = (pf.schema.column(i) for i in range(len(pf.schema)))
        int96 = {c.path for c in leaves if c.physical_type == "INT96"}
        return {
            f.name: "timestamp" if f.name in int96 else _spark_type(f.type)
            for f in pf.schema_arrow
        }


def table_schema(spark: SparkSession, name: str, path: str) -> StructType:
    """Declared schema of table ``name``, checked against the parquet at
    ``path`` and projected onto the columns it has.

    Turns ``spark.sql.legacy.parquet.nanosAsLong`` on when (and only when)
    ``events.ts`` is stored as TIMESTAMP(NANOS): the parquet reader rejects
    that type otherwise, and the conf is read when the scan executes.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    found = _footer_types(path)
    fields = []
    for field in SCHEMAS[name]:
        if field.name not in found:
            continue
        got = found.pop(field.name)
        dtype = field.dataType
        if (name, field.name) == ("events", "ts") and got in _EVENTS_TS:
            dtype = _EVENTS_TS[got]
            if got == _NANOS:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        elif got != dtype.simpleString():
            raise TableContractError(
                f"table {name!r} column {field.name!r}: declared "
                f"{dtype.simpleString()}, found {got} in {path}"
            )
        fields.append(StructField(field.name, dtype))
    if found:
        col, got = next(iter(found.items()))
        raise TableContractError(
            f"table {name!r} column {col!r}: declared <none>, found {got} in {path}"
        )
    return StructType(fields)


def fix_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to TimestampType (LTZ).

    The driver's testdata generator has shipped ``events.ts`` in two
    physical forms across rounds, and the engine must absorb either:

    - TIMESTAMP(NANOS): Spark's parquet reader rejects it
      (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong``
      is on — then the column arrives as epoch-nanos BIGINT. Integer
      ``div`` keeps full precision (a double roundtrip would lose sub-ms
      accuracy at 1.7e18), and flooring to micros matches DuckDB's own
      NANOS→TIMESTAMP truncation. Same capability class as the reference's
      epoch-ms cast (process_bronze_to_silver.py:84-85, P5).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads it as
      TIMESTAMP_NTZ, which half the timestamp function surface
      (unix_millis, window(), to_utc_timestamp…) rejects. The session
      timezone is pinned UTC before any scan (_self_configure), so the
      NTZ→LTZ cast below is the identity on the underlying instant —
      naive-UTC semantics, matching the DuckDB oracle's naive TIMESTAMP.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _self_configure(spark: SparkSession) -> None:
    """Runtime scale-hygiene for harness-supplied vanilla sessions.

    The driver builds its own SparkSession (no tuning), so the engine sets
    runtime-settable knobs itself: UTC timezone (oracle comparison), AQE
    (post-shuffle coalescing — default-on in Spark 4 but pinned explicitly),
    and shuffle parallelism sized to the actual cores instead of the static
    200 default, which on a small local master schedules ~10× more tasks
    than data. On a real cluster `defaultParallelism` reflects total
    executor cores, so the same sizing rule (2×cores) holds.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one testdata table under its declared schema."""
    path = f"{sf_dir}/{name}.parquet"
    schema = table_schema(spark, name, path)
    _self_configure(spark)
    df = spark.read.schema(schema).parquet(path)
    return fix_nanos_ts(df) if name == "events" else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for ``spark.sql`` queries."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
