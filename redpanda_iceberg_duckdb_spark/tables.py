"""Fixture-table loaders: parquet files -> DataFrames + temp views.

Declared schemas: the 10 table schemas are written down once, below, and
``load_table`` reads with ``spark.read.schema(declared)`` — so no query pays
a Spark schema-inference job while its plan is built. This is the local
analogue of catalog metadata: in the reference pipeline Redpanda writes
schema-validated Iceberg tables registered in the Polaris REST catalog
(sources/iceberg.py), and the query engine takes each table's schema from
the catalog instead of probing the data.

The guard is the parquet footer. Before every read, ``check_footer`` reads
the footer of each data file with pyarrow (a fraction of a millisecond, no
Spark job) and raises ``SchemaMismatchError`` naming the table and the
column if a declared column is missing or stored with a different type. A
declared read over a file without the column would otherwise return nulls
silently.

Scale stance: plain parquet scans keep predicate pushdown, column pruning,
and partition-count selection (``spark.sql.files.maxPartitionBytes``) in
Catalyst's hands; at 100 TB these paths would be Iceberg tables reached
through the REST catalog — the query code is identical because everything
downstream works on named temp views.

Oracle parity: the driver registers the same parquet as DuckDB views with the
bare table names, so we mirror that naming exactly.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType, TimestampType)

from .session import configure_session

_TYPES: dict[str, DataType] = {
    "int": IntegerType(), "bigint": LongType(), "double": DoubleType(),
    "string": StringType(), "timestamp": TimestampType(),
    "array<float>": ArrayType(FloatType()),
}


def _declare(ddl: str) -> StructType:
    """``"a int, b string"`` -> StructType (nullable fields, as Spark reads
    parquet). Built in Python, so no JVM call is needed at import."""
    fields = []
    for col in ddl.split(","):
        name, typ = col.split()
        fields.append(StructField(name, _TYPES[typ]))
    return StructType(fields)


SCHEMAS: dict[str, StructType] = {name: _declare(ddl) for name, ddl in {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
                "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                "l_linenumber int, l_quantity double, l_extendedprice double, "
                "l_discount double, l_tax double, l_returnflag string, "
                "l_linestatus string, l_shipdate timestamp",
    "events": "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
                 "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}.items()}

TABLE_NAMES = list(SCHEMAS)

# Footer type for a parquet INT64 TIMESTAMP(NANOS) column. Spark cannot read
# it as a timestamp; with nanosAsLong (set by configure_session) it arrives
# as a long and _post_load converts it.
_NANOS = "timestamp(nanos)"


class SchemaMismatchError(ValueError):
    """A table file does not carry a declared column with its declared type."""


def _footer_type(t: pa.DataType, physical: str | None) -> str:
    """Spark type name a parquet footer column reads as (``simpleString``)."""
    if pa.types.is_timestamp(t):
        # pyarrow reports legacy INT96 timestamps (Spark's default writer
        # output) as timestamp[ns]; Spark reads those as timestamp natively.
        if t.unit == "ns" and physical != "INT96":
            return _NANOS
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_footer_type(t.value_type, None)}>"
    simple = {pa.int8(): "tinyint", pa.int16(): "smallint", pa.int32(): "int",
              pa.int64(): "bigint", pa.float32(): "float",
              pa.float64(): "double", pa.string(): "string",
              pa.large_string(): "string", pa.bool_(): "boolean",
              pa.date32(): "date"}
    return simple.get(t, str(t))


def _data_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if not f.startswith(("_", ".")))


def check_footer(name: str, path: str) -> set[str]:
    """Check every data file under ``path`` against table ``name``'s
    declared schema; raise SchemaMismatchError naming the table and the
    first offending column. Returns the declared columns some file stores
    as INT64 TIMESTAMP(NANOS). A path that does not exist is left to
    Spark's own PATH_NOT_FOUND error."""
    if not os.path.exists(path):
        return set()
    nanos: set[str] = set()
    for f in _data_files(path):
        schema = pq.read_metadata(f).schema
        physical = {schema.column(i).path: schema.column(i).physical_type
                    for i in range(len(schema))}
        stored = {fld.name: _footer_type(fld.type, physical.get(fld.name))
                  for fld in schema.to_arrow_schema()}
        for fld in SCHEMAS[name]:
            want = fld.dataType.simpleString()
            got = stored.get(fld.name)
            if got is None:
                raise SchemaMismatchError(
                    f"table {name!r}: declared column {fld.name!r} ({want}) "
                    f"is missing from {f}")
            if got == _NANOS and want == "timestamp":
                nanos.add(fld.name)
            elif got != want:
                raise SchemaMismatchError(
                    f"table {name!r}: column {fld.name!r} is stored as {got} "
                    f"in {f}, declared {want}")
    return nanos


def _post_load(name: str, df: DataFrame, nanos=()) -> DataFrame:
    # INT64 TIMESTAMP(NANOS) columns are read as longs (nanosAsLong). DuckDB
    # truncates ns -> us when reading the same file, so integer division (not
    # double division — 1.7e18 ns exceeds 2^53) matches exactly.
    for col in nanos:
        df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
    # Inferred reads only (load_table declares TIMESTAMP): normalize any NTZ
    # column to TIMESTAMP. Session tz is UTC, so the instants are identical
    # to what the DuckDB oracle computes on the same file.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = SCHEMAS[name]
    nanos = check_footer(name, path)
    if nanos:
        schema = StructType([StructField(f.name, LongType())
                             if f.name in nanos else f for f in schema])
    df = spark.read.schema(schema).parquet(path)
    if nanos:
        df = _post_load(name, df, nanos)
    df.createOrReplaceTempView(name)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load the named tables (all if none given) and register temp views."""
    use = list(names) if names else TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in use}


def load_table_spread(spark: SparkSession, sf_dir: str, name: str,
                      key: str) -> DataFrame:
    """load_table + explicit hash repartition, for CPU-heavy per-row work
    (shingling, positional n-gram explode) downstream.

    The driver testdata ships each table as ONE parquet row group — one scan
    split, so an un-spread explode serializes on a single core (measured:
    2.2x on shared_ngram_span_pairs at sf0.1/local[32]). repartition with an
    EXPLICIT partition count is REPARTITION_BY_NUM, which AQE will not
    coalesce back down (a keyed repartition without a count would collapse
    to 1 partition again under coalescePartitions for KB-scale inputs).

    100 TB stance: real inputs arrive already split, but spreading by the
    row key before per-row-expensive transforms is still the correct move —
    it rebalances document-size skew; the shuffle moves the raw rows once,
    far cheaper than serializing the explode."""
    df = load_table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism, key)
