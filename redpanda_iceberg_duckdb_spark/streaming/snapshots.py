"""Versioned snapshots on plain parquet — the one module that knows the
format the streaming sinks (merge_sink, ivm_sink, sprt_sink) commit.

Layout under a snapshot ``base`` directory:

    _CURRENT               the pointer: one line ``v{n}``, the committed version
    v{n}/                  one directory per committed version (epoch + 1)
    v{n}/<table>/          a table's parquet files ('' = v{n} itself)
    v{n}/<table>/_schema.json   the table's Spark schema (``df.schema.json()``)

This is the plain-parquet analogue of Iceberg metadata: a commit writes the
data files and the schema they were written with, then swaps the pointer
last (``os.replace``, atomic), so a reader sees either the old version or
the complete new one. Because the schema travels with the version, a read
takes it from ``_schema.json`` and runs no schema-inference job; there is
no inference fallback — a version without ``_schema.json`` raises, naming
the directory.

The read guard is a pyarrow footer check by column NAME only: a recorded
column missing from a data file would otherwise read as a silent all-null
column, while a stored type Spark cannot convert to the recorded one
already fails loudly in Spark's own parquet reader.

Exactly-once: foreachBatch may re-run an epoch after a failure;
``is_committed`` is the replay guard that lets a sink skip an epoch whose
version the pointer already names (or passed).
"""

from __future__ import annotations

import json
import os
import re
from typing import Mapping

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..tables import SchemaMismatchError, _data_files

POINTER = "_CURRENT"
SCHEMA_FILE = "_schema.json"


def current_version(base: str) -> int | None:
    """The version the pointer names, or None before the first commit."""
    ptr = os.path.join(base, POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(f.read().strip()[1:])


def is_committed(base: str, version: int) -> bool:
    """Replay guard: True when ``version`` (or a later one) already
    committed, so writing it again would overwrite what readers see."""
    committed = current_version(base)
    return committed is not None and committed >= version


def versions(base: str) -> list[int]:
    """Every version directory under ``base``, oldest first."""
    if not os.path.isdir(base):
        return []
    return sorted(int(d[1:]) for d in os.listdir(base)
                  if re.fullmatch(r"v\d+", d))


def table_path(base: str, version: int, table: str = "") -> str:
    path = os.path.join(base, f"v{version}")
    return os.path.join(path, table) if table else path


def commit(base: str, version: int, tables: Mapping[str, DataFrame]) -> None:
    """Write each table of ``version`` with its recorded schema, then flip
    the pointer. Schemas are written after the data because an overwrite
    clears the directory first."""
    for table, df in tables.items():
        path = table_path(base, version, table)
        df.write.mode("overwrite").parquet(path)
        with open(os.path.join(path, SCHEMA_FILE), "w") as f:
            f.write(df.schema.json())
    tmp = os.path.join(base, POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(f"v{version}")
    os.replace(tmp, os.path.join(base, POINTER))  # atomic pointer flip


def read(spark: SparkSession, base: str, table: str = "",
         version: int | None = None) -> DataFrame | None:
    """Read ``table`` of ``version`` (default: the committed one) with its
    recorded schema; None before the first commit."""
    v = current_version(base) if version is None else version
    if v is None:
        return None
    path = table_path(base, v, table)
    schema_file = os.path.join(path, SCHEMA_FILE)
    if not os.path.exists(schema_file):
        raise FileNotFoundError(
            f"snapshot {path} has no {SCHEMA_FILE}: its schema was never "
            "recorded")
    with open(schema_file) as f:
        schema = StructType.fromJson(json.load(f))
    for data_file in _data_files(path):
        stored = set(pq.read_schema(data_file).names)
        for name in schema.names:
            if name not in stored:
                raise SchemaMismatchError(
                    f"snapshot {path}: recorded column {name!r} is missing "
                    f"from {data_file}")
    return spark.read.schema(schema).parquet(path)
