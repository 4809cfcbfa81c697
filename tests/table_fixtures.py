"""Hand-built fixture tables in the declared table layout.

load_table reads with the declared schema (tables.SCHEMAS) and rejects a
file that lacks a declared column or stores it with another type, so
fixtures that plant only the columns a query reads are written through
``write_single``."""

from __future__ import annotations

import glob
import shutil

from pyspark.sql import DataFrame, functions as F

from redpanda_iceberg_duckdb_spark.tables import SCHEMAS


def write_single(df: DataFrame, out_dir, name: str) -> None:
    """Write ``df`` as the single file ``out_dir/name.parquet`` in table
    ``name``'s declared layout: planted columns cast to their declared
    type, every other declared column a typed null."""
    have = set(df.columns)
    full = df.select([(F.col(f.name) if f.name in have else F.lit(None))
                      .cast(f.dataType).alias(f.name) for f in SCHEMAS[name]])
    tmp = out_dir / f"_tmp_{name}"
    full.coalesce(1).write.parquet(str(tmp))
    shutil.copy(glob.glob(str(tmp / "part-*.parquet"))[0],
                str(out_dir / f"{name}.parquet"))
