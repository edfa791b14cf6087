"""SparkSession factory (SURVEY §7.1 step 1).

Mirror of the reference's single shared engine handle
(`connections.py:1057-1169`: one class-level DuckDB connection shared
across dbt threads) — here, one SparkSession shared by all model
threads; Spark sessions are thread-safe.

Scale posture: these defaults are written for a real cluster even
though tests run local[32] —
- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- Arrow on (vectorized pandas interchange for the X-ops),
- shuffle partitions default to cores locally but should be set
  ~2-3× total executor cores on a cluster (pass shuffle_partitions),
- broadcast threshold left at Spark's default; the advisor
  (observability.advisor) emits explicit broadcast() hints instead.
"""

from __future__ import annotations

import functools
import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "spark-icebreaker",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    warehouse_dir: Optional[str] = None,
    extra_conf: Optional[dict[str, str]] = None,
) -> SparkSession:
    """Create (or fetch) the shared SparkSession."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) is unreadable by Spark's vectorized
        # reader; read as long and convert in sources.read_parquet
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={warehouse_dir}/derby",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@functools.lru_cache(maxsize=None)
def _ddl_schema(ddl: str) -> StructType:
    return DataType.fromDDL(ddl)


def driver_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: "str | StructType"
) -> DataFrame:
    """A result the driver already holds (a status row, a registry
    listing) as a DataFrame. Built from an Arrow table it plans as a
    LocalRelation, so collecting it runs no Spark job; a Python-list
    ``createDataFrame`` plans an RDD scan and costs one job per
    collect. ``schema`` is a DDL string or a StructType; each row is a
    tuple in its column order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _ddl_schema(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
