"""SparkSession builder with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB target (AQE on for runtime re-planning and
skew-join splitting; Arrow for every pandas UDF boundary; UTC so warc_ts
comparisons are stable), sized down via `shuffle_partitions` for local runs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .deploy import ship_package


def get_spark(
    master: str | None = None,
    app_name: str = "wise_spark",
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.memory": "8g",
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)  # wise_spark importable on executors (--py-files analog)
    return spark


def local_rows_df(spark: SparkSession, rows, schema) -> "DataFrame":  # noqa: F821
    """Small driver-local relation as a pure-JVM plan (LocalTableScan).

    `spark.createDataFrame(<python list>)` parallelizes the rows into a
    defaultParallelism-partition PYTHON RDD: every scan of it — including
    every broadcast-exchange subjob over it — launches that many Python
    worker tasks, which serialize on SparkEnv.createPythonWorker (measured
    at local[32], sf0.1: the 7-row broadcast side of the batch scorer ran
    as 32 tasks each blocked ~2.5 s with zero CPU, ~2.5 s of wall per
    query; guide §4 "eliminate the JVM<->Python boundary"). Routing the
    rows through an Arrow table instead yields a LocalTableScan executed
    entirely in the JVM (measured: 0.52 s -> 0.04 s per broadcast
    materialization, zero Python tasks) — for an empty row list too.

    `schema` is a DDL string or StructType and is honored exactly: result
    schema, Arrow output dtypes and nullability are identical to the plain
    `createDataFrame(rows, schema)` they replace, and a None becomes a SQL
    NULL in any nullable column (pinned by tests). `rows` is a sequence of
    tuples, or a pandas frame or {column: array} dict holding (at least)
    the schema's columns, taken by name.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    if isinstance(rows, (pd.DataFrame, dict)):
        cols = [np.asarray(rows[f.name]) for f in st.fields]
    else:
        rows = list(rows)
        cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in st.fields]
    return spark.createDataFrame(
        pa.Table.from_arrays(cols, schema=to_arrow_schema(st)), st)
