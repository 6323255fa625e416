"""local_rows_df: pure-JVM local relations (LocalTableScan).

Pins the optimization contract of wise_spark.session.local_rows_df, which
replaced every query-path `spark.createDataFrame(<python list>, schema)`:
identical schema, rows, Arrow output dtypes and nullability — but executed
as a JVM-local plan instead of a defaultParallelism-partition Python RDD
(whose every scan launched one Python worker task per partition; measured
at local[32]: a 7-row broadcast side ran as 32 tasks blocked ~2.5 s in
SparkEnv.createPythonWorker)."""

from __future__ import annotations

import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from wise_spark.session import local_rows_df

QT_SCHEMA = "query_id long, term string, n_q int, w double"
QT_ROWS = [(0, "spark", 3, 1.5), (1, "table", 2, 2.0), (2, "merge", 3, 0.25)]
# hydrate's shape: a ranked() result, whose row_number rank is NOT NULL
RANKED = StructType([StructField("doc_id", LongType()),
                     StructField("rank", IntegerType(), nullable=False)])
# a None in a long column is a SQL NULL and leaves its neighbours exact
# (through a pandas float NaN column, 2**62 + 1 would round)
CASES = [
    (QT_ROWS, QT_SCHEMA),
    ([(2**62 + 1, None, None, 1.5), (None, "x", 2, None)], QT_SCHEMA),
    ([(7, 1), (None, 2)], RANKED),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_matches_plain_createdataframe(spark):
    for rows, schema in CASES:
        a = local_rows_df(spark, rows, schema)
        b = spark.createDataFrame(rows, schema)
        assert a.schema == b.schema, rows
        assert a.collect() == b.collect(), rows
        # the driver hashes Arrow output — dtypes must match the replaced path
        assert a.toArrow().schema == b.toArrow().schema, rows
        assert "LocalTableScan" in _plan(a), rows


def test_is_jvm_local_plan_not_python_rdd(spark):
    a = local_rows_df(spark, QT_ROWS, QT_SCHEMA)
    plan = _plan(a)
    assert "LocalTableScan" in plan
    # the old formulation showed "Scan ExistingRDD" over a Python RDD
    assert "ExistingRDD" not in plan
    # few driver-local partitions, not one per core
    assert a.rdd.getNumPartitions() <= 8


def test_empty_relation_matches_and_is_python_free(spark):
    for schema, row in [("doc_id long, score double", (7, 0.5)),
                        (RANKED, (7, 1))]:
        a = local_rows_df(spark, [], schema)
        b = spark.createDataFrame([], schema)
        # nullability included: an empty ranked() page keeps rank NOT NULL
        assert a.schema == b.schema, schema
        assert a.count() == 0
        assert a.toArrow().schema == b.toArrow().schema, schema
        assert "ExistingRDD" not in _plan(a)
        # still unions/joins like the relation it stands in for
        real = local_rows_df(spark, [row], schema)
        assert real.unionByName(a).count() == 1


def test_accepts_structtype_and_row_objects(spark):
    b = spark.createDataFrame(QT_ROWS, QT_SCHEMA)
    # hydrate-style: collected Rows + the source StructType
    a = local_rows_df(spark, b.collect(), b.schema)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_broadcast_join_parity(spark):
    """The hot pattern: tiny local relation broadcast into a big side."""
    big = spark.range(1000).select(
        (F.col("id") % 3).alias("query_id"), F.col("id")
    )
    qt_new = local_rows_df(spark, QT_ROWS, QT_SCHEMA)
    qt_old = spark.createDataFrame(QT_ROWS, QT_SCHEMA)
    new = big.join(F.broadcast(qt_new), "query_id").orderBy("id", "term")
    old = big.join(F.broadcast(qt_old), "query_id").orderBy("id", "term")
    assert new.schema == old.schema
    assert new.collect() == old.collect()


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 no longer re-reads zips on invalidation")
def test_python_tasks_skip_rereading_unchanged_zips(spark):
    """PySpark starts every Python task with importlib.invalidate_caches();
    stock CPython 3.11/3.12 re-reads every zip on the worker's path there
    (~17 archives, ~230 ms of CPU per task). Once a worker has imported
    wise_spark, an unchanged zip is not read again. The kernel primes each
    importer with one call, as the worker's first task does, then counts
    the directory reads of the next call."""

    def count_rereads(batches):
        import importlib
        import zipimport

        import wise_spark  # noqa: F401  installs the worker hook

        importlib.invalidate_caches()
        stock, calls = zipimport._read_directory, []

        def counting(path):
            calls.append(path)
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)]})

    out = (spark.range(0, 4, 1, 4)
           .mapInPandas(count_rereads, "reads long").collect())
    assert len(out) == 4
    assert [r["reads"] for r in out] == [0, 0, 0, 0]
