"""Helpers shared by the test modules."""

import pyarrow.parquet as pq

from cdmx_airquality_etl_spark import QUERIES


def query_plan(spark, sf_dir, name, mode="formatted"):
    """The ``explain(mode)`` text of registered query ``name``."""
    df = QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def read_pandas(sf_dir, name):
    """Table ``name`` of a test-data directory as a pandas frame."""
    return pq.read_table(f"{sf_dir}/{name}.parquet").to_pandas()
