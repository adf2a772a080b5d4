"""Enrichment lookup dimensions (J3 broadcast joins, FIXTURES.md §2).

Tiny dims — always broadcast. Includes one dim row absent from transcripts
(``tool='shell'``) and transcripts contain ``tool='db'`` rows if the dim
ever drops it, covering left-join null handling.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

LKP_ROLE_ROWS = [
    ("user", "human", 1.0),
    ("assistant", "model", 2.0),
    ("system", "control", 0.5),
    ("tool", "machine", 1.5),
]
LKP_ROLE_SCHEMA = "role string, role_group string, weight double"

LKP_TOOL_ROWS = [
    ("search", "retrieval", False),
    ("exec", "compute", True),
    ("browser", "retrieval", False),
    ("db", "storage", True),
    ("shell", "compute", True),  # absent from transcripts → join miss side
]
LKP_TOOL_SCHEMA = "tool string, tool_family string, is_privileged boolean"


def _local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A JVM local relation (plans as ``LocalTableScan``).  A Python list
    would become a Python RDD (``Scan ExistingRDD``), so every broadcast
    of the dim would first run a job on Python workers."""
    names = [f.split()[0] for f in schema.split(",")]
    return spark.createDataFrame(pa.table(list(zip(*rows)), names=names), schema)


def lkp_role_df(spark: SparkSession) -> DataFrame:
    return _local_df(spark, LKP_ROLE_ROWS, LKP_ROLE_SCHEMA)


def lkp_tool_df(spark: SparkSession) -> DataFrame:
    return _local_df(spark, LKP_TOOL_ROWS, LKP_TOOL_SCHEMA)
