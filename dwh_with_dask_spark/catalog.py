"""Test-table catalog: load the driver-generated parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

The layout is fixed, so every table's schema is declared here, the way
a metastore holds a table's DDL, and scans go through
``spark.read.schema(...).parquet``: no read launches a schema-inference
job, and Catalyst still gets predicate pushdown, column pruning and (on
partitioned layouts) partition pruning. The declared types are exactly
the ones Spark infers from the files' footers; tests pin that. At 100 TB
these would be directory-partitioned / bucketed tables registered in a
metastore; the loader API is the same.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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

# Dimension tables small enough to broadcast at any scale factor the
# schema implies (region=5, nation=25 rows always; supplier/part grow
# slowly). Joins against these should never shuffle the fact side.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Optional tables: present only in locally generated dirs (partsupp via
# scripts/gen_scale_data.py — the driver testdata has no partsupp, so
# queries over it live outside the driver registry).
OPTIONAL_TABLES = ("partsupp",)

# Declared DDL per table, in file column order.
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
    "partsupp": "ps_partkey bigint, ps_suppkey bigint, ps_availqty bigint, "
    "ps_supplycost double",
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES and name not in OPTIONAL_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    schema = SCHEMAS[name]
    if name == "events":
        # events.ts may be parquet TIMESTAMP(NANOS), which Spark fails to
        # read under a declared timestamp_ntz (a column type mismatch at
        # task time) but reads as epoch-nanos under a declared bigint. The
        # footer's time unit picks the type, read on the driver with no
        # Spark job; nanos convert exactly with integral division (double
        # math would lose precision on 2^60-ns values), truncated to the
        # micros a timestamp_ntz holds, independent of the session zone.
        # pyarrow is imported here, not at module level: it adds about
        # 30 MB to a driver that reads no events.
        import pyarrow.parquet as pq

        if pq.read_schema(path).field("ts").type.unit == "ns":
            schema = schema.replace("ts timestamp_ntz", "ts bigint")
            return spark.read.schema(schema).parquet(path).withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, "
                    "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
                ),
            )
    return spark.read.schema(schema).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on them."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
