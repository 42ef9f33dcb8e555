"""Explicit schemas for the engine's data model.

Reference data model (see reference src/db.rs:59-88): two all-string
relational tables, ``contract`` and ``function``, with nested data stored
as JSON strings. During Spark processing we hold the nested shapes as
native Struct/Array/Map types and serialize with ``to_json`` only at the
sink boundary (SURVEY.md §1.2).

Testdata (TPC-H-ish star schema + events/documents/embeddings) schemas are
declared explicitly so scans never rely on sampling-based inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Reference model: contract / function tables (reference src/db.rs:65-84)
# --------------------------------------------------------------------------

#: Storage-shape contract row — all strings (source/metadata JSON-serialized),
#: mirrors reference src/db.rs:65-71.
CONTRACT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("metadata", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("source_type", T.StringType(), True),
    ]
)

#: Function row — reference src/db.rs:74-84.
FUNCTION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("contract_id", T.StringType(), True),
        T.StructField("contract_name", T.StringType(), True),
        T.StructField("function_name", T.StringType(), True),
        T.StructField("filename", T.StringType(), True),
        T.StructField("signature", T.StringType(), True),
        T.StructField("selector", T.StringType(), True),
        T.StructField("source_code", T.StringType(), True),
    ]
)

#: Contract metadata object (reference src/plain_contract.rs:25-36) —
#: Etherscan-style PascalCase keys in the serialized JSON.
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("ContractName", T.StringType(), True),
        T.StructField("CompilerVersion", T.StringType(), True),
        T.StructField("Runs", T.IntegerType(), True),
        T.StructField("OptimizationUsed", T.BooleanType(), True),
        T.StructField("BytecodeHash", T.StringType(), True),
    ]
)

#: Etherscan raw row — all strings (reference src/plain_contract.rs:38-50).
ETHERSCAN_RAW_SCHEMA = T.StructType(
    [
        T.StructField("SourceCode", T.StringType(), True),
        T.StructField("OptimizationUsed", T.StringType(), True),
        T.StructField("Runs", T.StringType(), True),
        T.StructField("ContractName", T.StringType(), True),
        T.StructField("CompilerVersion", T.StringType(), True),
    ]
)

#: solc standard-json input (reference src/plain_contract.rs:71-76),
#: read for its ``sources`` map path -> {content} only. The struct
#: wrapper makes a JSON object without "sources" parse to a null map.
STANDARD_JSON_SOURCES_SCHEMA = "struct<sources: map<string, struct<content: string>>>"

# --------------------------------------------------------------------------
# Testdata tables (FIXTURES.md Group A; verified against sf0.001 parquet)
# --------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),  # parquet unit detected at load
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),  # JSON map<string,string>
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)
