"""Canonical schemas for the property-graph snapshot.

Reference data model (SURVEY.md §1): typed nodes/edges with multi-valued,
dynamically-typed properties. The reference stores properties as linked
lists of fixed records pointing into a value heap
(``HGraphStorage/src/Database/Graph/HGraphStorage/Types.hs:145-150``); we
store them as a long-format DataFrame — the faithful encoding for
multi-values plus per-name dtype (SURVEY.md §1.3).

Value types (``Types.hs:366-382`` + STMGraph DTJSON,
``STMGraph/src/Database/Graph/STMGraph/Types.hs:214-234``):
text / integer / binary / json. The reference's ``Integer`` is unbounded;
we bound it at DECIMAL(38,0) and document the divergence.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Mapping
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# dtype tags (reference DataType constructors)
DT_TEXT = "text"
DT_INTEGER = "integer"
DT_BINARY = "binary"
DT_JSON = "json"

NODE_KIND = "node"
EDGE_KIND = "edge"

NODES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

PROPS_SCHEMA = T.StructType(
    [
        T.StructField("owner_id", T.LongType(), False),
        T.StructField("owner_kind", T.StringType(), False),  # 'node' | 'edge'
        T.StructField("name", T.StringType(), False),
        T.StructField("dtype", T.StringType(), False),
        T.StructField("seq", T.IntegerType(), False),  # order among multi-values
        T.StructField("text_v", T.StringType(), True),
        T.StructField("int_v", T.DecimalType(38, 0), True),
        T.StructField("bin_v", T.BinaryType(), True),
        T.StructField("json_v", T.StringType(), True),
    ]
)

# index entry DataFrames (reference trie index: Index.hs / Trie.hs — here a
# precomputed (label, name, key, owner) lookup table)
INDEX_SCHEMA = T.StructType(
    [
        T.StructField("owner_id", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("key", T.StringType(), False),  # canonical string key
    ]
)


def infer_dtype(value) -> str:
    """Map a Python value to the reference's DataType tag.

    Mirrors the PropertyValue constructors (PVText/PVInteger/PVBinary/PVJSON,
    ``Types.hs:378-382``). A property *type* in the reference is keyed on
    (name, dtype) — the same name with a different dtype is a different
    property (``Types.hs:338``); we replicate that by always matching on
    both name and dtype.
    """
    if isinstance(value, bool):
        # reference has no boolean; JSON is the escape hatch
        return DT_JSON
    if isinstance(value, str):
        return DT_TEXT
    if isinstance(value, int):
        return DT_INTEGER
    if isinstance(value, (bytes, bytearray)):
        return DT_BINARY
    if isinstance(value, (dict, list, float)) or value is None:
        return DT_JSON
    raise TypeError(f"unsupported property value type: {type(value)!r}")


def value_columns(value) -> dict:
    """Split a Python value into the (text_v, int_v, bin_v, json_v) columns."""
    dt = infer_dtype(value)
    row = {"dtype": dt, "text_v": None, "int_v": None, "bin_v": None, "json_v": None}
    if dt == DT_TEXT:
        row["text_v"] = value
    elif dt == DT_INTEGER:
        row["int_v"] = Decimal(value)
    elif dt == DT_BINARY:
        row["bin_v"] = bytes(value)
    else:
        row["json_v"] = json.dumps(value, sort_keys=True)
    return row


def canonical_string(value) -> str:
    """Canonical string form of a property value — used for index keys."""
    dt = infer_dtype(value)
    if dt == DT_TEXT:
        return value
    if dt == DT_INTEGER:
        return str(value)
    if dt == DT_BINARY:
        return bytes(value).hex()
    return json.dumps(value, sort_keys=True)


def local_frame(spark: SparkSession, rows: Iterable, schema: T.StructType | str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (dicts or tuples in schema
    order) that the JVM holds as a ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` pickles the rows into a
    ``defaultParallelism``-way PythonRDD, so every later read of a plan
    that contains it runs one Python-worker task per slice, empty ones
    included, until the plan is materialized. Here the rows go to the JVM
    whole as one Arrow table (no rows: no hand-off at all), so mutation
    deltas, empty tables and algorithm seed frames cost no Python task at
    any read.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names
    records = [r if isinstance(r, Mapping) else dict(zip(names, r)) for r in rows]
    if not records:
        # opening an engine builds three empty tables, and a session's first
        # Arrow hand-off costs ~0.2-0.5 s of JVM-side set-up (4-core VM)
        jspark = spark._jsparkSession
        jdf = jspark.createDataFrame(spark._jvm.java.util.ArrayList(), jspark.parseDataType(schema.json()))
        return DataFrame(jdf, spark)

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
