"""Fixed, enforced schemas for the engine's core tables.

The reference validates schemas with warn-only convention checks
(``/root/reference/src/pyBiodatafuse/utils.py:222-259`` —
``check_columns_against_constants``); here schemas are hard ``StructType``
contracts enforced at source (see SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Primary input per BASELINE.json input_hint: Iceberg/parquet table of
# Common-Crawl-style web pages.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Central edge DataFrame (reference analogue: DREAMwalk network file,
# /root/reference/src/pyBiodatafuse/algorithms/DREAMwalk/generate_files.py:92-130).
EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("weight", T.DoubleType(), False),
        T.StructField("etype", T.IntegerType(), False),
    ]
)

# Vertex table (reference analogue: nodetype file, generate_files.py:74-89).
VERTICES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
    ]
)

# Per-superstep provenance/metrics (reference: utils.py:43-78 metadata dicts,
# extended per north rule with per-partition lineage).
RUN_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("algorithm", T.StringType(), False),
        T.StructField("superstep", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("l1_delta", T.DoubleType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("checkpoint_path", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


class SchemaError(ValueError):
    """Raised when a DataFrame does not match its declared schema."""


def enforce(df: DataFrame, schema: T.StructType, name: str = "df") -> DataFrame:
    """Hard schema check (name + type, nullability ignored).

    The reference's warn-only checker becomes a fail-fast contract.
    """
    got = {f.name: f.dataType for f in df.schema.fields}
    for field in schema.fields:
        if field.name not in got:
            raise SchemaError(f"{name}: missing column {field.name!r}; has {sorted(got)}")
        if got[field.name] != field.dataType:
            raise SchemaError(
                f"{name}.{field.name}: expected {field.dataType}, got {got[field.name]}"
            )
    return df.select(*[f.name for f in schema.fields])
