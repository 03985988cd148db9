"""Schema-declared loaders for the fixture tables.

The reference consumes dynamic-schema JSON documents (driveItems, permissions —
see SURVEY.md §1.1); this engine declares schemas up front for determinism and
validates the Parquet footer against them on load. Parquet self-describes, so
we read natively (predicate pushdown + column pruning stay enabled) and only
*check* the declared schema.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
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
]

# Declared column names per table (types come from the parquet footer; the
# timestamp unit differs per table — lineitem/orders are ms, events is ns —
# so we pin names, not physical units).
DECLARED_COLUMNS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def events_ts_unit(sf_dir: str) -> str:
    """Physical unit of ``events.ts`` from the parquet footer ('us' or 'ns').

    The fixture generator has shipped both TIMESTAMP(NANOS) (rounds 1-2) and
    TIMESTAMP(MICROS) (round 3+); every loader — batch and streaming — must
    branch on the *observed* footer, never assume one encoding. Driver-side
    footer read only; no data IO."""
    import pyarrow.parquet as pq

    field = pq.read_schema(table_path(sf_dir, "events")).field("ts")
    unit = getattr(field.type, "unit", None)
    if unit not in ("us", "ns", "ms", "s"):
        raise ValueError(f"events.ts has unexpected physical type {field.type}")
    return unit


def epoch_seconds(col: Column | str) -> Column:
    """Seconds since epoch for a TIMESTAMP_NTZ (or TIMESTAMP) column.

    TIMESTAMP_NTZ cannot be cast to long (DATATYPE_MISMATCH in Spark 4);
    timestampdiff from the NTZ epoch literal is exact, integer, and
    session-timezone-independent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "SECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),  # TIMESTAMP→NTZ is identity under the UTC session TZ
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; validates declared column names.

    ``events.ts`` normalizes to a microsecond timestamp whatever the fixture's
    physical encoding: TIMESTAMP(MICROS) reads natively as timestamp_ntz;
    legacy TIMESTAMP(NANOS) (which Spark's vectorized reader rejects) arrives
    as raw nanos under the legacy conf and is truncated to micros — the same
    truncation DuckDB applies, so oracle comparisons agree either way."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    declared = DECLARED_COLUMNS.get(name)
    if declared is not None and list(df.columns) != declared:
        raise ValueError(f"table {name}: expected columns {declared}, got {df.columns}")
    return df
