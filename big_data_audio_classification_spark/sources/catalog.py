"""Table catalog over the driver-generated parquet test data.

``load_table`` reads each table with the native parquet reader, so
Catalyst gets the vectorized scan, column pruning, predicate pushdown and
partition pruning for free.

Schemas are inferred by Spark, once per file: the first load of a file
reads its footer (a one-task Spark job) and the inferred ``StructType`` is
memoized under the file's identity (real path, mtime, size). Every later
load hands that schema back through ``spark.read.schema(...)``, which
launches no job, so building a query costs no Spark round trip per input
table. A rewritten file changes its identity and is inferred afresh. The
schemas are not declared by hand because generator versions disagree on
physical types (``events.ts`` is TIMESTAMP(NANOS) in some, MICROS in
others; see ``load_table``): hand-written schemas would fork by version,
while the memo is always exactly what Spark infers for the file at hand.

``load_table`` still pins ``spark.sql.legacy.parquet.nanosAsLong`` on
every call: a memoized ``LongType`` ``ts`` reads only under that setting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# Small dimension tables that should always be broadcast when joined
# against a fact table. At TPC-H-like scale region/nation/supplier stay
# tiny; customer/part grow with SF but stay well under broadcast
# thresholds until very large SF.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

# real path -> ((st_mtime_ns, st_size), the schema Spark inferred for the
# file with that identity). One entry per path, so a rewritten file
# replaces its entry. Threads that race on a first load each infer and
# store the same schema.
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
        ident = (st.st_mtime_ns, st.st_size)
    except OSError:  # not a local file: Spark resolves (or reports) it
        ident = None
    known, schema = _SCHEMAS.get(real, (None, None))
    if ident is not None and ident == known:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if ident is not None:
            _SCHEMAS[real] = (ident, df.schema)
    return normalize_events_ts(df) if name == "events" else df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Generator versions differ on `ts`: some write TIMESTAMP(NANOS)
    (surfaced as long nanos under nanosAsLong), newer ones write a native
    TIMESTAMP(MICROS). Normalize on a real timestamp column so event-time
    ops (window/session_window/watermark) work natively either way."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        # integer `div`, not `/`: float division loses ULPs on longs
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # TIMESTAMP_NTZ → TIMESTAMP: the session timezone is pinned to UTC
    # (session.py), so the naive instant maps 1:1 and every downstream
    # consumer (unix_micros, watermarks, oracles) sees one canonical
    # timestamp type regardless of generator version.
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` text queries
    (the SQL front door of the engine) resolve the same names the DuckDB
    oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
