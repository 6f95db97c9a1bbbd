"""Source registry (reference: models/staging/__sources.yml:3-22).

The reference declares sources as named pre-existing warehouse tables in a
``raw`` schema; our engine's analogue is a registry of parquet-backed tables
with explicit expected schemas, resolved per scale-factor directory.

Schema-on-read parquet keeps the scan columnar with filter/column pushdown
(Catalyst pushes projections and predicates into the parquet reader); at
100 TB the same registry would point at a partitioned table root (e.g.
``orders/o_orderdate_month=.../*.parquet``) and partition pruning applies
without code changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Driver-generated TPC-H-ish star schema + LLM-pipeline extension tables
# (TESTDATA.md). Column lists are documentation + validation, not casts:
# parquet files carry their own (columnar) schema.
TESTDATA_TABLES: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    "lineitem": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a microsecond timestamp whatever the file
    stored: int64 nanos (legacy nanosAsLong read) → timestamp_micros, a
    native timestamp column passes through unchanged."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(df.schema["ts"].dataType, TimestampNTZType):
        # unix_micros/window functions expect TIMESTAMP; with the session
        # time zone pinned to UTC this cast is wall-clock-preserving and
        # epoch-equal to DuckDB's read of the same naive values.
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_ts_is_long(spark: SparkSession, path: str) -> bool:
    """Probe whether the events parquet at ``path`` reads ts as int64 nanos
    (legacy driver generations) vs a native timestamp. Footer-only read —
    used to pick the declared schema for streaming readers, which cannot
    infer."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    return isinstance(schema["ts"].dataType, LongType)


def input_bytes(paths: list[str]) -> int:
    """Total bytes of the data files under ``paths``: a file counts
    itself; a directory (a Spark-written table) counts every leaf file
    below it, so a directory-layout source is sized by its part files,
    not its directory inode. Hidden and metadata files (``_SUCCESS``,
    ``.crc``) are skipped, as Spark's file readers skip them."""

    def _data(name: str) -> bool:
        return not name.startswith(("_", "."))

    total = 0
    for path in paths:
        if not os.path.isdir(path):
            total += os.path.getsize(path)
            continue
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if _data(d)]
            total += sum(
                os.path.getsize(os.path.join(root, f)) for f in files if _data(f)
            )
    return total


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Scan one source table (SURVEY §2.1 S1).

    Lazy: returns the unexecuted scan; Catalyst prunes columns/predicates
    from whatever the caller builds on top.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown source table {name!r}; known: {sorted(TESTDATA_TABLES)}")
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name == "events":
        # Driver generations have shipped events.ts as either TIMESTAMP(NANOS)
        # (which the vectorized reader rejects — read nanos as int64 with
        # nanosAsLong and rebuild a microsecond timestamp; floor division
        # matches DuckDB's µs truncation on the same file) or native
        # TIMESTAMP(MICROS). Probe the footer schema and normalize so every
        # downstream operator sees a microsecond-precision timestamp column.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # unix_micros over a TIMESTAMP_NTZ column goes through the session
        # time zone; pin UTC so epoch extraction matches DuckDB's epoch_us
        # on the same naive values even under a driver-created session.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        return normalize_event_ts(df)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    missing = [c for c in TESTDATA_TABLES[name] if c not in df.columns]
    if missing:
        raise ValueError(f"source {name!r} missing expected columns {missing}")
    return _normalize_ntz(df)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-time TIMESTAMP (UTC pinned).

    Driver testdata generations have shipped temporal columns as
    TIMESTAMP(NANOS), TIMESTAMP(MICROS)-NTZ, or adjusted-to-UTC; with the
    session zone pinned to UTC the cast is wall-clock-preserving, every
    epoch/date function keeps the exact semantics the oracles assume, and
    functions that reject NTZ inputs (unix_micros under ANSI) keep working."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if not ntz:
        return df
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    return df.withColumns(
        {c: F.col(c).cast("timestamp") for c in ntz}
    )


def register_testdata(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every source table as a temp view for the SQL entry point."""
    for name in TESTDATA_TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
