"""Driver-table IO.

The ten driver tables (TESTDATA.md) live as one parquet file per table under
/root/testdata/sf{0.001,0.01,0.1}/. At 100 TB each table would be a
partitioned parquet dataset; `spark.read.parquet` takes either shape
unchanged, and every query in this repo goes through here so the swap is a
one-line config change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = [
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

# Small dimensions we always broadcast in joins (KB-scale even at 100 TB
# fact scale — TPC-H region/nation are constant-size).
BROADCAST_DIMS = {"region", "nation"}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# events.ts has shipped in three parquet encodings across testdata
# generations: TIMESTAMP(NANOS) (Spark reads as LONG under the nanosAsLong
# legacy conf), TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark 4.x reads as
# TIMESTAMP_NTZ), and plain TIMESTAMP_LTZ. All queries want a session-local
# TIMESTAMP (the session TZ is pinned UTC in session.py, so NTZ→LTZ casting
# is instant-preserving and the DuckDB epoch_us() oracle twin is unchanged).
_TS_COLS = {"events": ["ts"]}


def normalize_ts(df: DataFrame, cols: list[str]) -> DataFrame:
    """Normalize timestamp columns to TIMESTAMP (LTZ, micro precision)
    regardless of the parquet encoding they arrived in:

    - LongType  → nanos-as-LONG legacy read; FLOOR-divide to micros.
      `div` truncates toward zero, which differs from flooring for
      pre-epoch (negative) nanos (-1500 div 1000 = -1, floor = -2) and
      would diverge from the oracle's epoch_us flooring by 1 µs on every
      negative value — so the exact integer floor is computed as
      (ns - pmod(ns, 1000)) / 1000 (pmod is the non-negative remainder;
      no double-precision round-trip, exact for the full BIGINT range).
    - TimestampNTZType → cast to timestamp (UTC session TZ: same instant)
    - TimestampType → already what we want
    """
    by_name = {f.name: f.dataType for f in df.schema.fields}
    for col in cols:
        dt = by_name.get(col)
        if isinstance(dt, LongType):
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(f"({col} - pmod({col}, 1000)) div 1000")
                ),
            )
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    cols = _TS_COLS.get(name)
    return normalize_ts(df, cols) if cols else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each driver table as a temp view (for spark.sql queries).

    Idempotent per (session, sf_dir): every SQL-path query calls this, and
    re-creating 10 identical views per query is measurable catalog/analysis
    overhead across a 44-entry bench run. Switching sf_dir re-registers.
    """
    if getattr(spark, "_e02_views_sf_dir", None) == sf_dir and all(
        spark.catalog.tableExists(t) for t in TABLES
    ):
        # the cheap memo alone is not enough: a test/notebook may have
        # dropped or shadowed a view since — verify the catalog still
        # holds every view before trusting the cache (tableExists is a
        # catalog lookup, no data access)
        return
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    spark._e02_views_sf_dir = sf_dir
