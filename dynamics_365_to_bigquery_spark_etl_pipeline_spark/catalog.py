"""Table catalog over the test star schema.

The reference's catalog is implicit: one GCS folder of CSVs per entity,
folder name == table name (``incremental_etl_v1.py:43-46``,
``helper_functions.py:109``). Here the catalog is explicit: named parquet
tables under a scale-factor directory, registered as temp views so both
the DataFrame and SQL surfaces see them.

Parquet carries its own schema, so loads are single-scan (no
``inferSchema`` double-read -- the reference's CSV inference at
``helper_functions.py:115`` is an anti-pattern at scale; see
sources/csv_entity.py for the explicit-schema CSV path).
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow.parquet as pq
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@lru_cache(maxsize=None)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — metadata-only footer
    read, done once per path on the driver."""
    schema = pq.read_schema(path)
    return tuple(
        f.name for f in schema if str(f.type).startswith("timestamp[ns")
    )


@lru_cache(maxsize=None)
def table_num_rows(sf_dir: str, name: str) -> int:
    """Row count from the parquet FOOTER — a metadata-only driver-side
    read, no Spark job. This is the statistics source parameter-sizing
    code (e.g. ``grid_k_dims``) should use instead of ``df.count()``:
    at 100 TB a count() is a full table pass, the footer read is not.
    (On a real warehouse this is the catalog's row-count statistic.)"""
    return pq.read_metadata(f"{sf_dir}/{name}.parquet").num_rows


def scan_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Driver-side estimate of the scan task count for one table:
    ceil(bytes / maxPartitionBytes), where a directory-layout table
    counts the bytes of its part files (the size of the directory
    entry itself says nothing about the data). File metadata only — no
    Spark job, same discipline as ``table_num_rows``."""
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        size = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
            if not f.startswith((".", "_"))
        )
    else:
        size = os.path.getsize(path)
    try:
        max_pb = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except Exception:  # pragma: no cover - conf accessor rename safety
        max_pb = 128 * 1024 * 1024
    return max(1, -(-size // max_pb))


def kernel_spread(
    spark: SparkSession, sf_dir: str, name: str, factor: int = 4
) -> int | None:
    """Partition count for a scan-split-count-CONDITIONED repartition of
    a kernel-heavy stage derived from table ``name`` (r16, the
    r15-"not yet" #5 rule) — or None when no repartition should happen.

    The fixtures are single-row-group parquet, so every scan is one
    task and AQE's coalesce floor collapses the tiny post-shuffle
    stages back to ~1 task — interpreted-HOF kernels (n-gram chains,
    deletion neighborhoods, Levenshtein verification) then run
    single-core regardless of cluster size. When the table's scan
    yields decisively fewer splits than the session's parallelism
    (``splits * factor <= defaultParallelism``), the kernel input is
    worth one tiny extra exchange to use every core; at real scale the
    split count exceeds any core count by orders of magnitude and this
    returns None — the condition is derived from the INPUT layout,
    never a local-mode constant (the unconditional variant was measured
    and rejected in r15)."""
    par = spark.sparkContext.defaultParallelism
    if scan_splits(spark, sf_dir, name) * factor <= par:
        return par
    return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    The fixture parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; we read nanos as long (legacy conf) and convert to
    microsecond timestamps by truncation — the same ns→us truncation
    DuckDB applies, so oracle comparisons line up exactly.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Fixture timestamps are parquet TIMESTAMP(isAdjustedToUTC=false);
    # by default Spark 4 surfaces those as TIMESTAMP_NTZ, which
    # unix_micros()/window() reject. Read them as session-tz TIMESTAMP
    # instead — the session tz is pinned to UTC (session.py), so the
    # instant values match DuckDB's naive-timestamp reading exactly.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    nano_cols = _nano_ts_columns(path)
    if nano_cols:
        df = df.select(
            [
                F.timestamp_micros(F.floor(F.col(c) / F.lit(1000)).cast("long")).alias(c)
                if c in nano_cols
                else F.col(c)
                for c in df.columns
            ]
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table and register each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
