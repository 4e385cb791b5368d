"""Table sources.

The reference's only source is a heap-file full scan
(src/execution/plan.rs:30-32, Tablescan).  Here the leaf of every plan is
``spark.read.parquet`` — a vectorized columnar scan that Catalyst feeds
with pushed-down filters and pruned column sets, which is the 100 TB
version of the reference's storage-level projection pushdown
(src/access/tuple.rs:43-121).

Money columns arrive as DOUBLE but hold exact 2-decimal values; ``money``
casts them to DECIMAL(18,2) so aggregate arithmetic is exact and
engine-order-independent (a float sum's low bits depend on partial-agg
order — fatal for cross-engine result hashing, and simply bad hygiene for
a distributed engine).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# Small dimension tables that should always be broadcast at any scale:
# region (5 rows), nation (25 rows) are fixed-size; supplier scales but
# stays tiny relative to fact tables.
BROADCAST_TABLES = {"region", "nation", "supplier"}


def _session_memo(spark: SparkSession, attr: str) -> dict:
    """A memo dict that lives and dies with the session object.  Never
    key on ``id(spark)``: ids are reused after garbage collection, so a
    later session could be handed a dead session's DataFrames."""
    memo = getattr(spark, attr, None)
    if memo is None:
        memo = {}
        setattr(spark, attr, memo)
    return memo


# Leaf-DataFrame reuse: spark.read.parquet lists the directory and reads
# parquet footers DRIVER-side on every call; a query touching 7 tables
# pays that 7× per build. DataFrames are immutable, so the same leaf is
# safely shared across queries — filters/pruning still specialize per
# query at optimization time. Held per session so a foreign session
# (e.g. the driver's) gets its own leaves.
def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Leaf scan. Parquet → columnar batches → whole-stage codegen."""
    memo = _session_memo(spark, "_oxid_table_leaves")
    df = memo.get((sf_dir, name))
    if df is None:
        if name == "events":
            df = _read_events(spark, sf_dir)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        memo[(sf_dir, name)] = df
    return df


def _build_stamp(path: str) -> tuple[int, int] | None:
    """Identity of one build of an artifact directory: its ``_SUCCESS``
    marker's (inode, mtime_ns).  A rebuild writes a new marker, so the
    stamp changes; None when there is no local marker to stat."""
    try:
        st = os.stat(os.path.join(path, "_SUCCESS"))
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns


# Write-once artifact leaves (frozen-LM tables, span/shingle gram
# indexes, BPE merge tables, classifier weights): the same reuse
# argument as table() — each spark.read.parquet call pays a driver-side
# schema-inference/footer job (~80-100 ms measured) that a per-run
# query path repeats 3-4×.  Contract: only for directories written
# behind a _SUCCESS guard.  A memoized leaf is reused only while the
# directory's build stamp is unchanged, so a rebuild of the same path
# in the same process (its old part files deleted) is read afresh.
# Mutable stores (versioned tables, segstore segments, ivfadc
# admit-appended indexes) must keep calling spark.read.parquet so new
# files are listed.
def artifact(spark: SparkSession, path: str) -> DataFrame:
    """Leaf scan of a WRITE-ONCE artifact directory (see cache note)."""
    memo = _session_memo(spark, "_oxid_artifact_leaves")
    stamp = _build_stamp(path)
    hit = memo.get(path)
    if hit is not None and stamp is not None and hit[0] == stamp:
        return hit[1]
    df = spark.read.parquet(path)
    if stamp is not None:
        memo[path] = (stamp, df)
    return df


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table is written with TIMESTAMP(NANOS) which Spark's
    parquet reader rejects; read nanos as long and rebuild an NTZ
    timestamp (micro truncation — same as DuckDB's nanos handling).
    NTZ keeps every downstream expression independent of session TZ."""
    path = f"{sf_dir}/events.parquet"
    # Set proactively: without it the read throws PARQUET_TYPE_ILLEGAL
    # (and the schema-merge job logs a noisy executor stacktrace first).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def dec2(col: str) -> F.Column:
    """Exact DECIMAL(18,2) cast for any numeric column whose values are
    exactly representable at 2 decimals (money columns, but equally
    small-integer counts like l_quantity): aggregate arithmetic becomes
    associative, so results are partial-agg-order independent and hash
    cross-engine."""
    return F.col(col).cast("decimal(18,2)")


def money(col: str) -> F.Column:
    """Exact 2-decimal money semantics for aggregation (see dec2)."""
    return dec2(col)


def dbl(c: F.Column) -> F.Column:
    """Decimal → double for a stable, engine-neutral output type."""
    return c.cast("double")
