"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf dir.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

TABLE_NAMES = (
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

# footer key under which Spark stores the schema of a file it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _declared_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark would infer for a local parquet FILE, converted
    on the driver from its footer (metadata only). Spark's own
    inference runs a Spark job that reads the footer inside a task;
    declaring the schema opens the table with no job at all.

    Spark's inference rules: a file Spark wrote carries its schema in
    the footer and that wins; otherwise a timestamp that is not
    UTC-adjusted is ``timestamp_ntz`` under
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` (default true),
    INT96 is ``timestamp``, TIMESTAMP(NANOS) is ``bigint`` under
    ``spark.sql.legacy.parquet.nanosAsLong``, and every other type maps
    as ``from_arrow_schema`` maps it (``pyarrow`` reads the parquet
    types without the file's stored Arrow schema, as Spark does).
    Returns None — Spark infers — for a directory or non-local path
    (the ``_estimate_scan_partitions`` rule), and for a type the
    conversion does not cover (unsigned ints, nested nanos)."""
    import pyarrow.parquet as pq
    import pyarrow.types as pa_types
    from pyspark.sql.pandas.types import from_arrow_type

    if not os.path.isfile(path):
        return None
    footer = pq.read_metadata(path)
    stored = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored:
        return StructType.fromJson(json.loads(stored))

    def flag(key: str, default: str) -> bool:
        return spark.conf.get(key, default).lower() == "true"

    ntz = flag("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    nanos = flag("spark.sql.legacy.parquet.nanosAsLong", "false")
    physical = {c.path: c.physical_type for c in footer.schema}
    fields = []
    for f in footer.schema.to_arrow_schema():
        t = f.type
        if pa_types.is_timestamp(t) and t.unit == "ns":
            if physical.get(f.name) == "INT96":
                dtype = TimestampType()
            elif nanos:
                dtype = LongType()
            else:
                return None  # Spark raises PARQUET_TYPE_ILLEGAL itself
        elif "timestamp[ns" in str(t):
            return None  # nanos nested in a list/struct/map
        else:
            try:
                dtype = from_arrow_type(t, prefer_timestamp_ntz=ntz)
            except TypeError:
                return None
        fields.append(StructField(f.name, dtype, f.nullable))
    return StructType(fields)


def _read(spark: SparkSession, path: str) -> DataFrame:
    schema = _declared_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one table, memoized on ``spark`` per
    (sf_dir, table): a catalog-style resolved-relation cache, since the
    driver tables are immutable and a DataFrame is an immutable lazy
    plan. A sibling ``spark.newSession()`` gets frames of its own.
    The schema is declared from the file's footer (_declared_schema),
    so opening a table runs no Spark job. Filters/projections applied
    by callers are pushed into this scan by Catalyst (PushedFilters /
    ReadSchema).

    ``events.parquet`` may store ``ts`` as parquet TIMESTAMP(NANOS),
    which Spark 4.x rejects by default (PARQUET_TYPE_ILLEGAL); the
    testdata and generated dirs store microseconds, and both units
    load. Nanos are read as a long and converted to a microsecond
    timestamp — same truncation DuckDB applies when it coerces
    TIMESTAMP_NS to its microsecond TIMESTAMP, so both engines see
    identical values.
    """
    # on the session, not in the artifact store (keyed by application):
    # register_views makes temp views in the frame's own session, and
    # the events nanosAsLong conf is per session
    memo = vars(spark).setdefault("_mcdp_table_frames", {})
    df = memo.get((sf_dir, name))
    if df is not None:
        return df
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read(spark, os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = _read(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # racing first loads keep the frame stored first
    return memo.setdefault((sf_dir, name), df)


# Fan-out key preference for parallelize_small_scan (r16 optimization
# round): a KEYLESS repartition(n) is round-robin, and Spark inserts a
# LOCAL SORT of the full input rows before it (sortBeforeRepartition,
# on by default since SPARK-23207, so retried map tasks reproduce the
# same row→partition assignment — guide §2.5). On a single-row-group
# driver table that sort runs inside the one serial scan task, over
# the WIDE pre-projection row; measured on lineitem at sf0.1:
# round-robin fan-out 0.87 s vs hash fan-out 0.58 s bare, and 1.34 s
# vs 0.77 s through the arithmetic_margin projection. Hash
# partitioning needs no such sort (the row→partition map is already a
# deterministic function of the key), is retry-deterministic at scale
# for free, and — when the downstream plan aggregates/joins on the
# same key — doubles as the semantic distribution (the exec_daily_kpi
# `by=` precedent). So when the caller names no key, fan out on the
# first high-cardinality table key present in the frame; fall back to
# round-robin only when none is (derived frames of computed columns).
_FANOUT_KEYS = (
    "l_orderkey",
    "o_orderkey",
    "event_id",
    "doc_id",
    "vec_id",
    "c_custkey",
    "p_partkey",
    "s_suppkey",
)


def parallelize_small_scan(
    spark: SparkSession,
    df: DataFrame,
    by: str | None = None,
) -> DataFrame:
    """Repartition a scan only if it produced fewer partitions than the
    cluster has cores. Single-file tables (the driver's documents/
    embeddings parquet has one row group) scan as ONE partition, which
    serializes compute-heavy per-row work (shingling, hashing, dot
    products). At real scale the scan has thousands of splits and this
    is a no-op — the check keeps the extra shuffle out of plans that
    don't need it.

    ``by``: when the downstream plan aggregates/joins on a key, hash-
    repartition on it instead of round-robin — the fan-out exchange then
    *satisfies* the aggregation's distribution requirement, so Catalyst
    elides the second exchange (one shuffle of the fact rows instead of
    round-robin + hash; verified in exec_daily_kpi's plan).

    The partition count is ESTIMATED from the scan's file listing
    (Spark's own maxSplitBytes bin-packing formula) instead of
    ``df.rdd.getNumPartitions()``: touching ``.rdd`` forces physical
    planning of the whole frame on the driver (~80 ms per call, and the
    only RDD-API touch in the package). Files that can't be stat'ed
    (non-local filesystems) are treated as a large scan — the at-scale
    case, where this helper must be a no-op anyway."""
    target = spark.sparkContext.defaultParallelism
    if _estimate_scan_partitions(spark, df) < target:
        if by is None:
            cols = set(df.columns)
            by = next((k for k in _FANOUT_KEYS if k in cols), None)
        return df.repartition(target, F.col(by)) if by else df.repartition(target)
    return df


def _size_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-size conf value ("134217728", "134217728b",
    "128m", "128MB") into bytes."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
    mult, num = 1, raw
    for suffix in ("kb", "mb", "gb", "k", "m", "g", "b"):
        if raw.endswith(suffix):
            mult, num = units[suffix[0]], raw[: -len(suffix)]
            break
    try:
        return int(num) * mult
    except ValueError:
        return default


def _estimate_scan_partitions(spark: SparkSession, df: DataFrame) -> int:
    """Estimate how many partitions a file scan produces, from the file
    listing alone: Spark packs split chunks of maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, total/parallelism))
    into partitions, so the count is ~ceil(padded-total / split).
    Returns a large number when sizes are unknowable (remote fs) so
    callers treat the scan as already parallel."""
    try:
        files = df.inputFiles()
    except Exception:
        return 1 << 30
    local = [f.removeprefix("file:") for f in files if f.startswith("file:")]
    if not files or len(local) < len(files):
        return 1 << 30
    try:
        sizes = [os.path.getsize(f) for f in local]
    except OSError:
        return 1 << 30
    open_cost = _size_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    max_bytes = _size_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    total = sum(s + open_cost for s in sizes)
    parallelism = spark.sparkContext.defaultParallelism
    split = min(max_bytes, max(open_cost, total // max(parallelism, 1)))
    return max(1, -(-total // max(split, 1)))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for t in TABLE_NAMES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
