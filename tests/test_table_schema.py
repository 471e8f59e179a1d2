"""tables.load declares each table's schema from its parquet footer:
the declared schema equals Spark's inferred one, opening the tables
runs no Spark job, and TIMESTAMP(NANOS) still loads as before."""

from __future__ import annotations

import glob
import os

import pytest

from multichannel_commerce_data_pipeline_spark import tables


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory) -> str:
    from perfbench import datagen

    out = str(tmp_path_factory.mktemp("datagen"))
    datagen.write(out, 42, 0.01)  # the benchmark's tables
    return out


def test_declared_schema_equals_inferred(spark, sf_dir, generated_dir):
    """Every table of every sibling sf dir and of a generated dir:
    the footer-declared schema is the schema Spark infers, nullability
    included."""
    dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    dirs.append(generated_dir)
    sib = spark.newSession()  # a fresh load() memo, not shared frames
    for d in dirs:
        for t in tables.TABLE_NAMES:
            path = os.path.join(d, f"{t}.parquet")
            assert tables.load(sib, d, t).schema == sib.read.parquet(path).schema, path


def test_load_all_runs_no_spark_job(spark, sf_dir):
    """Opening the ten tables on a session that misses the load()
    memo fires no Spark job; a bare spark.read.parquet per table
    (Spark inferring the schema) fires one each."""
    sib = spark.newSession()
    declared = _jobs_in_group(
        sib, "load-all-declared", lambda: tables.load_all(sib, sf_dir)
    )
    assert declared == 0

    def bare():
        for t in tables.TABLE_NAMES:
            sib.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))

    inferred = _jobs_in_group(sib, "load-all-inferred", bare)
    assert inferred == len(tables.TABLE_NAMES)


def test_nanos_events_load_like_inferred(spark, sf_dir, tmp_path):
    """An events table whose ts is TIMESTAMP(NANOS): declared, ts is
    read as a long and converted exactly as under Spark's inference
    with nanosAsLong, to the same values and types."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = src.column("ts").cast(pa.timestamp("ns"))
    # sub-microsecond digits, which the conversion truncates
    ns = ts.cast(pa.int64()).to_pylist()
    ts = pa.array(
        [None if v is None else v + 789 for v in ns], pa.int64()
    ).cast(pa.timestamp("ns"))
    nanos = src.set_column(src.schema.get_field_index("ts"), "ts", ts)
    pq.write_table(nanos, str(tmp_path / "events.parquet"))
    field = pq.read_metadata(str(tmp_path / "events.parquet")).schema.column(
        src.schema.get_field_index("ts")
    )
    assert "NANOS" in str(field.logical_type).upper()

    sib = spark.newSession()
    got = tables.load(sib, str(tmp_path), "events")
    assert sib.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    inferred = sib.read.parquet(str(tmp_path / "events.parquet"))
    assert dict(inferred.dtypes)["ts"] == "bigint"
    inferred = inferred.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )
    assert got.dtypes == inferred.dtypes
    assert dict(got.dtypes)["ts"] == "timestamp"
    by_id = lambda df: df.orderBy("event_id").collect()  # noqa: E731
    assert by_id(got) == by_id(inferred)
    fresh = sib.newSession()
    opened = _jobs_in_group(
        fresh, "nanos-declared", lambda: tables.load(fresh, str(tmp_path), "events")
    )
    assert opened == 0


def test_declared_schema_follows_spark_rules(spark, tmp_path):
    """Footers no driver table has: a file Spark wrote (its stored
    schema wins), INT96 timestamps (``timestamp``, not ntz), a UTC
    timestamp, and an unsigned int, which the conversion leaves to
    Spark's inference; each under both settings of
    ``spark.sql.parquet.inferTimestampNTZ.enabled``. Each opens with
    the schema Spark infers."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    when = pa.array([0, 86_400_000_000, None], pa.int64())
    table = pa.table(
        {
            "naive": when.cast(pa.timestamp("us")),
            "utc": when.cast(pa.timestamp("us", tz="UTC")),
            "n": pa.array([1, 2, 3], pa.int32()),
        }
    )
    pq.write_table(
        table, str(tmp_path / "int96.parquet"), use_deprecated_int96_timestamps=True
    )
    pq.write_table(table, str(tmp_path / "arrow.parquet"))
    unsigned = table.append_column("u", pa.array([1, 2, 3], pa.uint8()))
    pq.write_table(unsigned, str(tmp_path / "unsigned.parquet"))
    spark_dir = str(tmp_path / "spark_dir")
    spark.read.parquet(str(tmp_path / "arrow.parquet")).coalesce(1).write.parquet(
        spark_dir
    )
    (part,) = glob.glob(os.path.join(spark_dir, "part-*.parquet"))
    shutil.copy(part, str(tmp_path / "spark.parquet"))

    assert tables._declared_schema(spark, str(tmp_path / "unsigned.parquet")) is None
    assert tables._declared_schema(spark, spark_dir) is None  # a directory
    ntz, no_ntz = spark.newSession(), spark.newSession()
    no_ntz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for session in (ntz, no_ntz):
        # as after any events load: INT96 must still not read as nanos
        session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        for name in ("int96", "arrow", "unsigned", "spark"):
            path = str(tmp_path / f"{name}.parquet")
            declared = tables._read(session, path).schema
            assert declared == session.read.parquet(path).schema, name
    naive = lambda s, name: dict(  # noqa: E731
        tables._read(s, str(tmp_path / f"{name}.parquet")).dtypes
    )["naive"]
    assert naive(ntz, "arrow") == naive(no_ntz, "spark") == "timestamp_ntz"
    assert naive(no_ntz, "arrow") == "timestamp"
    types = dict(tables._read(ntz, str(tmp_path / "int96.parquet")).dtypes)
    assert types["naive"] == types["utc"] == "timestamp"
