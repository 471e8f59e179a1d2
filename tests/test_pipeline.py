"""Medallion pipeline unit tests: fixture determinism, conformance
totality, deterministic geo assignment, end-to-end KPI sanity."""

from __future__ import annotations

import hashlib
import importlib.util
import os
import sys
from pathlib import Path

from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]


def _load_make_fixtures():
    spec = importlib.util.spec_from_file_location(
        "make_fixtures", REPO / "scripts" / "make_fixtures.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree_digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*.json")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def test_fixture_generator_is_deterministic(tmp_path, monkeypatch):
    mod = _load_make_fixtures()
    monkeypatch.setattr(mod, "ROOT", tmp_path / "bronze")
    mod.main()
    first = _tree_digest(tmp_path / "bronze")
    mod.main()
    assert _tree_digest(tmp_path / "bronze") == first
    # and matches the committed fixtures the oracle SQL reads
    committed = _tree_digest(REPO / "tests" / "fixtures" / "bronze")
    assert first == committed, "committed fixtures out of date: run scripts/make_fixtures.py"


def _silver(spark, source):
    from multichannel_commerce_data_pipeline_spark.pipeline import silver
    from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
        flatten_envelope,
        read_bronze,
    )

    fn = {
        "joor": silver.conform_joor,
        "shopify": silver.conform_shopify,
        "tiktok": silver.conform_tiktok,
        "freight": silver.conform_freight,
        "gsheets": silver.conform_gsheets,
    }[source]
    return fn(flatten_envelope(read_bronze(spark, source)))


def test_conformance_is_total(spark):
    """Silver must never throw and never emit nulls in defaulted columns
    despite messy inputs (SURVEY §5.5)."""
    joor = _silver(spark, "joor")
    nulls = joor.select(
        F.sum(F.col("buyer_name").isNull().cast("int")).alias("b"),
        F.sum(F.col("unit_price").isNull().cast("int")).alias("p"),
        F.sum(F.col("quantity").isNull().cast("int")).alias("q"),
    ).first()
    assert (nulls.b, nulls.p, nulls.q) == (0, 0, 0)
    assert joor.filter(F.col("currency") != "USD").count() == 0

    freight = _silver(spark, "freight")
    assert freight.filter(F.col("weight_kg").isNull()).count() == 0
    assert freight.filter(F.col("cost") < 0).count() == 0


def test_country_assignment_deterministic_and_distributed(spark):
    from multichannel_commerce_data_pipeline_spark.pipeline import gold

    cm1 = gold.cm1(
        _silver(spark, "joor"), "wholesale", F.col("unit_price") * F.col("quantity")
    )
    # stable across evaluations (the reference's rand() cascade is not)
    a = {r.order_no: r.country for r in cm1.select("order_no", "country").collect()}
    b = {r.order_no: r.country for r in cm1.select("order_no", "country").collect()}
    assert a == b
    # every country maps into a declared region
    assert cm1.filter(F.col("region") == "Other").count() == 0


def test_kpi_covers_all_channels(spark):
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    kpi = load_registry()["pipeline_exec_daily_kpi"].fn(spark, "unused")
    rows = kpi.collect()
    channels = {r.channel for r in rows}
    assert channels == {"wholesale", "shopify", "livestreaming"}
    assert {r.date_key for r in rows} == {"20250601", "20250602", "20250603"}
    assert all(r.revenue > 0 for r in rows)
    assert all(r.orders > 0 for r in rows)


def test_incremental_gold_refresh_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Partition-scoped gold maintenance: a stale gold table (later
    dates corrupted) plus a refresh of only the affected date_keys must
    equal a from-scratch rebuild — the reference recomputes all of gold
    every cycle; the engine touches only the dirty partitions."""
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.pipeline.incremental import (
        affected_date_keys,
        refresh_gold_kpi_partitions,
    )
    from multichannel_commerce_data_pipeline_spark.queries.flagship import (
        exec_daily_kpi,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    full_dir = str(tmp_path / "gold_full")
    incr_dir = str(tmp_path / "gold_incr")
    refresh_gold_kpi_partitions(spark, sf_dir, full_dir)  # ground truth

    # stale state: every 1997+ partition has corrupted revenue
    kpi = exec_daily_kpi(spark, sf_dir)
    stale = kpi.withColumn(
        "revenue",
        F.when(F.col("date_key") >= "19970101", F.lit(-1.0)).otherwise(
            F.col("revenue")
        ),
    )
    stale.write.mode("overwrite").partitionBy("date_key").parquet(incr_dir)

    # the "late batch": all 1997+ orders; refresh only their dates
    late = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1997-01-01"
    )
    keys = affected_date_keys(late)
    assert keys and all(k >= "19970101" for k in keys)
    refresh_gold_kpi_partitions(spark, sf_dir, incr_dir, keys)

    canon = lambda d: sorted(  # noqa: E731
        tuple(r)
        for r in spark.read.parquet(d)
        .select("date_key", "channel", "country", "region", "revenue", "orders")
        .collect()
    )
    assert canon(incr_dir) == canon(full_dir)


def test_gold_refresh_leaves_session_overwrite_mode_alone(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The refresh asks the WRITER for dynamic partition overwrite and
    never sets the session-wide conf, so a concurrent writer on the
    same session keeps its own mode; with the session at its static
    default the refresh still replaces only the partitions it wrote."""
    from multichannel_commerce_data_pipeline_spark.pipeline.incremental import (
        refresh_gold_kpi_partitions,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    assert spark.conf.get(key).lower() == "static"
    touched: list[str] = []
    real_set = spark.conf.set

    def recording_set(k, v):
        touched.append(k)
        return real_set(k, v)

    monkeypatch.setattr(spark.conf, "set", recording_set)
    dest = str(tmp_path / "gold")
    refresh_gold_kpi_partitions(spark, sf_dir, dest)
    date_keys = lambda: sorted(  # noqa: E731
        r.date_key
        for r in spark.read.parquet(dest).select("date_key").distinct().collect()
    )
    keys = date_keys()
    refresh_gold_kpi_partitions(spark, sf_dir, dest, keys[-1:])
    assert key not in touched
    assert spark.conf.get(key).lower() == "static"
    assert date_keys() == keys  # the other partitions survived


def test_quarantine_router_planted_violations(spark):
    """Every rule fires on its planted row with the right name, a
    multi-violation row lists ALL its failures in declaration order,
    and the clean row passes (n_fails 0 — the keep side)."""
    from multichannel_commerce_data_pipeline_spark.queries.pipeline_queries import (
        quarantine_mark,
    )

    rows = [
        # order_id, buyer, price, qty, sku, currency, ts
        ("A-1", "ok", 10.0, 1, "S1", "USD", "2025-06-01 10:00:00"),
        (None, "no-id", 10.0, 1, "S1", "USD", "2025-06-01 10:00:00"),
        ("A-3", "neg-price", -5.0, 1, "S1", "USD", "2025-06-01 10:00:00"),
        ("A-4", "null-price", None, 1, "S1", "USD", "2025-06-01 10:00:00"),
        ("A-5", "zero-qty", 10.0, 0, "S1", "USD", "2025-06-01 10:00:00"),
        ("A-6", "no-ts", 10.0, 1, "S1", "USD", None),
        (None, "all-bad", -1.0, -2, "S1", "USD", None),
    ]
    s = spark.createDataFrame(
        rows,
        "order_id string, buyer_name string, unit_price double, "
        "quantity int, sku string, currency string, order_ts_s string",
    ).withColumn("order_ts", F.col("order_ts_s").cast("timestamp"))
    got = {
        r.buyer_name: (r.fails, r.n_fails)
        for r in quarantine_mark(s).collect()
    }
    assert got["ok"] == ("", 0)
    assert got["no-id"] == ("id_missing", 1)
    assert got["neg-price"] == ("price_invalid", 1)
    assert got["null-price"] == ("price_invalid", 1)
    assert got["zero-qty"] == ("qty_nonpositive", 1)
    assert got["no-ts"] == ("ts_unparseable", 1)
    assert got["all-bad"] == (
        "id_missing,price_invalid,qty_nonpositive,ts_unparseable",
        4,
    )
