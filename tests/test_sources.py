"""JDBC (S3-S5) round-trip tests against the Derby embedded database
bundled with Spark, and the serving-layer reader (S12/A6)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F


def _derby_url(tmp_path) -> str:
    return f"jdbc:derby:{tmp_path}/derbydb;create=true"


def test_jdbc_append_and_scan_roundtrip(spark, tmp_path):
    from multichannel_commerce_data_pipeline_spark.sources.jdbc import (
        read_jdbc,
        write_jdbc_append,
    )

    url = _derby_url(tmp_path)
    df = spark.createDataFrame(
        [(i, f"buyer-{i % 3}", float(i) * 1.5) for i in range(50)],
        "order_id INT, buyer STRING, price DOUBLE",
    )
    write_jdbc_append(df, url, "silver_orders")
    # S4 append semantics: a second append adds rows
    write_jdbc_append(df.limit(10), url, "silver_orders")

    back = read_jdbc(spark, url, "silver_orders")
    assert back.count() == 60
    assert set(back.columns) == {"order_id", "buyer", "price"}


def test_jdbc_partitioned_parallel_scan(spark, tmp_path):
    """S3 at scale: partition_column bounds fan the scan out into N
    range-predicated queries instead of one connection."""
    from multichannel_commerce_data_pipeline_spark.sources.jdbc import (
        read_jdbc,
        write_jdbc_append,
    )

    url = _derby_url(tmp_path)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k INT, v DOUBLE"
    )
    write_jdbc_append(df, url, "wide_table")
    scan = read_jdbc(
        spark,
        url,
        "wide_table",
        partition_column="k",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
    )
    assert scan.rdd.getNumPartitions() == 4
    assert scan.agg(F.sum("k")).first()[0] == sum(range(100))
    # Catalyst pushes filters into the remote SQL (PushedFilters)
    plan = scan.filter(F.col("k") > 90)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and scan.filter(F.col("k") > 90).count() == 9


def test_jdbc_overwrite_with_truncate(spark, tmp_path):
    from multichannel_commerce_data_pipeline_spark.sources.jdbc import (
        read_jdbc,
        write_jdbc_append,
        write_jdbc_create,
    )

    url = _derby_url(tmp_path)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, s STRING")
    write_jdbc_append(df1, url, "gold_dim")
    df2 = spark.createDataFrame([(9, "z")], "id INT, s STRING")
    write_jdbc_create(df2, url, "gold_dim", overwrite=True, truncate=True)
    back = read_jdbc(spark, url, "gold_dim")
    assert [tuple(r) for r in back.collect()] == [(9, "z")]


def test_serving_latest_n(spark, sf_dir):
    from multichannel_commerce_data_pipeline_spark.sources.serving import latest_n
    from multichannel_commerce_data_pipeline_spark.tables import load

    ev = load(spark, sf_dir, "events")
    rows = latest_n(ev.select("event_id", "ts", "event_type"), "ts", n=5)
    assert len(rows) == 5
    ts = [r["ts"] for r in rows]
    assert ts == sorted(ts, reverse=True)
    # TakeOrderedAndProject, not a global sort
    plan = (
        ev.orderBy(F.desc("ts")).limit(5)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_serving_table_stats(spark, sf_dir):
    from multichannel_commerce_data_pipeline_spark.sources.serving import table_stats

    stats = table_stats(spark, sf_dir)
    assert set(stats) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(v > 0 for v in stats.values())


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    """Co-located join: both sides bucketed+sorted on the join key →
    the sort-merge join runs bucket-wise with NO Exchange and NO Sort
    in the plan — the storage layout that amortizes the silver→gold
    join shuffle at 100 TB."""
    from multichannel_commerce_data_pipeline_spark.sources.warehouse import (
        read_table,
        write_bucketed,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(
        li, "bkt_lineitem", str(tmp_path / "li"), ["l_orderkey"], 8,
        sort_cols=["l_orderkey"],
    )
    write_bucketed(
        o, "bkt_orders", str(tmp_path / "o"), ["o_orderkey"], 8,
        sort_cols=["o_orderkey"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_table(spark, "bkt_lineitem").join(
            read_table(spark, "bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = joined._jdf.queryExecution().explainString(mode)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == li.count()  # FK join preserves fact rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, sf_dir, tmp_path
):
    """Idempotent daily re-runs: with partitionOverwriteMode=dynamic an
    overwrite replaces ONLY the partitions present in the written frame
    — the reference's rerun-every-60s loop rewrites whole tables; the
    engine's reruns are partition-scoped."""
    from multichannel_commerce_data_pipeline_spark.tables import load

    o = load(spark, sf_dir, "orders").withColumn(
        "p_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    dest = str(tmp_path / "gold")
    o.write.mode("overwrite").partitionBy("p_month").parquet(dest)
    before = spark.read.parquet(dest)
    n_total = before.count()
    n_jan95 = before.filter(F.col("p_month") == "1995-01").count()
    assert 0 < n_jan95 < n_total

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # re-run lands a corrected January slice: half the rows
        jan = o.filter(F.col("p_month") == "1995-01").filter(
            F.col("o_orderkey") % 2 == 0
        )
        n_half = jan.count()
        jan.write.mode("overwrite").partitionBy("p_month").parquet(dest)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    after = spark.read.parquet(dest)
    assert after.filter(F.col("p_month") == "1995-01").count() == n_half
    # every other partition untouched
    assert after.count() == n_total - n_jan95 + n_half


def test_jdbc_idempotent_replay(spark, tmp_path):
    """Exactly-once contract: re-landing the SAME batch id (a crash
    replay) leaves the table unchanged; a NEW batch id appends."""
    from multichannel_commerce_data_pipeline_spark.sources.jdbc import (
        read_jdbc,
        write_jdbc_idempotent,
    )

    url = _derby_url(tmp_path)
    df = spark.range(25).withColumnRenamed("id", "k")
    write_jdbc_idempotent(df, url, "idem_t", batch_id=0)
    write_jdbc_idempotent(df, url, "idem_t", batch_id=0)  # replay
    back = read_jdbc(spark, url, "idem_t")
    assert back.count() == 25
    assert "__batch_id" in back.columns
    write_jdbc_idempotent(df, url, "idem_t", batch_id=1)
    assert read_jdbc(spark, url, "idem_t").count() == 50
    # replay of batch 1 again: still 50
    write_jdbc_idempotent(df, url, "idem_t", batch_id=1)
    assert read_jdbc(spark, url, "idem_t").count() == 50


def test_python_datasource_partition_parallel_scan(spark):
    """The custom Python DataSource must scan as 8 independent input
    partitions (one task each, executor-side generation) and register
    idempotently."""
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.sources.pydatasource import (
        register,
    )

    register(spark)
    register(spark)  # re-registration must not raise
    df = (
        spark.read.format("synthetic_orders")
        .option("rows", "1000")
        .option("partitions", "8")
        .load()
    )
    parts = df.select(F.spark_partition_id().alias("p")).distinct().collect()
    assert len(parts) == 8
    assert df.count() == 1000
    # deterministic: two scans agree row-for-row
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, df.collect()))
    assert a == b


def test_python_datasource_streaming_equals_batch(spark, tmp_path):
    """The streaming form of the custom connector drains the same 120
    rows the batch scan produces, across multiple micro-batches, with a
    checkpoint; a second drain with the same checkpoint adds nothing
    (the capped offset stopped advancing)."""
    from multichannel_commerce_data_pipeline_spark.sources.pydatasource import (
        register,
    )

    register(spark)

    def drain():
        # processAllAvailable, not availableNow: a Simple stream reader
        # has no latestOffset, so availableNow would stop at the one
        # prefetched batch; processAllAvailable keeps triggering until
        # the capped offset stops advancing.
        q = (
            spark.readStream.format("synthetic_orders")
            .option("rows", "120")
            .option("batch_size", "50")
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        return spark.read.parquet(str(tmp_path / "out"))

    streamed = drain()
    batch = (
        spark.read.format("synthetic_orders").option("rows", "120").load()
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert drain().count() == 120  # re-drain: no duplicates


def test_load_cache_is_session_scoped(spark, sf_dir):
    """The load() memo must key on the SESSION, not the application:
    a spark.newSession() sibling shares the applicationId but has its
    own conf, so it must miss the cache (getting a frame bound to its
    own session) and set the events nanosAsLong conf for itself (r9
    advice #2)."""
    from multichannel_commerce_data_pipeline_spark.tables import load

    a = load(spark, sf_dir, "events")
    assert load(spark, sf_dir, "events") is a  # same-session memo hit
    sib = spark.newSession()
    try:
        assert sib.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true"
        b = load(sib, sf_dir, "events")
        assert b is not a  # sibling session must not reuse the frame
        assert sib.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert b.count() == a.count()
    finally:
        # the sibling's entry must not shadow the primary session's
        assert load(spark, sf_dir, "events").sparkSession is spark


def test_compaction_apply_reduces_files_and_reconciles(spark, sf_dir):
    """S15 closed loop: the compacted rewrite holds strictly fewer
    parquet files than the small-file landing (one per job vs one per
    task per day), every job's XOR digest matches the pre-compaction
    layout, and the jobs partition the full calendar and row count."""
    from pathlib import Path

    from multichannel_commerce_data_pipeline_spark.queries import (
        load_registry,
    )
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        ensure_compacted_layouts,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    landing, compacted = ensure_compacted_layouts(spark, sf_dir)
    n_before = len(list(Path(landing).rglob("*.parquet")))
    n_after = len(list(Path(compacted).rglob("*.parquet")))
    assert 0 < n_after < n_before, (n_before, n_after)

    rows = (
        load_registry()["compaction_apply_reconcile"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert rows and all(r.match for r in rows)
    ev = load(spark, sf_dir, "events")
    assert sum(r.n_rows for r in rows) == ev.count()
    assert sum(r.n_days for r in rows) == ev.select(
        F.to_date("ts")
    ).distinct().count()


def test_compaction_digest_catches_tampered_rewrite(spark, sf_dir, tmp_path):
    """The verify half is a real tripwire: a rewrite that silently
    loses one row, or lands one row's day in the wrong job, flips that
    job's XOR digest — recompute the per-job digests over a tampered
    copy of the compacted layout and the affected job (and only it)
    must mismatch the landing side."""
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        row_fingerprint,
    )
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        _compaction_plan_frame,
        ensure_compacted_layouts,
    )

    landing_dir, compacted_dir = ensure_compacted_layouts(spark, sf_dir)
    compacted = spark.read.parquet(compacted_dir)
    victim = compacted.orderBy("event_id").limit(1).collect()[0]
    tampered = compacted.filter(F.col("event_id") != victim.event_id)

    def fp(df):
        return row_fingerprint(
            [
                df.event_id,
                df.user_id,
                df.event_type,
                (df.value.cast("decimal(18,2)") * 100).cast("bigint"),
                df.day.cast("string"),
            ]
        )

    def digests(df):
        return {
            r.job_id: (r.n, r.d)
            for r in df.select("job_id", fp(df).alias("fp"))
            .groupBy("job_id")
            .agg(
                F.count(F.lit(1)).alias("n"), F.bit_xor("fp").alias("d")
            )
            .collect()
        }

    landed = spark.read.parquet(landing_dir)
    plan = _compaction_plan_frame(landed)
    src = digests(landed.join(F.broadcast(plan.select("day", "job_id")), "day"))
    good, bad = digests(compacted), digests(tampered)
    assert src == good  # the real rewrite reconciles exactly
    diffs = {j for j in src if src[j] != bad.get(j, (0, 0))}
    assert diffs == {victim.job_id}  # tamper localized to its job


def test_erasure_propagation_removes_all_traces(spark, sf_dir):
    """Per table: the proof columns hold (erase_match, zero orphans,
    before = removed + after), the cascade arithmetic matches direct
    recomputation, and the WRITTEN tables contain no erased key —
    customer, their orders, and those orders' lineitems are all
    gone."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        _erase_tombstones,
        ensure_erased_tables,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    got = {
        r.table_name: r
        for r in load_registry()["erasure_propagation"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == {"customer", "orders", "lineitem"}
    for r in got.values():
        assert r.erase_match, r
        assert r.orphans_after == 0, r
        assert r.rows_before == r.rows_removed + r.rows_after, r

    tomb = _erase_tombstones(spark, sf_dir)
    n_tomb = tomb.count()
    assert got["customer"].rows_removed == n_tomb > 0
    src_orders = load(spark, sf_dir, "orders")
    gone_orders = src_orders.join(
        tomb, src_orders.o_custkey == tomb.c_custkey, "left_semi"
    )
    assert got["orders"].rows_removed == gone_orders.count()
    src_li = load(spark, sf_dir, "lineitem")
    assert (
        got["lineitem"].rows_removed
        == src_li.join(
            gone_orders.select("o_orderkey"),
            src_li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        ).count()
    )

    root = ensure_erased_tables(spark, sf_dir)
    w_cust = spark.read.parquet(f"{root}/customer")
    w_ord = spark.read.parquet(f"{root}/orders")
    w_li = spark.read.parquet(f"{root}/lineitem")
    assert w_cust.join(tomb, "c_custkey", "left_semi").count() == 0
    assert (
        w_ord.join(
            tomb, w_ord.o_custkey == tomb.c_custkey, "left_semi"
        ).count()
        == 0
    )
    assert (
        w_li.join(
            gone_orders.select("o_orderkey"),
            w_li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        ).count()
        == 0
    )
    # referential closure of the written warehouse: every surviving
    # child references a surviving parent
    assert (
        w_ord.join(
            w_cust.select("c_custkey"),
            w_ord.o_custkey == F.col("c_custkey"),
            "left_anti",
        ).count()
        == 0
    )
    assert (
        w_li.join(
            w_ord.select("o_orderkey"),
            w_li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        ).count()
        == 0
    )


def test_histogram_delta_merge_equals_full_recompute(spark, sf_dir):
    """The merged histogram (stored old-slice buckets + delta binned
    against the STORED boundaries) must equal a from-scratch binning
    of ALL rows against the same boundaries — count, lo, hi per
    bucket — and the drift flags must match the share arithmetic."""
    from multichannel_commerce_data_pipeline_spark.functions import dround
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        _HDM_CUT,
        _HDM_DRIFT_TOL,
        ensure_histogram_state,
    )
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _EQD_QS,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    got = {
        r.bucket: r
        for r in load_registry()["histogram_delta_merge"]
        .fn(spark, sf_dir)
        .collect()
    }
    li = load(spark, sf_dir, "lineitem")
    old = li.filter(F.col("l_shipdate") < F.lit(_HDM_CUT).cast("timestamp"))
    bounds = list(
        old.agg(
            *[
                dround(F.percentile("l_extendedprice", q), 2).alias(f"b{i}")
                for i, q in enumerate(_EQD_QS)
            ]
        ).collect()[0]
    )
    bucket = sum(
        F.when(F.col("l_extendedprice") > F.lit(float(b)), 1).otherwise(0)
        for b in bounds
    ).cast("long")
    full = {
        r.bucket: r
        for r in li.select(
            F.col("l_extendedprice").alias("p"), bucket.alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("p").alias("lo"),
            F.max("p").alias("hi"),
        )
        .collect()
    }
    assert set(got) == set(full)
    total = sum(r.n_rows for r in full.values())
    for b, r in got.items():
        assert (r.n_rows, r.lo, r.hi) == (
            full[b].n_rows,
            full[b].lo,
            full[b].hi,
        ), b
        assert r.drifted == (abs(r.share - 0.125) > _HDM_DRIFT_TOL), b
    assert total == sum(r.n_rows for r in got.values())
    # the stored state alone is equi-depth by construction; the state
    # file carries the boundary values the delta was binned against
    state = spark.read.parquet(ensure_histogram_state(spark, sf_dir))
    srow = state.collect()[0]
    assert [srow[f"b{i}"] for i in range(len(_EQD_QS))] == [
        float(b) for b in bounds
    ]


def test_materialize_atomic_crash_and_reuse(spark, tmp_path):
    """A writer that crashes mid-build leaves NO artifact at the final
    path (the next call rebuilds); a published artifact short-circuits
    subsequent builds (the writer is never re-invoked); the scratch
    debris of the crashed attempt is cleaned up by the retry."""
    import pytest as _pt

    from multichannel_commerce_data_pipeline_spark.artifacts import (
        _materialize_atomic,
    )

    dest = tmp_path / "artifact"
    calls = []

    def crashing(path: str) -> None:
        calls.append("crash")
        import os

        os.makedirs(path)
        (Path(path) / "partial.parquet").write_text("partial")
        raise RuntimeError("executor lost")

    with _pt.raises(RuntimeError):
        _materialize_atomic(dest, crashing)
    assert not dest.exists()  # the half-written tree never published

    def good(path: str) -> None:
        calls.append("good")
        import os

        os.makedirs(path)
        (Path(path) / "data.parquet").write_text("ok")

    assert _materialize_atomic(dest, good) == str(dest)
    assert (dest / "data.parquet").read_text() == "ok"
    _materialize_atomic(dest, good)  # cached: writer not re-invoked
    assert calls == ["crash", "good"]
    assert not list(tmp_path.glob(".artifact.tmp-*"))  # no debris


def test_source_fingerprint_tracks_data_identity(tmp_path):
    """The cache tag folds per-file size+mtime: a regenerated fixture
    at the SAME path gets a DIFFERENT tag (no stale-layout reuse), an
    untouched fixture keeps a stable tag, and distinct sf_dirs never
    collide."""
    import os

    from multichannel_commerce_data_pipeline_spark.artifacts import (
        _source_fingerprint,
    )

    d = tmp_path / "sf"
    d.mkdir()
    f = d / "events.parquet"
    f.write_bytes(b"v1")
    t1 = _source_fingerprint(str(d), "events")
    assert t1 == _source_fingerprint(str(d), "events")  # stable
    os.utime(f, ns=(1, 1))  # regenerated fixture, same bytes
    t2 = _source_fingerprint(str(d), "events")
    assert t2 != t1
    f.write_bytes(b"v2-longer")  # different size
    assert _source_fingerprint(str(d), "events") not in (t1, t2)
    d2 = tmp_path / "sf2"
    d2.mkdir()
    (d2 / "events.parquet").write_bytes(b"v1")
    assert _source_fingerprint(str(d2), "events") != t1
    # partitioned table: part files SWAPPED between partition
    # directories must change the tag (the path, not just the
    # basename, is part of each file's identity; a swap of files
    # with byte-identical stat triples is invisible to ANY
    # stat-based scheme and out of scope)
    d3 = tmp_path / "sf3"
    part_a, part_b = d3 / "orders.parquet" / "day=a", d3 / "orders.parquet" / "day=b"
    part_a.mkdir(parents=True)
    part_b.mkdir(parents=True)
    (part_a / "part-0").write_bytes(b"AA")
    (part_b / "part-0").write_bytes(b"BBB")
    os.utime(part_a / "part-0", ns=(7, 7))
    os.utime(part_b / "part-0", ns=(7, 7))
    t3 = _source_fingerprint(str(d3), "orders")
    (part_a / "part-0").write_bytes(b"BBB")
    (part_b / "part-0").write_bytes(b"AA")
    os.utime(part_a / "part-0", ns=(7, 7))
    os.utime(part_b / "part-0", ns=(7, 7))
    assert _source_fingerprint(str(d3), "orders") != t3


def test_materialize_atomic_gutted_and_foreign_debris(tmp_path):
    """The two external-interference paths: a temp-dir cleaner that
    guts the published tree but leaves the directory triggers a
    REBUILD (bare is_dir is not trusted), and scratch debris left by a
    crashed build from ANOTHER process (different PID suffix) is swept
    before the next build instead of accumulating forever."""
    import shutil as _sh

    from multichannel_commerce_data_pipeline_spark.artifacts import (
        _materialize_atomic,
    )

    dest = tmp_path / "artifact"
    calls = []

    def good(path: str) -> None:
        calls.append(1)
        Path(path).mkdir(parents=True)
        (Path(path) / "data.parquet").write_text("ok")

    _materialize_atomic(dest, good)
    # an external cleaner removes the files but leaves the directory
    for f in dest.rglob("*"):
        if f.is_file():
            f.unlink()
    assert _materialize_atomic(dest, good) == str(dest)
    assert (dest / "data.parquet").read_text() == "ok"
    assert calls == [1, 1]  # rebuilt, not served gutted

    # debris from a crashed build in a dead process (foreign PID) is
    # swept; scratch owned by a LIVE process (PID 1 here — exists but
    # not ours, os.kill probes PermissionError) is an in-flight
    # concurrent build and must survive the sweep, else that builder
    # could publish a partial tree (ADVICE r14)
    dead = tmp_path / ".artifact.tmp-999999999"
    dead.mkdir()
    (dead / "partial.parquet").write_text("partial")
    live = tmp_path / ".artifact.tmp-1"
    live.mkdir()
    (live / "inflight.parquet").write_text("inflight")
    unowned = tmp_path / ".artifact.tmp-notapid"
    unowned.mkdir()
    _sh.rmtree(str(dest))
    _materialize_atomic(dest, good)
    assert not dead.exists()  # swept before the rebuild
    assert live.exists()  # live owner: never touched
    assert unowned.exists()  # unattributable: never touched
    assert calls == [1, 1, 1]


def test_erasure_equals_cdc_tombstone_apply(spark, sf_dir):
    """The erasure pass and the CDC delete path agree: feeding the
    source customer table as upserts followed by one tombstone DELETE
    per erased key through the last-writer-wins collapse (the
    cdc_apply_snapshot shape) yields exactly the WRITTEN erased
    customer table — erasure is the batch twin of a tombstone feed,
    so a downstream consuming either path converges to the same
    state."""
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        _erase_tombstones,
        ensure_erased_tables,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    src = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    tomb = _erase_tombstones(spark, sf_dir)
    feed = src.select(
        "c_custkey",
        F.lit(1).alias("op_ts"),
        F.lit("upsert").alias("op"),
        "c_acctbal",
    ).unionByName(
        tomb.select(
            "c_custkey",
            F.lit(2).alias("op_ts"),
            F.lit("delete").alias("op"),
            F.lit(None).cast("double").alias("c_acctbal"),
        )
    )
    collapsed = (
        feed.groupBy("c_custkey")
        .agg(F.max(F.struct("op_ts", "op", "c_acctbal")).alias("last"))
        .filter(F.col("last.op") != "delete")
        .select("c_custkey", F.col("last.c_acctbal").alias("c_acctbal"))
    )
    root = ensure_erased_tables(spark, sf_dir)
    written = spark.read.parquet(f"{root}/customer").select(
        "c_custkey", "c_acctbal"
    )
    got = {(r.c_custkey, r.c_acctbal) for r in collapsed.collect()}
    want = {(r.c_custkey, r.c_acctbal) for r in written.collect()}
    assert got == want and len(want) > 0


def test_materialize_atomic_thread_race_builds_once(tmp_path):
    """Two same-process threads racing the same artifact: the build
    lock serializes them — exactly ONE writer invocation, both callers
    get the published tree, no partial state."""
    import threading as _th

    from multichannel_commerce_data_pipeline_spark.artifacts import (
        _materialize_atomic,
    )

    dest = tmp_path / "artifact"
    calls = []
    gate = _th.Barrier(2)

    def writer(path: str) -> None:
        calls.append(1)
        Path(path).mkdir(parents=True)
        (Path(path) / "data.parquet").write_text("ok")

    results = []

    def run():
        gate.wait()
        results.append(_materialize_atomic(dest, writer))

    ts = [_th.Thread(target=run) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert results == [str(dest)] * 2
    assert calls == [1]
    assert (dest / "data.parquet").read_text() == "ok"
