"""Structured Streaming tests (T1/T2/T3/T5/T6, S9): AvailableNow
drain ≡ batch result, checkpointed restart idempotency, stateful dedup
within the watermark, and date-partitioned stream-to-table landing."""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
FIXTURES = REPO / "tests" / "fixtures" / "bronze"


def _run_stream(spark, tmp: Path, source="joor", dedup=None, bronze=None):
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_bronze_to_silver,
    )

    stream_bronze_to_silver(
        spark,
        source,
        str(bronze or FIXTURES),
        str(tmp / "silver"),
        str(tmp / "ckpt"),
        dedup_keys=dedup,
    )
    return spark.read.parquet(str(tmp / "silver"))


def _canon(df, cols=("order_id", "unit_price", "quantity")):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_equals_batch(spark, tmp_path):
    """The streamed silver table holds exactly the batch conformance
    result (same transformation, incremental execution)."""
    from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
        flatten_envelope,
        read_bronze,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.silver import conform_joor

    streamed = _run_stream(spark, tmp_path)
    batch = conform_joor(flatten_envelope(read_bronze(spark, "joor")))
    assert _canon(streamed) == _canon(batch)


def test_restart_is_idempotent(spark, tmp_path):
    """T2: re-running the drain with the same checkpoint and no new
    data appends nothing (the reference's non-atomic watermark file can
    double-process on crash; the checkpoint cannot)."""
    first = _run_stream(spark, tmp_path).count()
    assert first > 0
    again = _run_stream(spark, tmp_path).count()
    assert again == first


def test_incremental_pickup_of_new_files(spark, tmp_path):
    """T1/T2: a new bronze file landing between drains is processed
    exactly once."""
    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")
    n1 = _run_stream(spark, tmp_path, bronze=bronze).count()

    src = bronze / "joor" / "2025" / "06" / "03" / "batch.json"
    line = json.loads(src.read_text().splitlines()[0])
    line["raw_api_data"]["order_id"] = "JOOR-NEW001"
    extra = bronze / "joor" / "2025" / "06" / "04"
    extra.mkdir(parents=True)
    (extra / "batch.json").write_text(json.dumps(line) + "\n")

    after = _run_stream(spark, tmp_path, bronze=bronze)
    assert after.count() == n1 + 1
    assert after.filter(F.col("order_id") == "JOOR-NEW001").count() == 1


def test_stateful_dedup_within_watermark(spark, tmp_path):
    """T5: at-least-once redelivery (same order_id re-sent) collapses
    to one silver row via dropDuplicatesWithinWatermark."""
    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")
    day = bronze / "joor" / "2025" / "06" / "02"
    dup_lines = (bronze / "joor" / "2025" / "06" / "01" / "batch.json").read_text()
    (day / "redelivery.json").write_text(dup_lines)

    out = _run_stream(spark, tmp_path, dedup=("order_id",), bronze=bronze)
    total = out.count()
    distinct = out.select("order_id").distinct().count()
    assert total == distinct == 90  # 3 days x 30 orders, dupes collapsed


def test_partitioned_landing(spark, tmp_path):
    """T6/S9: the sink lands date-partitioned parquet (Hive layout), so
    downstream readers prune partitions instead of listing everything."""
    _run_stream(spark, tmp_path)
    parts = {p.name for p in (tmp_path / "silver").glob("p_date=*")}
    assert {"p_date=2025-06-01", "p_date=2025-06-02", "p_date=2025-06-03"} <= parts


def test_streaming_window_counts_respect_watermark(spark, tmp_path):
    """T3/T4 streaming: append-mode tumbling windows emit only once the
    watermark passes their end — the still-open last day is withheld,
    then finalized when later data advances the watermark."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_windowed_counts,
    )

    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")

    def drain():
        stream_windowed_counts(
            spark,
            "joor",
            str(bronze),
            str(tmp_path / "win"),
            str(tmp_path / "ckpt"),
            watermark="1 hour",
        )
        return {
            (str(r.window_start), r.n_rows)
            for r in spark.read.parquet(str(tmp_path / "win")).collect()
        }

    # max bronze_ts is on 06-03, so the 06-03 window is still open
    assert drain() == {
        ("2025-06-01 00:00:00", 30),
        ("2025-06-02 00:00:00", 30),
    }

    # a 06-04 message advances the watermark past the 06-03 window end
    src = bronze / "joor" / "2025" / "06" / "03" / "batch.json"
    line = json.loads(src.read_text().splitlines()[0])
    line["raw_api_data"]["order_id"] = "JOOR-LATE01"
    line["kafka_metadata"]["bronze_timestamp"] = "2025-06-04T12:00:00"
    extra = bronze / "joor" / "2025" / "06" / "04"
    extra.mkdir(parents=True)
    (extra / "batch.json").write_text(json.dumps(line) + "\n")

    assert drain() == {
        ("2025-06-01 00:00:00", 30),
        ("2025-06-02 00:00:00", 30),
        ("2025-06-03 00:00:00", 30),
    }


def test_kafka_value_roundtrip(spark):
    """S7/S8 frame shaping without a broker: encode rows to the Kafka
    value JSON shape and decode back with the explicit schema."""
    from multichannel_commerce_data_pipeline_spark.streaming.kafka import (
        RAW_TOPICS,
        decode_kafka_value,
        encode_kafka_value,
        kafka_reader,
        kafka_writer,
    )

    df = spark.createDataFrame(
        [("A-1", 12.5, 3), ("A-2", 7.0, 1)], "order_id STRING, price DOUBLE, qty INT"
    )
    encoded = encode_kafka_value(df, key_col="order_id")
    assert encoded.columns == ["key", "value"]
    parsed = encoded.select(
        F.from_json("value", "order_id STRING, price DOUBLE, qty INT").alias("m")
    ).select("m.*")
    assert sorted(tuple(r) for r in parsed.collect()) == [
        ("A-1", 12.5, 3),
        ("A-2", 7.0, 1),
    ]
    assert set(RAW_TOPICS) == {"joor", "shopify", "tiktok", "freight", "gsheets"}
    # reader/writer builders construct without a broker (no load/start);
    # the writer needs a streaming frame — use the built-in rate source
    assert kafka_reader(spark, "localhost:9092", "raw-joor") is not None
    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    writer = kafka_writer(
        encode_kafka_value(rate), "localhost:9092", "raw-joor", "/tmp/x"
    )
    assert writer is not None
    assert decode_kafka_value is not None


def test_stateful_running_totals_survive_restart(spark, tmp_path):
    """X5 × T5: applyInPandasWithState keeps per-key state in the
    checkpointed state store — a second drain (new query, same
    checkpoint) resumes the running total instead of restarting at 0."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_stateful_running_totals,
    )

    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")

    def drain():
        stream_stateful_running_totals(
            spark,
            "joor",
            str(bronze),
            str(tmp_path / "totals"),
            str(tmp_path / "ckpt"),
        )
        return spark.read.parquet(str(tmp_path / "totals"))

    first = drain()
    n1 = first.agg(F.max("total_rows")).first()[0]
    assert n1 == first.agg(F.sum("batch_rows")).first()[0] > 0

    # new data lands; a fresh drain must fold it into the restored state
    src = bronze / "joor" / "2025" / "06" / "03" / "batch.json"
    extra = bronze / "joor" / "2025" / "06" / "05"
    extra.mkdir(parents=True)
    (extra / "batch.json").write_text(src.read_text().splitlines()[0] + "\n")

    second = drain()
    assert second.agg(F.max("total_rows")).first()[0] == n1 + 1


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with two-sided watermarks: the streamed
    orders⨝freight result equals the batch join over the same bronze
    data (every emitted pair exactly once)."""
    from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
        flatten_envelope,
        read_bronze,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.silver import (
        conform_freight,
        conform_joor,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_orders_with_freight,
    )

    stream_orders_with_freight(
        spark, str(FIXTURES), str(tmp_path / "joined"), str(tmp_path / "ckpt")
    )
    streamed = spark.read.parquet(str(tmp_path / "joined"))

    o = conform_joor(flatten_envelope(read_bronze(spark, "joor")))
    fr = conform_freight(flatten_envelope(read_bronze(spark, "freight")))
    batch = o.join(fr, o.order_id == fr.order_reference)
    assert streamed.count() == batch.count() > 0
    got = sorted(
        (r.order_id, r.shipment_id, r.cost) for r in streamed.collect()
    )
    want = sorted((r.order_id, r.shipment_id, r.cost) for r in batch.collect())
    assert got == want


def test_stream_stream_join_drops_beyond_horizon_late_row(spark, tmp_path):
    """T5 negative case — the state-eviction guarantee the two-sided
    watermark + range constraint exist for: a freight row arriving
    BEYOND the watermark+join-window horizon must NOT emit a pair,
    even though a batch join over the same bronze data would produce
    one. A second, in-horizon freight row lands in the same late batch
    and MUST pair (control: proves the second drain processed its
    input rather than silently no-oping)."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_orders_with_freight,
    )

    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")
    shutil.copytree(FIXTURES / "freight", bronze / "freight")

    def drain():
        stream_orders_with_freight(
            spark, str(bronze), str(tmp_path / "joined"), str(tmp_path / "ckpt")
        )
        return spark.read.parquet(str(tmp_path / "joined"))

    first = drain()
    n1 = first.count()
    assert n1 > 0

    # Fixture event times span 2025-06-01..03; with the default 2-day
    # watermark the checkpointed global watermark after drain 1 sits
    # ≈ 2025-06-01, and the order-side state horizon extends one more
    # join_window (2 days) below it. SHP-LATE01 at 2025-05-20 is ~10
    # days beyond that horizon: its input is below the restored
    # watermark and its matching orders' state is evicted, so no pair
    # may emit — though the equivalent batch join WOULD pair it with
    # JOOR-010000. SHP-CTRL01 at 2025-06-03T20:00 is above the
    # watermark and within ±2 days of JOOR-030001's event time, and
    # that order is still buffered in join state: it must pair.
    def freight_row(shipment, order_ref, ts):
        return json.dumps(
            {
                "raw_api_data": {
                    "shipment_id": shipment,
                    "order_reference": order_ref,
                    "cost": "$10.00",
                    "weight": "1.0 kg",
                    "carrier": "DHL",
                    "shipped_at": f"{ts}Z",
                },
                "kafka_metadata": {
                    "topic": "raw-freight",
                    "partition": 0,
                    "offset": 99,
                    "stream_timestamp": ts,
                    "bronze_timestamp": ts,
                },
            }
        )

    late_dir = bronze / "freight" / "2025" / "06" / "04"
    late_dir.mkdir(parents=True)
    (late_dir / "batch.json").write_text(
        freight_row("SHP-LATE01", "JOOR-010000", "2025-05-20T00:00:00")
        + "\n"
        + freight_row("SHP-CTRL01", "JOOR-030001", "2025-06-03T20:00:00")
        + "\n"
    )

    second = drain()
    ships = {r.shipment_id for r in second.select("shipment_id").collect()}
    assert "SHP-CTRL01" in ships  # in-horizon row paired
    assert "SHP-LATE01" not in ships  # beyond-horizon row dropped
    assert second.count() == n1 + 1


def test_stream_to_jdbc_silver_landing(spark, tmp_path):
    """The reference's bronze→silver→relational-store path as a
    checkpointed stream: foreachBatch JDBC append lands exactly the
    conformed rows; a re-drain with the same checkpoint appends
    nothing."""
    from multichannel_commerce_data_pipeline_spark.sources.jdbc import read_jdbc
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_bronze_to_silver_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/streamdb;create=true"

    def drain():
        stream_bronze_to_silver_jdbc(
            spark, "joor", str(FIXTURES), url, "silver_joor",
            str(tmp_path / "ckpt"),
        )
        return read_jdbc(spark, url, "silver_joor")

    first = drain()
    n = first.count()
    assert n == 90  # 3 days x 30 orders
    assert first.filter(F.col("unit_price").isNull()).count() == 0
    assert drain().count() == n  # checkpointed: no duplicate appends


def test_kafka_envelope_identity_through_stream(spark, tmp_path):
    """S7/S8 closure without a broker: rows in the reference's producer
    message shape {data: <raw record>, stream_timestamp}
    (kafka_fashion_producer.py:74-86) encoded with encode_kafka_value,
    landed as a Kafka-record-shaped frame (value/topic/partition/
    offset), then streamed through decode_kafka_value — the decoded
    data struct must be bit-identical to what was produced."""
    from multichannel_commerce_data_pipeline_spark.pipeline.schemas import _RAW
    from multichannel_commerce_data_pipeline_spark.streaming.kafka import (
        decode_kafka_value,
        encode_kafka_value,
    )

    raw_ddl = f"raw_api_data {_RAW['joor'][0]}"
    rows = [
        (("J-1", "Buyer One", "$12.50", 3, "SKU-1", "USD", "2025-06-01"),
         "2025-06-01T00:00:01"),
        (("J-2", "Buyer Two", "9.00", 1, "SKU-2", "EUR", "2025-06-02"),
         "2025-06-02T00:00:02"),
    ]
    produced = spark.createDataFrame(
        rows, f"data {_RAW['joor'][0]}, stream_timestamp STRING"
    )
    # producer side: one JSON value per message
    encoded = encode_kafka_value(produced)
    assert encoded.columns == ["value"]
    # land as Kafka-record-shaped JSON files and stream them back
    kafka_shaped = encoded.select(
        F.lit("raw-joor").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        "value",
    )
    src = tmp_path / "kafka_records"
    kafka_shaped.write.json(str(src))
    stream = spark.readStream.schema(
        "topic STRING, partition INT, offset BIGINT, value STRING"
    ).json(str(src))
    decoded = decode_kafka_value(stream, raw_ddl)
    q = (
        decoded.writeStream.format("memory")
        .queryName("kafka_identity")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT data, stream_timestamp FROM kafka_identity ORDER BY data.order_id"
    ).collect()
    want = sorted((r for r in produced.collect()), key=lambda r: r.data.order_id)
    assert [(r.data, r.stream_timestamp) for r in got] == [
        (r.data, r.stream_timestamp) for r in want
    ]
    meta = spark.sql(
        "SELECT DISTINCT topic, partition FROM kafka_identity"
    ).collect()
    assert [(m.topic, m.partition) for m in meta] == [("raw-joor", 0)]


def test_stream_gold_cm2_refresh_matches_batch(spark, tmp_path):
    """The gold cadence loop as a stream: after draining the fixtures,
    the streamed gold CM2 table equals the batch CM2 built from batch
    silver, and a re-drain with the same checkpoint (no new data)
    leaves gold unchanged."""
    from multichannel_commerce_data_pipeline_spark.pipeline import gold
    from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
        flatten_envelope,
        read_bronze,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.silver import (
        conform_freight,
        conform_joor,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_gold_cm2_refresh,
    )

    silver_dir = str(tmp_path / "silver")
    gold_dir = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")

    stream_gold_cm2_refresh(spark, str(FIXTURES), silver_dir, gold_dir, ckpt)
    streamed = spark.read.parquet(gold_dir)

    batch_cm1 = gold.cm1(
        conform_joor(flatten_envelope(read_bronze(spark, "joor"))),
        "wholesale",
        F.col("unit_price") * F.col("quantity"),
    )
    batch = gold.cm2(
        batch_cm1, conform_freight(flatten_envelope(read_bronze(spark, "freight")))
    )
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0

    # restart idempotence: nothing new to process -> gold unchanged
    stream_gold_cm2_refresh(spark, str(FIXTURES), silver_dir, gold_dir, ckpt)
    again = spark.read.parquet(gold_dir)
    assert again.count() == batch.count()
    assert again.exceptAll(batch).count() == 0


def test_land_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the sink write
    and the checkpoint commit re-delivers the micro-batch with the SAME
    batch_id. The batch_id-keyed overwrite landing must converge — a
    replayed batch leaves the silver store byte-identical, never
    duplicated."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        land_batch,
        read_landed,
    )

    silver = str(tmp_path / "silver")
    b0 = spark.range(10).withColumn("v", F.col("id") * 2)
    land_batch(b0, silver, 0)
    # simulated mid-batch failure: same batch_id delivered again
    land_batch(b0, silver, 0)
    replay = read_landed(spark, silver)
    assert replay.count() == 10
    # next batch accumulates on top, still no duplication of batch 0
    b1 = spark.range(10, 15).withColumn("v", F.col("id") * 2)
    land_batch(b1, silver, 1)
    total = read_landed(spark, silver)
    assert total.count() == 15
    assert total.select(F.count_distinct("id")).first()[0] == 15


def test_feed_chunk_i_lands_as_batch_i(spark, tmp_path):
    """A Feed drained with one file per trigger lands chunk i as
    micro-batch i: each chunk's files are pinned one mtime, after the
    previous chunk's, so arrival order never rests on file-system
    timestamp granularity — also for a chunk pushed after a drain."""
    import os

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        drain,
        land_batch,
        read_feed,
        read_landed,
    )

    feed = Feed("mcdp_feed_test_", str(tmp_path))

    def run():
        stream = read_feed(spark, "id bigint, chunk int", feed.glob)
        drain(
            stream.writeStream.foreachBatch(
                lambda df, bid: land_batch(df, feed.out, bid)
            ),
            feed.ckpt,
        )
        return {
            (r["__bid"], r["chunk"])
            for r in read_landed(spark, feed.out)
            .select("__bid", "chunk")
            .distinct()
            .collect()
        }

    def chunk(i, lo, hi):
        feed.push(spark.range(lo, hi).withColumn("chunk", F.lit(i)))
        root = f"{feed.src}/b{i}"
        return {
            os.stat(os.path.join(root, n)).st_mtime
            for n in os.listdir(root)
        }

    t0, t1 = chunk(0, 0, 3), chunk(1, 3, 5)
    assert len(t0) == len(t1) == 1 and max(t0) < min(t1)
    assert run() == {(0, 0), (1, 1)}
    t2 = chunk(2, 5, 6)
    assert min(t2) > max(t1)
    assert run() == {(0, 0), (1, 1), (2, 2)}
    assert read_landed(spark, feed.out).count() == 6


def test_compact_landing_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction over a date-partitioned landing: row-for-row equal,
    same partition directories, strictly fewer data files. The
    fragmented input simulates what 60s micro-batches leave behind —
    several small appends per date."""
    import glob

    from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
        flatten_envelope,
        read_bronze,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.silver import conform_joor
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        compact_landing,
    )

    silver = str(tmp_path / "silver")
    conformed = (
        conform_joor(flatten_envelope(read_bronze(spark, "joor")))
        .withColumn("bronze_ts", F.col("bronze_timestamp").try_cast("timestamp"))
        .withColumn("p_date", F.to_date("bronze_ts"))
    )
    # four "micro-batches", 3 tasks each -> many small files per date
    for chunk in range(4):
        (
            conformed.filter(F.crc32(F.col("order_id")) % 4 == chunk)
            .repartition(3)
            .write.mode("append")
            .partitionBy("p_date")
            .parquet(silver)
        )
    n_files = lambda d: len(glob.glob(f"{d}/p_date=*/*.parquet"))  # noqa: E731
    before = spark.read.parquet(silver)
    assert n_files(silver) > len(
        glob.glob(f"{silver}/p_date=*")
    ), "fragmented landing should have multiple files per date"

    out = str(tmp_path / "compacted")
    compact_landing(spark, silver, out)
    after = spark.read.parquet(out)
    assert after.count() == before.count()
    assert after.exceptAll(before.select(after.columns)).count() == 0
    assert sorted(
        p.rsplit("/", 1)[-1] for p in glob.glob(f"{out}/p_date=*")
    ) == sorted(p.rsplit("/", 1)[-1] for p in glob.glob(f"{silver}/p_date=*"))
    assert n_files(out) < n_files(silver)


def test_stream_merge_snapshot_maintains_latest_wins_view(spark, tmp_path):
    """Streaming MERGE (X9 streaming form): keyed updates arriving over
    several micro-batches maintain a latest-wins snapshot with deletes;
    the final snapshot equals the batch merge of all updates, and a
    re-drain with the same checkpoint changes nothing."""
    import json as _json

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_snapshot,
        stream_merge_snapshot,
    )

    updates = tmp_path / "updates"
    updates.mkdir()
    # batch 1: two inserts; batch 2: update k=1, delete k=2, insert k=3
    (updates / "b1.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"k": 1, "v": "a", "seq": 10, "del": False},
                {"k": 2, "v": "b", "seq": 11, "del": False},
            ]
        )
    )
    (updates / "b2.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"k": 1, "v": "a2", "seq": 20, "del": False},
                {"k": 1, "v": "STALE", "seq": 15, "del": False},
                {"k": 2, "v": "b", "seq": 21, "del": True},
                {"k": 3, "v": "c", "seq": 22, "del": False},
            ]
        )
    )
    schema = "k long, v string, seq long, del boolean"
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    stream_merge_snapshot(
        spark, str(updates), schema, snap, ckpt, ["k"], "seq", delete_col="del"
    )
    out = {r.k: r for r in read_snapshot(spark, snap).collect()}
    # NOTE: file order between b1/b2 is lexicographic in the file
    # source, so b1 precedes b2; k=1 updated, k=2 deleted, k=3 inserted
    assert set(out) == {1, 3}
    assert out[1].v == "a2" and out[1].seq == 20
    assert out[3].v == "c"
    # restart with same checkpoint: no new data, snapshot unchanged
    before = sorted(p.name for p in (tmp_path / "snap").iterdir())
    stream_merge_snapshot(
        spark, str(updates), schema, snap, ckpt, ["k"], "seq", delete_col="del"
    )
    assert sorted(p.name for p in (tmp_path / "snap").iterdir()) == before
    out2 = {r.k: (r.v, r.seq) for r in read_snapshot(spark, snap).collect()}
    assert out2 == {k: (r.v, r.seq) for k, r in out.items()}


def test_vacuum_merge_snapshots_keeps_latest(spark, tmp_path):
    import json as _json

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_snapshot,
        stream_merge_snapshot,
        vacuum_snapshots,
    )

    updates = tmp_path / "updates"
    updates.mkdir()
    for i in range(4):  # 4 files -> 4 micro-batches -> 4 snapshots
        (updates / f"b{i}.json").write_text(
            _json.dumps({"k": i, "v": f"v{i}", "seq": i, "del": False})
        )
    snap, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    stream_merge_snapshot(
        spark, str(updates), "k long, v string, seq long, del boolean",
        snap, ckpt, ["k"], "seq", delete_col="del",
    )
    removed = vacuum_snapshots(snap)
    assert removed == ["snap-0", "snap-1"]
    left = sorted(p.name for p in (tmp_path / "snap").iterdir())
    assert left == ["snap-2", "snap-3"]
    assert read_snapshot(spark, snap).count() == 4  # view intact


def test_snapshot_time_travel_versions_and_vacuum_guard(spark, tmp_path):
    """Each committed snap-<id> stays readable and immutable after later
    batches; reading a vacuumed (or never-committed) version raises a
    clear error instead of silently serving the newest version."""
    import pytest

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_snapshot,
        stream_merge_snapshot,
        vacuum_snapshots,
    )

    upd, snap, ckpt = (
        str(tmp_path / "upd"),
        str(tmp_path / "snap"),
        str(tmp_path / "ckpt"),
    )
    schema = "k long, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1).write.json(
        f"{upd}/b0"
    )
    stream_merge_snapshot(spark, f"{upd}/*", schema, snap, ckpt, ["k"], "k")
    spark.createDataFrame([(2, "B"), (3, "c")], schema).coalesce(1).write.json(
        f"{upd}/b1"
    )
    stream_merge_snapshot(spark, f"{upd}/*", schema, snap, ckpt, ["k"], "k")
    spark.createDataFrame([(4, "d")], schema).coalesce(1).write.json(
        f"{upd}/b2"
    )
    stream_merge_snapshot(spark, f"{upd}/*", schema, snap, ckpt, ["k"], "k")

    v0 = {(r.k, r.v) for r in read_snapshot(spark, snap, 0).collect()}
    v1 = {(r.k, r.v) for r in read_snapshot(spark, snap, 1).collect()}
    v2 = {(r.k, r.v) for r in read_snapshot(spark, snap, 2).collect()}
    assert v0 == {(1, "a"), (2, "b")}
    assert v1 == {(1, "a"), (2, "B"), (3, "c")}
    assert v2 == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

    removed = vacuum_snapshots(snap)
    assert removed == ["snap-0"]
    with pytest.raises(FileNotFoundError, match="snap-0"):
        read_snapshot(spark, snap, 0)
    assert {(r.k, r.v) for r in read_snapshot(spark, snap, 1).collect()} == v1


def test_streaming_heavy_hitters_bound_and_restart(spark, tmp_path):
    """X12 × T5: the checkpointed Misra-Gries summary satisfies the MG
    guarantees against the CUMULATIVE exact counts — and keeps
    satisfying them after a restart folds new data into restored state
    (a fresh-state drain over only the new files could not: its
    estimates would be bounded by the new batch alone)."""
    from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
        flatten_envelope,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
        spark_envelope_ddl,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.silver import conform_joor
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_latest,
        stream_heavy_hitters,
    )

    k, n_buckets = 6, 2
    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")

    def drain():
        stream_heavy_hitters(
            spark,
            "joor",
            str(bronze),
            str(tmp_path / "hh"),
            str(tmp_path / "ckpt"),
            k=k,
            n_buckets=n_buckets,
        )
        return {
            (r.bucket, r.key): r.est
            for r in read_latest(spark, str(tmp_path / "hh"), "bucket").collect()
        }

    def exact():
        raw = (
            spark.read.schema(spark_envelope_ddl("joor"))
            .json(str(bronze / "joor" / "*" / "*" / "*" / "*.json"))
        )
        d = conform_joor(flatten_envelope(raw)).select(
            F.col("buyer_name").cast("string").alias("key"),
            F.pmod(F.xxhash64(F.col("buyer_name").cast("string")), n_buckets)
            .cast("int")
            .alias("bucket"),
        )
        return {
            (r.bucket, r.key): r.n
            for r in d.groupBy("bucket", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def assert_bounds(est, true):
        n_per_bucket: dict[int, int] = {}
        for (b, _), n in true.items():
            n_per_bucket[b] = n_per_bucket.get(b, 0) + n
        assert len(n_per_bucket) == n_buckets
        evicted = False
        for (b, key), n in true.items():
            e = est.get((b, key), 0)
            slack = n_per_bucket[b] / (k + 1)
            assert e <= n, (key, e, n)
            assert n - e <= slack, (key, e, n, slack)
            if n > slack:
                assert (b, key) in est, (key, n, slack)
            evicted = evicted or e < n
        return evicted

    est1, true1 = drain(), exact()
    assert est1 and assert_bounds(est1, true1)  # cap k=6 forces eviction

    # new data: replicate one day's file under a new date
    src = bronze / "joor" / "2025" / "06" / "03" / "batch.json"
    extra = bronze / "joor" / "2025" / "06" / "07"
    extra.mkdir(parents=True)
    (extra / "batch.json").write_text(src.read_text())

    est2, true2 = drain(), exact()
    assert assert_bounds(est2, true2)
    # resumed state: cumulative estimates exceed what the new files
    # alone could produce
    assert sum(est2.values()) > sum(true2.values()) - sum(true1.values())


def test_streaming_cm_sketch_cumulative_and_restart(spark, tmp_path):
    """X12 × T5: the streamed Count-Min grid must equal the BATCH
    sketch over the same conformed rows (cell-for-cell — the sketch is
    hash-derived, so stream/batch equivalence is exact, not bounded),
    and a restart folds new files into checkpoint-restored state so the
    grid stays cumulative."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        cm_estimate,
        cm_sketch,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
        flatten_envelope,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
        spark_envelope_ddl,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.silver import conform_joor
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_snapshot,
        stream_cm_sketch,
    )

    w, d, seed = 64, 3, 131
    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")

    def drain():
        stream_cm_sketch(
            spark,
            "joor",
            str(bronze),
            str(tmp_path / "cm"),
            str(tmp_path / "ckpt"),
            w=w,
            d=d,
            seed=seed,
        )
        return {
            (r.j, r.bucket): r.cell
            for r in read_snapshot(spark, str(tmp_path / "cm")).collect()
        }

    def batch_grid():
        raw = spark.read.schema(spark_envelope_ddl("joor")).json(
            str(bronze / "joor" / "*" / "*" / "*" / "*.json")
        )
        docs = conform_joor(flatten_envelope(raw))
        return {
            (r.j, r.bucket): r.cell
            for r in cm_sketch(
                docs, F.col("buyer_name"), w=w, d=d, seed=seed
            ).collect()
        }

    assert drain() == batch_grid()  # stream ≡ batch, cell-for-cell

    src = bronze / "joor" / "2025" / "06" / "03" / "batch.json"
    extra = bronze / "joor" / "2025" / "06" / "07"
    extra.mkdir(parents=True)
    (extra / "batch.json").write_text(src.read_text())

    g2, b2 = drain(), batch_grid()
    assert g2 == b2  # restored state + new files = cumulative grid
    # and the landed grid serves point queries through the batch API
    raw = spark.read.schema(spark_envelope_ddl("joor")).json(
        str(bronze / "joor" / "*" / "*" / "*" / "*.json")
    )
    docs = conform_joor(flatten_envelope(raw))
    probes = docs.select("buyer_name").distinct().limit(5)
    grid_df = read_snapshot(spark, str(tmp_path / "cm"))
    est = cm_estimate(grid_df, probes, "buyer_name", w=w, d=d, seed=seed)
    exact = {
        r.buyer_name: r.n
        for r in docs.groupBy("buyer_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in est.collect():
        assert r.est_count >= exact[r.buyer_name]


def test_stream_line_df_sketch_planted_navbar(spark, tmp_path):
    """X1 × T5: the streamed line-df grid must count each document's
    DISTINCT lines once (within-doc repeats are deduped map-side, the
    df semantic), accumulate across micro-batches, and never
    underestimate — a nav line planted in 3 docs across 2 arrival
    chunks estimates df >= 3, a unique line >= 1."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        cm_estimate,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_snapshot,
        stream_line_df_sketch,
    )

    nav = " ".join(f"n{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, nav + " " + uniq),
            (2, nav + " " + nav),  # within-doc repeat: ONE df vote
            (1, nav),
        ],
        "doc_id long, text string",
    )
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(tmp_path / "src" / "b0")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(tmp_path / "src" / "b1")
    )
    stream_line_df_sketch(
        spark,
        str(tmp_path / "src" / "b*"),
        "doc_id bigint, text string",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    grid = read_snapshot(spark, str(tmp_path / "out"))
    probes = spark.createDataFrame(
        [(hashlib.md5(nav.encode()).hexdigest(), "nav"),
         (hashlib.md5(uniq.encode()).hexdigest(), "uniq")],
        "ldigest string, which string",
    )
    est = {
        r.ldigest: r.est_count
        for r in cm_estimate(grid, probes.select("ldigest"), "ldigest").collect()
    }
    nav_h = hashlib.md5(nav.encode()).hexdigest()
    uniq_h = hashlib.md5(uniq.encode()).hexdigest()
    assert est[nav_h] >= 3  # never underestimates the hot line
    assert est[uniq_h] >= 1
    # total grid mass = total distinct (doc, line) votes * d rows:
    # 3 nav votes + 1 uniq vote = 4 increments per hash row
    per_row = {}
    for r in grid.collect():
        per_row[r.j] = per_row.get(r.j, 0) + r.cell
    assert set(per_row.values()) == {4}  # doc 2's repeat counted once


def test_stream_decontaminate_cuts_leaks_per_batch(spark, tmp_path):
    """X1 × T5: decontaminate-on-ingest must cut the eval-leaked span
    from arriving train docs in WHICHEVER micro-batch they arrive
    (even/odd split), pass clean docs through unchanged, and keep
    every row (emptied, never dropped)."""
    from multichannel_commerce_data_pipeline_spark.operators import dedup as D
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_landed,
        stream_decontaminate,
    )

    leak = " ".join(f"l{i}" for i in range(9))
    pre = " ".join(f"p{i}" for i in range(5))
    docs = spark.createDataFrame(
        [
            (100, pre + " " + leak),     # even batch: leaked tail
            (101, leak),                 # odd batch: fully leaked
            (102, " ".join(f"c{i}" for i in range(10))),  # even: clean
        ],
        "doc_id long, text string",
    )
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(tmp_path / "src" / "b0")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(tmp_path / "src" / "b1")
    )
    eval_docs = spark.createDataFrame(
        [(0, "x " + leak + " y")], "doc_id long, text string"
    )
    eval_grams = D.substring_grams(D.doc_words(eval_docs, "doc_id", "text"), 8)
    stream_decontaminate(
        spark,
        str(tmp_path / "src" / "b*"),
        "doc_id bigint, text string",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        eval_grams,
        min_words=8,
    )
    got = {
        r.doc: r
        for r in read_landed(spark, str(tmp_path / "out")).collect()
    }
    assert set(got) == {100, 101, 102}
    assert got[100].clean_text == pre and got[100].n_removed == 9
    assert got[101].clean_text == "" and got[101].n_removed == 9
    assert got[102].n_removed == 0

    # exactly-once: a re-drain over the same checkpoint adds nothing
    stream_decontaminate(
        spark,
        str(tmp_path / "src" / "b*"),
        "doc_id bigint, text string",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        eval_grams,
        min_words=8,
    )
    again = read_landed(spark, str(tmp_path / "out"))
    assert again.count() == 3

    # a late-arriving leaked doc is cut as its own micro-batch without
    # reprocessing earlier documents
    spark.createDataFrame(
        [(104, leak + " tail0")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "src" / "b2"))
    stream_decontaminate(
        spark,
        str(tmp_path / "src" / "b*"),
        "doc_id bigint, text string",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        eval_grams,
        min_words=8,
    )
    final = {
        r.doc: r
        for r in read_landed(spark, str(tmp_path / "out")).collect()
    }
    assert len(final) == 4
    assert final[104].clean_text == "tail0" and final[104].n_removed == 9


def test_stream_boilerplate_cut_applies_grid_per_batch(spark, tmp_path):
    """X1 x T5 x X12: the APPLY side of the streaming boilerplate story
    — arriving docs must lose every line whose sketch-estimated corpus
    df exceeds the threshold, in WHICHEVER micro-batch they arrive,
    against a FIXED landed grid; a re-drain over the same checkpoint
    adds nothing; a late-arriving doc is cut as its own micro-batch.
    The grid here is the exact df (collision-free width), so the cut
    must equal the batch boilerplate_lines semantics."""
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        _positions,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_landed,
        stream_boilerplate_cut,
    )

    nav = " ".join(f"n{i}" for i in range(10))  # df 3 > 2: cut
    foot = " ".join(f"f{i}" for i in range(10))  # df 2: survives
    ua = " ".join(f"a{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(100, nav + " " + ua), (101, nav + " " + foot), (102, nav + " " + foot)],
        "doc_id long, text string",
    )
    w, d_, seed = 1024, 3, 131
    # exact-df grid the maintain stream would land over this corpus
    digs = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(F.split("text", " ")) / F.lit(10)).cast("int") - 1,
            ),
            lambda k: F.md5(
                F.concat_ws(" ", F.slice(F.split("text", " "), k * 10 + 1, 10))
            ),
        )
    )
    votes = docs.select(F.explode(digs).alias("ldigest"))
    pos = _positions(F.col("ldigest"), w, d_, seed)
    grid_rows = (
        votes.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("j"), p.cast("int").alias("b"))
                        for j, p in enumerate(pos)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.j", "c.b")
        .count()
        .collect()
    )
    cells = [0] * (d_ * w)
    for r in grid_rows:
        cells[r.j * w + r.b] = r["count"]

    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(tmp_path / "src" / "b0")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(tmp_path / "src" / "b1")
    )
    args = (
        spark,
        str(tmp_path / "src" / "b*"),
        "doc_id bigint, text string",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        cells,
    )
    kw = dict(w=w, d=d_, seed=seed)
    stream_boilerplate_cut(*args, **kw)
    got = {
        r.doc_id: r
        for r in read_landed(spark, str(tmp_path / "out")).collect()
    }
    assert set(got) == {100, 101, 102}
    assert got[100].clean_text == ua and got[100].n_removed == 1
    assert got[101].clean_text == foot  # nav cut, df-2 footer kept
    assert got[102].clean_text == foot and got[102].n_lines == 2

    # exactly-once: re-drain over the same checkpoint adds nothing
    stream_boilerplate_cut(*args, **kw)
    assert read_landed(spark, str(tmp_path / "out")).count() == 3

    # late arrival: cut as its own micro-batch against the SAME grid,
    # without reprocessing earlier documents
    spark.createDataFrame(
        [(104, nav + " " + nav)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "src" / "b2"))
    stream_boilerplate_cut(*args, **kw)
    final = {
        r.doc_id: r
        for r in read_landed(spark, str(tmp_path / "out")).collect()
    }
    assert len(final) == 4
    assert final[104].clean_text == "" and final[104].n_removed == 2


def test_streaming_session_windows_close_once_and_match_batch(spark, tmp_path):
    """T4 × T5: native session_window as a stateful streaming agg —
    sessions merge in checkpointed state across drains and emit exactly
    once (append mode) when the event-time watermark passes them; a
    far-future sentinel closes every real session, after which the
    streamed session set must equal the batch-twin recompute."""
    import json as _json

    from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
        flatten_envelope,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
        spark_envelope_ddl,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.silver import conform_joor
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_sessionize,
    )

    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")

    def drain():
        stream_sessionize(
            spark,
            "joor",
            str(bronze),
            str(tmp_path / "sess"),
            str(tmp_path / "ck"),
        )

    drain()  # real data; day-3 tail sessions stay open in state

    sentinel = {
        "raw_api_data": {
            "order_id": "JOOR-SENTINEL",
            "customer": "ZZ-SENTINEL",
            "price": "1.0",
            "quantity": 1,
            "sku": "SKU-0000",
            "currency": "USD",
            "date": "2025-07-15T00:00:00Z",
        },
        "kafka_metadata": {
            "topic": "raw-joor",
            "partition": 0,
            "offset": 99999,
            "stream_timestamp": "2025-07-15T00:00:01",
            "bronze_timestamp": "2025-07-15T00:00:01",
        },
    }
    late = bronze / "joor" / "2025" / "07" / "15"
    late.mkdir(parents=True)
    (late / "batch.json").write_text(_json.dumps(sentinel) + "\n")
    drain()  # watermark jumps past every real session -> all emit

    streamed = (
        spark.read.parquet(str(tmp_path / "sess"))
        .filter(F.col("key") != "ZZ-SENTINEL")
    )
    rows = streamed.collect()
    keys = [(r.key, r.session_start) for r in rows]
    assert len(keys) == len(set(keys))  # exactly-once, no re-emission

    raw = spark.read.schema(spark_envelope_ddl("joor")).json(
        str(bronze / "joor" / "*" / "*" / "*" / "*.json")
    )
    batch = (
        conform_joor(flatten_envelope(raw))
        .filter(F.col("buyer_name") != "ZZ-SENTINEL")
        .groupBy(
            F.session_window(F.col("order_ts"), "30 minutes").alias("w"),
            F.col("buyer_name").alias("key"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("quantity").cast("long").alias("total_qty"),
        )
        .select(
            "key",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_orders",
            "total_qty",
        )
    )
    canon = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert len(rows) > 0
    assert canon(streamed) == canon(batch)


def test_stream_binned_profile_cumulative_across_restart(spark, tmp_path):
    """The streaming drift profile is checkpointed aggregation state:
    a second drain after new data lands must fold it into the SAME
    cumulative counts (restart-proof), and the profile must equal the
    batch recount at every point."""
    import shutil

    from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
        flatten_envelope,
        read_bronze,
    )
    from multichannel_commerce_data_pipeline_spark.pipeline.silver import (
        conform_joor,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_snapshot,
        stream_binned_profile,
    )

    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")

    def drain():
        stream_binned_profile(
            spark, "joor", str(bronze), str(tmp_path / "prof"),
            str(tmp_path / "ckpt"),
        )
        return read_snapshot(spark, str(tmp_path / "prof"))

    def batch_counts():
        s = conform_joor(
            flatten_envelope(read_bronze(spark, "joor", str(bronze)))
        )
        return {
            (r.bin, r.is_ref): r.n
            for r in s.select(
                F.least(
                    F.floor(F.col("unit_price") / 25.0).cast("int"), F.lit(9)
                ).alias("bin"),
                F.when(
                    F.col("order_ts") < F.lit("2025-06-02").cast("timestamp"),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .alias("is_ref"),
            )
            .groupBy("bin", "is_ref")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    first = {(r.bin, r.is_ref): r.n for r in drain().collect()}
    assert first == batch_counts()
    assert sum(first.values()) > 0

    # replay one existing day's file as a new late batch -> counts grow
    src = next((bronze / "joor").rglob("*.json"))
    late = bronze / "joor" / "2025" / "06" / "09"
    late.mkdir(parents=True)
    (late / "batch.json").write_text(src.read_text())

    second = {(r.bin, r.is_ref): r.n for r in drain().collect()}
    assert second == batch_counts()
    assert sum(second.values()) > sum(first.values())


def test_stream_ivf_assign_incremental_and_idempotent(spark, tmp_path):
    """Streaming IVF assignment (X2 x T5): two planted chunks drain as
    two micro-batches (maxFilesPerTrigger=1) whose union equals the
    batch assignment; a re-drain over the same checkpoint adds NOTHING
    (exactly-once); a chunk landed later is assigned incrementally as
    its own batch without reprocessing earlier vectors."""
    from multichannel_commerce_data_pipeline_spark.operators.similarity import (
        _as_double,
        ivf_assign,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_landed,
        stream_ivf_assign,
    )

    # tiny deterministic corpus: 12 vectors in 3 dims, 2 centroids
    vecs = [(i, [float(i % 3 + 1), float((i * 7) % 5 + 1), 1.0]) for i in range(12)]
    schema = "vec_id bigint, embedding array<float>"
    full = spark.createDataFrame(vecs, schema)
    cents = (
        full.filter(F.col("vec_id") % 6 == 0)
        .select(F.col("vec_id").alias("cell"), _as_double(F.col("embedding")).alias("cv"))
    )
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    full.filter(F.col("vec_id") < 4).coalesce(1).write.parquet(str(src / "b0"))
    full.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 8)).coalesce(1).write.parquet(
        str(src / "b1")
    )

    stream_ivf_assign(spark, f"{src}/b*", schema, str(out), str(ckpt), cents)
    landed = read_landed(spark, str(out))
    assert landed.select("__bid").distinct().count() == 2  # one per chunk
    assert landed.count() == 8

    # exactly-once: nothing new to drain -> no new rows, no new batches
    stream_ivf_assign(spark, f"{src}/b*", schema, str(out), str(ckpt), cents)
    again = read_landed(spark, str(out))
    assert again.count() == 8

    # late chunk: assigned as its own micro-batch, prior rows untouched
    full.filter(F.col("vec_id") >= 8).coalesce(1).write.parquet(str(src / "b2"))
    stream_ivf_assign(spark, f"{src}/b*", schema, str(out), str(ckpt), cents)
    final = read_landed(spark, str(out))
    assert final.count() == 12
    assert final.select("__bid").distinct().count() == 3

    # stream union == batch assignment, value for value
    batch, _ = ivf_assign(full, 0, centroids=cents)
    got = sorted(
        tuple(r) for r in final.select("vid", "cell", "ccos").collect()
    )
    want = sorted(tuple(r) for r in batch.select("vid", "cell", "ccos").collect())
    assert got == want


def test_stream_domain_admit_caps_across_restart(spark, tmp_path):
    """X6 × T5: the admission quota admits only the first ``cap``
    arrivals per domain, counting in checkpointed state — a second
    drain (same checkpoint) over newly-arrived files RESUMES each
    domain's count: a capped domain admits nothing more, an open one
    continues its admit_seq where it left off."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_landed,
        stream_domain_admit,
    )

    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"

    def land(name, rows):
        spark.createDataFrame(
            rows, "doc_id long, source string"
        ).coalesce(1).write.parquet(str(src / name))

    def drain():
        stream_domain_admit(
            spark,
            f"{src}/b*",
            "doc_id bigint, source string",
            str(out),
            str(ckpt),
            cap=2,
        )
        return {
            (r.doc_id, r.source, r.admit_seq)
            for r in read_landed(spark, str(out)).collect()
        }

    # a arrives 3 times (one over cap), b once
    land("b0", [(0, "a"), (1, "a"), (2, "a"), (10, "b")])
    got1 = drain()
    assert got1 == {(0, "a", 1), (1, "a", 2), (10, "b", 1)}

    # new arrivals: a is already capped (drop all), b admits exactly
    # one more — continuing its all-time sequence — then caps
    land("b1", [(5, "a"), (11, "b"), (12, "b")])
    got2 = drain()
    assert got2 == got1 | {(11, "b", 2)}


def test_stream_domain_admit_replay_is_idempotent(spark, tmp_path):
    """Admission landing is idempotent per micro-batch: re-draining
    with the same checkpoint and no new files rewrites nothing and
    duplicates nothing (each batch lands to its own overwritten dir)."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_landed,
        stream_domain_admit,
    )

    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "b")], "doc_id long, source string"
    ).coalesce(1).write.parquet(str(src / "b0"))
    for _ in range(2):
        stream_domain_admit(
            spark,
            f"{src}/b*",
            "doc_id bigint, source string",
            str(out),
            str(ckpt),
            cap=1,
        )
    rows = read_landed(spark, str(out)).collect()
    assert {(r.doc_id, r.source, r.admit_seq) for r in rows} == {
        (0, "a", 1),
        (2, "b", 1),
    }
    assert len(rows) == 2  # no duplicate landings


def test_stream_view_delta_refresh_restart_and_replay(spark, tmp_path):
    """X15 × T5: the per-batch state fold is cumulative across restarts
    (a second drain over newly-arrived files folds into the restored
    snapshot, not the init state), a drain with nothing new changes
    nothing, and the snapshot retention holds at the replay window
    (latest + predecessor)."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_snapshot,
        stream_view_delta_refresh,
    )

    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    init = spark.createDataFrame([("a", 1, 10)], "k string, cnt long, s long")

    def delta_agg(b):
        return b.groupBy("k").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("v").cast("long").alias("s"),
        )

    def merge(f):
        return f.groupBy("k").agg(
            F.sum("cnt").cast("long").alias("cnt"),
            F.sum("s").cast("long").alias("s"),
        )

    def drain():
        stream_view_delta_refresh(
            spark,
            f"{src}/b*",
            "k string, v long",
            str(out),
            str(ckpt),
            delta_agg,
            init,
            merge,
        )
        return {
            r.k: (r.cnt, r.s)
            for r in read_snapshot(spark, str(out)).collect()
        }

    def land(name, rows):
        spark.createDataFrame(rows, "k string, v long").coalesce(
            1
        ).write.parquet(str(src / name))

    land("b0", [("a", 5), ("b", 7)])
    assert drain() == {"a": (2, 15), "b": (1, 7)}

    land("b1", [("b", 3)])
    assert drain() == {"a": (2, 15), "b": (2, 10)}  # folded into restored state

    assert drain() == {"a": (2, 15), "b": (2, 10)}  # nothing new: unchanged
    snaps = [p.name for p in out.iterdir() if p.name.startswith("snap-")]
    assert len(snaps) <= 2  # retention: latest + replay-window predecessor


def test_metrics_listener_lands_per_batch_progress(spark, tmp_path):
    """T7 (metrics): the StreamingQueryListener sink records one typed
    row per micro-batch with the numbers a monitor needs — input rows
    sum to the data actually streamed, batch ids are distinct, the
    query name survives — and the rollup summarizes per query. The
    reference declares a pipeline-metrics topic and never produces to
    it; this is the engine-side producer."""
    import time as _t

    from multichannel_commerce_data_pipeline_spark.streaming.metrics import (
        MetricsRecorder,
        metrics_rollup,
        read_metrics,
    )

    src, out, ckpt, mdir = (
        tmp_path / "src",
        tmp_path / "out",
        tmp_path / "ckpt",
        tmp_path / "metrics",
    )
    rows = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).alias("k")
    )
    rows.filter(F.col("id") < 20).coalesce(1).write.parquet(f"{src}/b0")
    rows.filter(F.col("id") >= 20).coalesce(1).write.parquet(f"{src}/b1")

    rec = MetricsRecorder(str(mdir))
    spark.streams.addListener(rec)
    try:
        q = (
            spark.readStream.schema("id long, k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*")
            .writeStream.queryName("metrics_probe")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # progress events are delivered asynchronously on the listener
        # bus — give the last one a bounded moment to land
        for _ in range(50):
            if (mdir / "progress.jsonl").exists() and sum(
                1 for _l in open(mdir / "progress.jsonl")
            ) >= 2:
                break
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(rec)

    m = read_metrics(spark, str(mdir)).filter(
        F.col("query_name") == "metrics_probe"
    )
    got = m.collect()
    assert len(got) >= 2  # one per micro-batch (maxFilesPerTrigger=1)
    assert len({r.batch_id for r in got}) == len(got)
    assert sum(r.num_input_rows for r in got) == 40
    assert all(
        r.batch_duration_ms is not None and r.batch_duration_ms >= 0
        for r in got
    )
    roll = metrics_rollup(m).collect()
    assert len(roll) == 1
    r = roll[0]
    assert r.query_name == "metrics_probe"
    assert r.rows_in == 40 and r.n_batches == len(got)
    assert r.max_state_rows == 0  # a stateless sink holds no state


def test_stream_domain_admit_state_is_bounded_by_domains(spark, tmp_path):
    """The O(domains) state claim as a MEASURED number: drain the
    admission stream with the metrics listener attached and assert the
    state store never holds more rows than there are distinct domains
    — the bounded-state guarantee checked from the engine's own
    progress telemetry, not inferred from the operator's design."""
    import time as _t

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_domain_admit,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.metrics import (
        MetricsRecorder,
        read_metrics,
    )

    src, out, ckpt, mdir = (
        tmp_path / "src",
        tmp_path / "out",
        tmp_path / "ckpt",
        tmp_path / "metrics",
    )
    rows = [(i, f"d{i % 3}") for i in range(30)]
    spark.createDataFrame(rows, "doc_id long, source string").coalesce(
        1
    ).write.parquet(str(src / "b0"))

    rec = MetricsRecorder(str(mdir))
    spark.streams.addListener(rec)
    try:
        stream_domain_admit(
            spark,
            f"{src}/b*",
            "doc_id bigint, source string",
            str(out),
            str(ckpt),
            cap=2,
        )
        for _ in range(50):
            if (mdir / "progress.jsonl").exists():
                break
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(rec)

    m = read_metrics(spark, str(mdir)).filter(
        F.col("n_state_ops") > 0
    ).collect()
    assert m, "no stateful progress event landed"
    n_domains = len({s for _, s in rows})
    assert all(r.state_rows <= n_domains for r in m), [
        (r.batch_id, r.state_rows) for r in m
    ]
    assert max(r.state_rows for r in m) == n_domains  # every domain seen


def test_stream_binned_profile_state_bounded_by_bins(spark, tmp_path):
    """The drift profile's documented 2·n_bins state bound as a
    MEASURED number (the domain-admit telemetry pattern): drain with
    the metrics listener attached and assert the state store never
    holds more rows than bins × {ref, current} — stream length cannot
    grow it."""
    import shutil
    import time as _t

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_binned_profile,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.metrics import (
        MetricsRecorder,
        read_metrics,
    )

    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")
    mdir = tmp_path / "metrics"
    rec = MetricsRecorder(str(mdir))
    spark.streams.addListener(rec)
    try:
        stream_binned_profile(
            spark, "joor", str(bronze), str(tmp_path / "prof"),
            str(tmp_path / "ckpt"),
        )
        for _ in range(50):
            if (mdir / "progress.jsonl").exists():
                break
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(rec)

    m = read_metrics(spark, str(mdir)).filter(
        F.col("n_state_ops") > 0
    ).collect()
    assert m, "no stateful progress event landed"
    assert all(0 < r.state_rows <= 2 * 10 for r in m), [
        (r.batch_id, r.state_rows) for r in m
    ]


def test_stream_heavy_hitters_state_bounded_by_k_buckets(spark, tmp_path):
    """The Misra-Gries stream's O(k·buckets) state claim as a MEASURED
    number (third instance of the telemetry pattern): the state store
    holds at most one row per bucket group — key cardinality in the
    feed cannot grow it."""
    import shutil
    import time as _t

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_heavy_hitters,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.metrics import (
        MetricsRecorder,
        read_metrics,
    )

    n_buckets = 2
    bronze = tmp_path / "bronze"
    shutil.copytree(FIXTURES / "joor", bronze / "joor")
    mdir = tmp_path / "metrics"
    rec = MetricsRecorder(str(mdir))
    spark.streams.addListener(rec)
    try:
        stream_heavy_hitters(
            spark, "joor", str(bronze), str(tmp_path / "hh"),
            str(tmp_path / "ckpt"), k=6, n_buckets=n_buckets,
        )
        for _ in range(50):
            if (mdir / "progress.jsonl").exists():
                break
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(rec)

    m = read_metrics(spark, str(mdir)).filter(
        F.col("n_state_ops") > 0
    ).collect()
    assert m, "no stateful progress event landed"
    assert all(0 < r.state_rows <= n_buckets for r in m), [
        (r.batch_id, r.state_rows) for r in m
    ]


def test_stream_cusum_matches_python_recursion_across_batches(spark, sf_dir):
    """The streaming CUSUM summary must equal the textbook recursion
    replayed in exact integer-milli arithmetic in Python over the
    monitored slice — per series: day count (proving BOTH
    day-partitioned micro-batches were processed), flag count, first
    flagged day, and the max statistic — and the landed output must
    actually span two checkpointed batches (the state carried across
    the 2000-06-01 boundary, not one batch that saw everything)."""
    import os
    from decimal import Decimal

    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.queries.time_windows import (
        _CUSUM_MAD_MULT,
        _CUSUM_REF_END,
        _daily_series,
        _stream_cusum_run,
    )

    daily = _daily_series(spark, sf_dir).collect()
    import statistics

    by_series: dict[str, list] = {}
    for r in daily:
        by_series.setdefault(r.series, []).append(
            (str(r.day), Decimal(str(r.x)).quantize(Decimal("0.01")))
        )
    expect = {}
    for s, pts in by_series.items():
        pts.sort()
        ref = [x for d, x in pts if d < _CUSUM_REF_END]
        med = Decimal(str(statistics.median(ref))).quantize(Decimal("0.001"))
        mad = Decimal(
            str(
                _CUSUM_MAD_MULT
                * statistics.median(sorted(abs(x - med) for x in ref))
            )
        ).quantize(Decimal("0.001"))
        med_m, h_m = int(med * 1000), int(mad * 1000)
        st, flags, first, mx, n = 0, 0, None, 0, 0
        sn, flags_dn, first_dn, mx_dn = 0, 0, None, 0
        for d, x in pts:
            if d < _CUSUM_REF_END:
                continue
            dv = int(x * 1000) - med_m
            st = max(0, st + dv)
            mx = max(mx, st)
            sn = max(0, sn - dv)  # the r16 mirrored recursion
            mx_dn = max(mx_dn, sn)
            n += 1
            if st > h_m:
                flags += 1
                first = first or d
            if sn > h_m:
                flags_dn += 1
                first_dn = first_dn or d
        expect[s] = (
            n, flags, first, mx / 1000.0,
            flags_dn, first_dn, mx_dn / 1000.0,
        )
    got = {
        r.series: (
            r.n_days,
            r.n_flagged,
            str(r.first_flag_day.date()) if r.first_flag_day else None,
            r.max_cusum,
            r.n_flagged_down,
            str(r.first_flag_day_down.date())
            if r.first_flag_day_down
            else None,
            r.max_cusum_down,
        )
        for r in load_registry()["stream_cusum_rollup"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(expect)
    for s in expect:
        n, f, d, m, f2, d2, m2 = expect[s]
        assert got[s][:3] == (n, f, d), (s, got[s], expect[s])
        assert abs(got[s][3] - m) < 1e-9
        assert got[s][4] == f2 and got[s][5] == d2, (s, got[s], expect[s])
        assert abs(got[s][6] - m2) < 1e-9
    out = _stream_cusum_run(spark, sf_dir)
    batches = sorted(
        d for d in os.listdir(out) if d.startswith("batch-")
    )
    assert batches == ["batch-0", "batch-1"], batches


def test_stream_cusum_state_bounded_by_series(spark, sf_dir, tmp_path):
    """The CUSUM monitor's documented O(series) state bound as a
    MEASURED number (the domain-admit telemetry pattern): drain a
    fresh monitor run with the metrics listener attached and assert
    the state store never holds more rows than distinct series —
    stream length cannot grow it."""
    import time as _t

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        stream_cusum_monitor,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.metrics import (
        MetricsRecorder,
        read_metrics,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    rows = [
        ("A", "2024-01-0%d" % d, 1000 + 50 * d) for d in range(1, 8)
    ] + [("B", "2024-01-0%d" % d, 2000 - 10 * d) for d in range(1, 8)]
    src = tmp_path / "src"
    spark.createDataFrame(
        rows, "series string, day string, x_milli bigint"
    ).coalesce(1).write.parquet(str(src / "b0"))
    mdir = tmp_path / "metrics"
    rec = MetricsRecorder(str(mdir))
    spark.streams.addListener(rec)
    try:
        stream_cusum_monitor(
            spark,
            str(src / "b*"),
            "series string, day string, x_milli bigint",
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            {"A": (1100, 200), "B": (1950, 100)},
        )
        for _ in range(50):
            if (mdir / "progress.jsonl").exists():
                break
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(rec)
    m = (
        read_metrics(spark, str(mdir))
        .filter(F.col("n_state_ops") > 0)
        .collect()
    )
    assert m, "no stateful progress event landed"
    assert all(r.state_rows <= 2 for r in m), [
        (r.batch_id, r.state_rows) for r in m
    ]
    assert max(r.state_rows for r in m) == 2  # every series seen


def test_stream_cusum_detects_planted_shift(spark, tmp_path):
    """Detection semantics, not just equality: a series flat at its
    reference median must never flag, and a series with a planted
    upward mean shift must first flag shortly AFTER the shift point —
    the accumulate-small-persistent-shift property CUSUM exists for."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_latest,
        stream_cusum_monitor,
    )

    flat = [("flat", f"2024-01-{d:02d}", 1000) for d in range(1, 21)]
    # shifted: reference-level until day 10, then +80/day vs median
    shifted = [
        ("shift", f"2024-01-{d:02d}", 1000 if d <= 10 else 1080)
        for d in range(1, 21)
    ]
    # collapsed: reference-level until day 10, then -80/day — the
    # r16 mirrored statistic's planted case
    collapsed = [
        ("collapse", f"2024-01-{d:02d}", 1000 if d <= 10 else 920)
        for d in range(1, 21)
    ]
    src = tmp_path / "src"
    spark.createDataFrame(
        flat + shifted + collapsed,
        "series string, day string, x_milli bigint",
    ).coalesce(1).write.parquet(str(src / "b0"))
    # med = 1000, h = 200: the shifted series accumulates 80/day after
    # day 10, crossing h=200 on day 13 (3 * 80 = 240 > 200); the
    # collapsed series does the same in the downward statistic
    stream_cusum_monitor(
        spark,
        str(src / "b*"),
        "series string, day string, x_milli bigint",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        {"flat": (1000, 200), "shift": (1000, 200), "collapse": (1000, 200)},
    )
    got = {
        r.series: r
        for r in read_latest(spark, str(tmp_path / "out"), "series").collect()
    }
    assert got["flat"].n_flagged == 0 and got["flat"].first_flag_day == ""
    assert got["flat"].n_flagged_down == 0
    assert got["shift"].first_flag_day == "2024-01-13"
    assert got["shift"].n_flagged == 8  # days 13..20
    assert got["shift"].max_cusum_milli == 10 * 80
    assert got["shift"].n_flagged_down == 0  # a ramp never alarms down
    assert got["collapse"].n_flagged == 0  # a collapse never alarms up
    assert got["collapse"].first_flag_day_down == "2024-01-13"
    assert got["collapse"].n_flagged_down == 8
    assert got["collapse"].max_cusum_down_milli == 10 * 80


def test_stream_erasure_cascade_converges_and_restart(spark, sf_dir, tmp_path):
    """T5 × X17 (r16): two tombstone micro-batches must cascade to
    exactly the batch anti-join erasure over the CUMULATIVE key set
    (including orders->lineitem cascades crossing the batch
    boundary), land one audit table per batch, and a re-drain with
    the same checkpoint and no new requests must change nothing —
    the stream_merge_snapshot restart contract."""
    import json as _json

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        snapshot_path,
        stream_erasure_apply,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    cust = load(spark, sf_dir, "customer")
    keys = [r.c_custkey for r in cust.select("c_custkey").limit(6).collect()]
    b1, b2 = keys[:3], keys[3:]
    src = tmp_path / "tomb"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(_json.dumps({"c_custkey": k, "op": "delete"}) for k in b1)
    )
    (src / "b1.json").write_text(
        "\n".join(_json.dumps({"c_custkey": k, "op": "delete"}) for k in b2)
    )
    snap, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    stream_erasure_apply(
        spark, f"{src}/b*.json", "c_custkey bigint, op string",
        sf_dir, snap, ckpt,
    )
    from pathlib import Path as _P

    latest = snapshot_path(snap, None)
    tomb = spark.createDataFrame([(k,) for k in keys], "c_custkey bigint")
    want_c = cust.join(tomb, "c_custkey", "left_anti")
    orders = load(spark, sf_dir, "orders")
    want_o = orders.join(
        tomb, orders.o_custkey == tomb.c_custkey, "left_anti"
    )
    gone = orders.join(
        tomb, orders.o_custkey == tomb.c_custkey, "left_semi"
    ).select("o_orderkey")
    li = load(spark, sf_dir, "lineitem")
    want_l = li.join(gone, li.l_orderkey == gone.o_orderkey, "left_anti")
    for t, want, key in (
        ("customer", want_c, "c_custkey"),
        ("orders", want_o, "o_orderkey"),
        ("lineitem", want_l, "l_orderkey"),
    ):
        got = spark.read.parquet(f"{latest}/{t}")
        assert got.count() == want.count()
        assert (
            got.select(key)
            .exceptAll(want.select(key))
            .union(want.select(key).exceptAll(got.select(key)))
            .count()
            == 0
        ), t
    audits = sorted(
        p.name for p in _P(snap).iterdir() if p.name.startswith("audit-")
    )
    assert audits == ["audit-0", "audit-1"]
    a1 = {
        r.table_name: (r.rows_after, r.digest)
        for r in spark.read.parquet(f"{snap}/audit-1").collect()
    }
    assert set(a1) == {"customer", "orders", "lineitem"}
    # restart with same checkpoint: no new requests -> nothing moves
    stream_erasure_apply(
        spark, f"{src}/b*.json", "c_custkey bigint, op string",
        sf_dir, snap, ckpt,
    )
    assert snapshot_path(snap, None) == latest
    assert {
        r.table_name: (r.rows_after, r.digest)
        for r in spark.read.parquet(f"{snap}/audit-1").collect()
    } == a1


def test_stream_erasure_replay_from_scratch_converges(spark, sf_dir, tmp_path):
    """Replaying the full request stream against a FRESH checkpoint
    (lost-checkpoint recovery) rewrites the snapshot chain and
    converges to the identical final state — tombstone application is
    idempotent, so at-least-once delivery can never over- or
    under-delete."""
    import json as _json

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        snapshot_path,
        stream_erasure_apply,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    keys = [
        r.c_custkey
        for r in load(spark, sf_dir, "customer")
        .select("c_custkey")
        .limit(4)
        .collect()
    ]
    src = tmp_path / "tomb"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(
            _json.dumps({"c_custkey": k, "op": "delete"}) for k in keys
        )
    )
    snap = str(tmp_path / "snap")
    stream_erasure_apply(
        spark, f"{src}/b*.json", "c_custkey bigint, op string",
        sf_dir, snap, str(tmp_path / "ckpt1"),
    )
    latest = snapshot_path(snap, None)
    d1 = {
        r.table_name: (r.rows_after, r.digest)
        for r in spark.read.parquet(f"{snap}/audit-0").collect()
    }
    stream_erasure_apply(
        spark, f"{src}/b*.json", "c_custkey bigint, op string",
        sf_dir, snap, str(tmp_path / "ckpt2"),
    )
    assert snapshot_path(snap, None) == latest
    assert {
        r.table_name: (r.rows_after, r.digest)
        for r in spark.read.parquet(f"{snap}/audit-0").collect()
    } == d1


def test_stream_erasure_snapshot_retention_bounded(spark, sf_dir, tmp_path):
    """Each erasure snapshot is a full copy-on-write warehouse tree,
    so retention must bound the chain: after N batches only the
    latest + predecessor snapshots survive (the replay window), while
    every per-batch audit table remains as the deletion-provenance
    ledger — and the retained latest still equals the cumulative
    cascade."""
    import json as _json
    from pathlib import Path as _P

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        snapshot_path,
        stream_erasure_apply,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    keys = [
        r.c_custkey
        for r in load(spark, sf_dir, "customer")
        .select("c_custkey")
        .limit(6)
        .collect()
    ]
    src = tmp_path / "tomb"
    src.mkdir()
    for i, batch in enumerate([keys[0:2], keys[2:4], keys[4:6]]):
        (src / f"b{i}.json").write_text(
            "\n".join(
                _json.dumps({"c_custkey": k, "op": "delete"}) for k in batch
            )
        )
    snap = str(tmp_path / "snap")
    stream_erasure_apply(
        spark, f"{src}/b*.json", "c_custkey bigint, op string",
        sf_dir, snap, str(tmp_path / "ckpt"),
    )
    names = {p.name for p in _P(snap).iterdir()}
    assert {"snap-1", "snap-2", "audit-0", "audit-1", "audit-2"} <= names
    assert "snap-0" not in names  # pruned past the replay window
    assert snapshot_path(snap, None) == f"{snap}/snap-2"
    tomb = spark.createDataFrame([(k,) for k in keys], "c_custkey bigint")
    want = (
        load(spark, sf_dir, "customer")
        .join(tomb, "c_custkey", "left_anti")
        .count()
    )
    got = spark.read.parquet(f"{snap}/snap-2/customer").count()
    assert got == want


def test_stream_ndv_state_bounded_and_equals_batch_fold(spark, sf_dir):
    """The streamed NDV registers must stay <= m rows in EVERY landed
    state snapshot (register state is bounded by construction, not by
    luck), span two micro-batches, and the final state must equal the
    batch bucket-wise-MIN fold of base state + the full delta slice
    computed directly."""
    import os

    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        minhash_distinct_sketch,
    )
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _MH_M,
        _MH_SEED,
    )
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        _HDM_CUT,
        _stream_ndv_run,
        ensure_ndv_state,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_snapshot,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    out = _stream_ndv_run(spark, sf_dir)
    states = sorted(d for d in os.listdir(out) if d.startswith("snap-"))
    assert len(states) >= 1 and "snap-1" in states  # two batches drained
    for d in states:
        assert spark.read.parquet(f"{out}/{d}").count() <= _MH_M
    got = {
        (r.bucket, r.min_h)
        for r in read_snapshot(spark, out).collect()
    }
    base = spark.read.parquet(ensure_ndv_state(spark, sf_dir))
    delta = minhash_distinct_sketch(
        load(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") >= F.lit(_HDM_CUT).cast("timestamp")
        ),
        F.col("l_partkey"),
        m=_MH_M,
        seed=_MH_SEED,
    )
    want = {
        (r.bucket, r.min_h)
        for r in base.unionByName(delta)
        .groupBy("bucket")
        .agg(F.min("min_h").alias("min_h"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_read_snapshot_serves_newest_from_the_listing(spark, tmp_path):
    """The snapshot chain's reader: the newest published version is
    found from the directory listing (no Spark job), read as a plain
    scan (no window, no join, no ``__bid``), and a named version is
    served or refused by name. Two complete-mode shapes: the Count-Min
    grid and the binned profile. Each publish is handed the snapshot
    before it as its base, never its own dir."""
    import pytest

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        publish_snapshot,
        read_snapshot,
        snapshot_path,
        vacuum_snapshots,
    )

    tracker = spark.sparkContext.statusTracker()

    def chain(name, cols):
        out = str(tmp_path / name)
        bases = []
        for bid in range(3):
            d = spark.range(4).selectExpr(*cols).filter(f"id_ >= {bid}")

            def write(base, path, d=d):
                bases.append(base)
                d.drop("id_").write.parquet(path)

            publish_snapshot(out, bid, write)
        assert bases == [None, f"{out}/snap-0", f"{out}/snap-1"]
        assert vacuum_snapshots(out) == ["snap-0"]
        jobs = len(tracker.getJobIdsForGroup())
        assert snapshot_path(out, None) == f"{out}/snap-2"
        assert len(tracker.getJobIdsForGroup()) == jobs  # listing only
        got = read_snapshot(spark, out)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan and "Join" not in plan, plan
        assert "__bid" not in got.columns
        with pytest.raises(FileNotFoundError, match="snap-0"):
            read_snapshot(spark, out, 0)
        return got.collect(), read_snapshot(spark, out, 1).collect()

    grid, grid_v1 = chain(
        "cm", ["id AS id_", "id AS j", "id AS bucket", "id AS cell"]
    )
    assert sorted(r.j for r in grid) == [2, 3]
    assert sorted(r.j for r in grid_v1) == [1, 2, 3]

    prof, _ = chain("prof", ["id AS id_", "id AS bin", "id % 2 AS is_ref", "id AS n"])
    assert sorted(r.bin for r in prof) == [2, 3]


# --- replay coverage for every snapshot writer ------------------------
# Each writer republishes its whole state per micro-batch through the
# snapshot chain. Two replays must leave the chain as the first run
# left it: (a) the crash window — the sink published batch N but the
# checkpoint never committed it, so the next drain re-runs batch N
# against the same checkpoint; (b) a lost checkpoint — the same feed
# drains again from a fresh checkpoint into the same out dir.


def _merge_writer(spark, sf_dir, tmp_path):
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        read_snapshot,
        stream_merge_snapshot,
    )

    schema = "k long, v string, seq long, del boolean"
    feed = Feed("mcdp_merge_test_", str(tmp_path))
    feed.push(spark.createDataFrame([(1, "a", 10, False), (2, "b", 11, False)], schema), "json")
    feed.push(
        spark.createDataFrame(
            [(1, "a2", 20, False), (2, "b", 21, True), (3, "c", 22, False)], schema
        ),
        "json",
    )
    out = str(tmp_path / "snap")

    def run(ckpt):
        stream_merge_snapshot(
            spark, feed.glob, schema, out, str(tmp_path / ckpt),
            ["k"], "seq", delete_col="del",
        )

    def rows(v):
        return sorted(tuple(r) for r in read_snapshot(spark, out, v).collect())

    return run, out, rows


def _view_fold_writer(spark, sf_dir, tmp_path):
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        read_snapshot,
        stream_view_delta_refresh,
    )

    feed = Feed("mcdp_fold_test_", str(tmp_path))
    for batch in ([("a", 5), ("b", 7)], [("b", 3)], [("c", 1)]):
        feed.push(spark.createDataFrame(batch, "k string, v long"))
    out = str(tmp_path / "out")
    init = spark.createDataFrame([("a", 1, 10)], "k string, cnt long, s long")

    def run(ckpt):
        stream_view_delta_refresh(
            spark,
            feed.glob,
            "k string, v long",
            out,
            str(tmp_path / ckpt),
            lambda b: b.groupBy("k").agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum("v").cast("long").alias("s"),
            ),
            init,
            lambda f: f.groupBy("k").agg(
                F.sum("cnt").cast("long").alias("cnt"),
                F.sum("s").cast("long").alias("s"),
            ),
        )

    def rows(v):
        return sorted(tuple(r) for r in read_snapshot(spark, out, v).collect())

    return run, out, rows


def _erasure_writer(spark, sf_dir, tmp_path):
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        snapshot_path,
        stream_erasure_apply,
    )

    feed = Feed("mcdp_erase_test_", str(tmp_path))
    for keys in ([1, 2], [3, 4]):
        feed.push(
            spark.createDataFrame([(k, "delete") for k in keys], "c_custkey long, op string"),
            "json",
        )
    out = str(tmp_path / "snap")

    def run(ckpt):
        stream_erasure_apply(
            spark, feed.glob, "c_custkey bigint, op string",
            sf_dir, out, str(tmp_path / ckpt),
        )

    def rows(v):
        snap = snapshot_path(out, v)
        return [
            (t, spark.read.parquet(f"{snap}/{t}").count())
            for t in ("customer", "orders", "lineitem")
        ] + sorted(
            tuple(r) for r in spark.read.parquet(f"{out}/audit-{v}").collect()
        )

    return run, out, rows


def _complete_writer(spark, sf_dir, tmp_path):
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        read_snapshot,
        stream_line_df_sketch,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * j) % 7}" for j in range(25))) for i in range(6)],
        "doc_id long, text string",
    )
    feed = Feed("mcdp_sketch_test_", str(tmp_path))
    for rem in (0, 1):
        feed.push(docs.filter(F.col("doc_id") % 2 == rem))
    out = str(tmp_path / "out")

    def run(ckpt):
        stream_line_df_sketch(
            spark,
            feed.glob,
            "doc_id bigint, text string",
            out,
            str(tmp_path / ckpt),
        )

    def rows(v):
        return sorted(tuple(r) for r in read_snapshot(spark, out, v).collect())

    return run, out, rows


SNAPSHOT_WRITERS = {
    "merge": _merge_writer,
    "view_fold": _view_fold_writer,
    "erasure": _erasure_writer,
    "complete": _complete_writer,
}


def _versions(out):
    return sorted(
        int(p.name[len("snap-"):])
        for p in Path(out).iterdir()
        if p.name.startswith("snap-")
    )


def _uncommit_last(ckpt: Path) -> int:
    """Drop the newest ``commits/<bid>`` entry (and its checksum) from a
    checkpoint: the state a crash between the sink write and the commit
    leaves behind."""
    commits = ckpt / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    for p in commits.iterdir():
        if p.name in (str(last), f".{last}.crc"):
            p.unlink()
    return last


@pytest.mark.parametrize("writer", sorted(SNAPSHOT_WRITERS))
def test_snapshot_writer_crash_window_replay(spark, sf_dir, tmp_path, writer):
    """(a) The sink published batch N, the checkpoint did not commit it:
    the next drain re-runs batch N, republishes its snapshot from the
    one before it, and the newest snapshot's rows are unchanged."""
    import os

    run, out, rows = SNAPSHOT_WRITERS[writer](spark, sf_dir, tmp_path)
    run("ckpt")
    newest = _versions(out)[-1]
    first = rows(newest)
    inode = os.stat(f"{out}/snap-{newest}").st_ino
    assert _uncommit_last(tmp_path / "ckpt") == newest
    run("ckpt")
    assert _versions(out)[-1] == newest
    assert os.stat(f"{out}/snap-{newest}").st_ino != inode  # republished
    assert rows(newest) == first


@pytest.mark.parametrize("writer", sorted(SNAPSHOT_WRITERS))
def test_snapshot_writer_lost_checkpoint_replay(spark, sf_dir, tmp_path, writer):
    """(b) The same feed drains again from a fresh checkpoint into the
    same out dir: batch 0 starts over from the writer's initial state,
    each later batch builds on the version before it, and every
    retained version equals the first run's."""
    run, out, rows = SNAPSHOT_WRITERS[writer](spark, sf_dir, tmp_path)
    run("ckpt1")
    first = {v: rows(v) for v in _versions(out)}
    assert len(first) >= 2
    run("ckpt2")
    assert {v: rows(v) for v in _versions(out)} == first
