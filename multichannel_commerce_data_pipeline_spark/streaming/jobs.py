"""Streaming jobs: file-source bronze → conformed silver parquet.

The reference "streams" by re-running a batch job every 60 s with a
non-atomic high-watermark file (bronze_to_silver_all_sources.py:9-17,
93-94; Dockerfile.all-sources-batch CMD loop) — at-least-once with
silent late-data drop. This module replaces that with Structured
Streaming:

* ``checkpointLocation`` gives exactly-once file-sink semantics across
  restarts (T2) — no duplicate rows after a crash, no checkpoint race;
* ``withWatermark`` bounds late-data state instead of dropping anything
  that missed a poll window (T3);
* ``dropDuplicatesWithinWatermark`` deduplicates re-delivered messages
  (Kafka at-least-once redelivery) inside the watermark (T5);
* ``Trigger.AvailableNow`` drains everything available then stops (T1;
  :func:`drain`, the one place a job starts);
* the sink partitions by source/date (T6/S9) so downstream readers get
  partition pruning instead of a 4-level wildcard listing.

At scale the same code runs unchanged against a Kafka source
(streaming/kafka.py) and thousands of files per trigger:
``maxFilesPerTrigger`` bounds micro-batch size, and state (dedup keys
inside the watermark) lives in the state store, sized by key cardinality
per watermark window — not by stream length.

Every job here is built from the same shared pieces: a feed reader
(:func:`read_bronze_stream` for the bronze drop, :func:`read_feed` for a
chunked file feed), :func:`land_batch` for an idempotent per-batch
landing, :func:`drain` to run the writer, and :func:`read_latest` /
:func:`read_landed` to read a landing back. A driver-checkable stream
query builds its scratch dirs and arrival feed with :class:`Feed`.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from multichannel_commerce_data_pipeline_spark.pipeline import silver as silver_mod
from multichannel_commerce_data_pipeline_spark.pipeline.bronze import flatten_envelope
from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
    bronze_glob,
    spark_envelope_ddl,
)

CONFORMERS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "joor": silver_mod.conform_joor,
    "shopify": silver_mod.conform_shopify,
    "tiktok": silver_mod.conform_tiktok,
    "freight": silver_mod.conform_freight,
    "gsheets": silver_mod.conform_gsheets,
}

# Live scratch dirs per stream-query prefix, newest last; at most the
# two most recent generations are retained (see fresh_stream_dir).
_STREAM_DIRS: dict[str, list[str]] = {}
_STREAM_DIRS_SWEEP = False


def fresh_stream_dir(prefix: str) -> str:
    """A fresh temp working dir (landing + checkpoint) for a
    driver-checkable stream run, with a bounded lifetime: the TWO most
    recent dirs per prefix are retained and anything older is removed,
    with whatever is still live swept at interpreter exit. Repeated
    stream_* query invocations (bench cold+warm passes, test loops)
    therefore hold at most two scratch dirs per query instead of
    accumulating one per call — and, because the stream_* queries
    return LAZY readers over the landing dir, a caller that still
    holds the previous invocation's DataFrame (e.g. a harness
    re-collecting the cold-pass result after the warm pass has begun)
    reads intact parquet rather than a deleted directory. Only the
    generation before that — which would require holding a frame
    across TWO newer invocations of the same query — is reclaimed
    eagerly."""
    import atexit
    import shutil
    import tempfile

    global _STREAM_DIRS_SWEEP
    live = _STREAM_DIRS.setdefault(prefix, [])
    while len(live) >= 2:
        shutil.rmtree(live.pop(0), ignore_errors=True)
    if not _STREAM_DIRS_SWEEP:
        _STREAM_DIRS_SWEEP = True
        atexit.register(
            lambda: [
                shutil.rmtree(d, ignore_errors=True)
                for dirs in _STREAM_DIRS.values()
                for d in dirs
            ]
        )
        # Orphan sweep, once per process: atexit never fires for a
        # killed process (harness timeouts, SIGKILL), so mcdp_* scratch
        # from dead runs accumulates in the temp dir across rounds
        # (observed: 665 orphans). Age-by-mtime alone does not prove the
        # owner is dead (the top-level mkdtemp mtime is set at creation
        # and never refreshed by writes in nested subdirs — r9 advice
        # #1), so every dir we create carries an owner.pid marker and
        # the sweep skips any aged dir whose recorded pid is still
        # alive. Dirs with no marker predate this scheme and are known
        # dead (previous rounds' processes).
        horizon = time.time() - 12 * 3600
        tmp_root = tempfile.gettempdir()
        try:
            for entry in os.scandir(tmp_root):
                if (
                    entry.name.startswith("mcdp_")
                    and entry.is_dir(follow_symlinks=False)
                    and entry.stat(follow_symlinks=False).st_mtime < horizon
                    and not _owner_alive(os.path.join(entry.path, "owner.pid"))
                ):
                    shutil.rmtree(entry.path, ignore_errors=True)
        except OSError:
            pass  # unreadable temp dir: skip the sweep, never fail a query
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        with open(os.path.join(tmp, "owner.pid"), "w") as f:
            f.write(str(os.getpid()))
    except OSError:
        pass  # marker is best-effort; its absence only risks a sweep
    live.append(tmp)
    return tmp


def _owner_alive(pidfile: str) -> bool:
    """True iff the scratch dir's owner.pid marker names a process that
    still exists (signal 0 probe; EPERM counts as alive). ABSENT or
    UNPARSEABLE marker -> not alive (sweepable: missing means the
    best-effort write never happened and the 12 h age gate already
    passed; garbage means the same). A marker that EXISTS but cannot be
    READ (permissions on a shared temp dir) -> alive: the sweep must
    never rmtree a dir whose owner it could not actually check (r10
    advice #4)."""
    try:
        with open(pidfile) as f:
            pid = int(f.read().strip())
    except FileNotFoundError:
        return False  # no marker: sweepable
    except ValueError:
        return False  # unparseable marker: sweepable
    except OSError:
        return True  # marker exists but is unreadable: assume alive
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except OSError:
        return True  # EPERM etc.: the pid exists


class Feed:
    """The scratch dirs and arrival feed of one driver-checkable stream
    run: ``src`` (the feed, matched by ``glob``), ``out`` (the landing)
    and ``ckpt`` (the checkpoint) under one :func:`fresh_stream_dir`.
    The dir prefix carries an md5 tag of the corpus dir, so memoized
    runs over two corpora never evict each other's live dirs.

    The file source drains oldest modification time first
    (``latestFirst`` defaults false), so arrival order is mtime order.
    :meth:`push` lands chunk *i* as one file under ``src/b{i}`` and
    :meth:`arrived` pins every file of a chunk one second after the
    previous chunk's: under :func:`read_feed`'s one-file triggers chunk
    *i* is micro-batch *i* by construction, not by the luck of
    file-system timestamp granularity, also when the stream drains
    between chunks."""

    def __init__(self, prefix: str, sf_dir: str) -> None:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        root = fresh_stream_dir(f"{prefix}{tag}_")
        self.src, self.out, self.ckpt = f"{root}/src", f"{root}/out", f"{root}/ckpt"
        self.glob = f"{self.src}/b*"
        self._chunks = 0
        self._mtime = 0.0

    def push(self, df: DataFrame, fmt: str = "parquet") -> None:
        """Land ``df`` as the next chunk: one ``fmt`` file, pinned."""
        path = f"{self.src}/b{self._chunks}"
        df.coalesce(1).write.mode("overwrite").format(fmt).save(path)
        self.arrived(path)

    def arrived(self, path: str) -> None:
        """Pin every file under ``path`` (a chunk written by hand) one
        second after the previous chunk's files."""
        self._mtime = max(float(int(time.time())), self._mtime + 1)
        for root, _, names in os.walk(path):
            for name in names:
                os.utime(os.path.join(root, name), (self._mtime, self._mtime))
        self._chunks += 1


def read_bronze_stream(spark: SparkSession, source: str, root: str) -> DataFrame:
    """Streaming S1: the same explicit-schema JSON scan as the batch
    path, as an incremental file source. A bronze drop is drained
    whole: one micro-batch per trigger."""
    return spark.readStream.schema(spark_envelope_ddl(source)).json(
        bronze_glob(source, root)
    )


def read_feed(
    spark: SparkSession, schema_ddl: str, glob: str, fmt: str = "parquet"
) -> DataFrame:
    """A chunked file feed (:class:`Feed`) as a stream, one file per
    micro-batch (``maxFilesPerTrigger`` 1): each arriving chunk is its
    own batch, so a job proves its incremental path instead of
    draining everything in one gulp."""
    return (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", 1)
        .format(fmt)
        .load(glob)
    )


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """Start ``writer`` checkpointed under ``checkpoint_dir`` with
    ``Trigger.AvailableNow``, which drains everything available then
    stops, and wait for it. Every stream job starts here. On a real
    deployment the trigger becomes the reference's loop cadence,
    ``trigger(processingTime="60 seconds")`` (300 s for the gold
    refresh), and the caller keeps the returned query running instead
    of waiting for it."""
    query = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def land_batch(
    batch_df: DataFrame, out_dir: str, batch_id: int, complete: bool = False
) -> None:
    """Idempotent foreachBatch landing. foreachBatch is at-least-once:
    a crash after the sink write but before the checkpoint commit
    replays the whole micro-batch with the SAME batch_id. Appending
    would duplicate those rows forever; writing each micro-batch with
    a ``__bid`` column to its own ``batch-<id>`` subdirectory with
    overwrite makes the replay converge to the same files instead.

    A ``complete``-mode sink re-emits the WHOLE (bounded) state each
    trigger, so every older ``batch-<id>`` directory is dead the moment
    this one commits: they are pruned here, keeping a long-lived
    cumulative sink's storage and read-side listing O(state), not
    O(triggers). Hadoop FS API, so the same prune works on an object
    store. Read the landing back with :func:`read_landed` or
    :func:`read_latest`."""
    batch_df.withColumn("__bid", F.lit(batch_id)).write.mode("overwrite").parquet(
        f"{out_dir}/batch-{batch_id}"
    )
    if complete:
        sess = batch_df.sparkSession
        root = sess._jvm.org.apache.hadoop.fs.Path(out_dir)
        fs = root.getFileSystem(sess._jsc.hadoopConfiguration())
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("batch-") and name != f"batch-{batch_id}":
                fs.delete(st.getPath(), True)


def read_landed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every row :func:`land_batch` landed under ``out_dir``, across
    batches, with its ``__bid``. When each input row arrives once, this
    is the whole result."""
    return spark.read.option("recursiveFileLookup", "true").parquet(out_dir)


def read_latest(spark: SparkSession, out_dir: str, *keys: str) -> DataFrame:
    """The current state of a landing: per (non-null) key, the rows of
    the newest batch that emitted the key, ``__bid`` dropped. An
    update-mode stream re-emits a key only in batches that bring it
    data, so the newest batch dir alone can miss quiet keys; with no
    keys (complete mode re-emits everything) it is the newest batch.

    The landed rows grow with TRIGGER COUNT, so the latest-batch filter
    is never a window (an unpartitioned one moves every batch's rows to
    ONE task): max(__bid) partial-aggregates map-side and joins back as
    a broadcast of one row per key, which the stream's bounded state
    keeps small (r17 window audit, guide §2.4)."""
    rows = read_landed(spark, out_dir)
    newest = rows.groupBy(*keys).agg(F.max("__bid").alias("__bid"))
    return rows.join(F.broadcast(newest), [*keys, "__bid"]).drop("__bid")


def conform_stream(
    bronze: DataFrame,
    source: str,
    watermark: str = "1 day",
    dedup_keys: tuple[str, ...] | None = None,
) -> DataFrame:
    """Envelope flatten → silver conformance → watermark → stateful
    dedup. Pure transformation: works on both batch and streaming
    frames (the batch-equivalence tests rely on this)."""
    conformed = CONFORMERS[source](flatten_envelope(bronze))
    out = conformed.withColumn(
        "bronze_ts", F.col("bronze_timestamp").try_cast("timestamp")
    ).withWatermark("bronze_ts", watermark)
    if dedup_keys:
        if out.isStreaming:
            out = out.dropDuplicatesWithinWatermark(list(dedup_keys))
        else:
            out = out.dropDuplicates(list(dedup_keys))
    return out


def stream_bronze_to_silver(
    spark: SparkSession,
    source: str,
    bronze_root: str,
    silver_dir: str,
    checkpoint_dir: str,
    dedup_keys: tuple[str, ...] | None = None,
) -> StreamingQuery:
    """One incremental bronze→silver drain (Trigger.AvailableNow):
    restart-idempotent via the checkpoint, deduplicated within the
    watermark, landed as date-partitioned parquet."""
    stream = conform_stream(
        read_bronze_stream(spark, source, bronze_root), source, dedup_keys=dedup_keys
    ).withColumn("p_date", F.to_date("bronze_ts"))
    return drain(
        stream.writeStream.format("parquet")
        .option("path", silver_dir)
        .outputMode("append")
        .partitionBy("p_date"),
        checkpoint_dir,
    )


def stream_stateful_running_totals(
    spark: SparkSession,
    source: str,
    bronze_root: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Custom stateful streaming operator (X5 × T5):
    ``applyInPandasWithState`` keeps an explicit per-key running total
    across micro-batches AND across restarts (state lives in the
    checkpoint's state store, not in the process).

    Emits one row per key per micro-batch: rows seen in the batch and
    the all-time running total. This is the operator shape for anything
    cumulative the built-in aggregates can't express incrementally —
    running sessions, monotonic counters, per-entity CDC folds. State
    size is O(keys), independent of stream length; the pandas hook is
    Arrow-batched, not per-row.

    The sink goes through foreachBatch → parquet append because update
    output from an arbitrary stateful operator has no direct file-sink
    mode; at scale foreachBatch is also where the JDBC edge would sit
    (reference's silver writer, bronze_to_silver_all_sources.py:82-90).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        n = 0
        for pdf in pdfs:
            n += len(pdf)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame(
            {"source": [key[0]], "batch_rows": [n], "total_rows": [total]}
        )

    conformed = conform_stream(
        read_bronze_stream(spark, source, bronze_root), source
    )
    totals = (
        conformed.withColumn("__key", F.lit(source))
        .groupBy("__key")
        .applyInPandasWithState(
            fold,
            "source STRING, batch_rows BIGINT, total_rows BIGINT",
            "total BIGINT",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    return drain(
        totals.writeStream.foreachBatch(
            lambda df, _bid: df.write.mode("append").parquet(out_dir)
        ).outputMode("update"),
        checkpoint_dir,
    )


def stream_bronze_to_silver_jdbc(
    spark: SparkSession,
    source: str,
    bronze_root: str,
    jdbc_url: str,
    table: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The reference's exact write path — conformed silver rows appended
    to a relational store (bronze_to_silver_all_sources.py:82-90) — as a
    checkpointed stream. Exactly-once overall: the checkpoint replays a
    failed batch, and the sink is ``write_jdbc_idempotent`` —
    delete-then-append keyed on the micro-batch id — so a crash between
    the JDBC commit and the checkpoint commit cannot duplicate rows
    (the replay deletes the dead attempt's rows first). Landed rows
    carry a ``__batch_id`` column; plain at-least-once append is
    available via ``write_jdbc_append`` for sinks where a lineage
    column is unacceptable. The one-day watermark is the parquet
    landing's; only the sink differs."""
    from multichannel_commerce_data_pipeline_spark.sources.jdbc import (
        write_jdbc_idempotent,
    )

    stream = conform_stream(
        read_bronze_stream(spark, source, bronze_root), source
    ).drop("bronze_ts")
    return drain(
        stream.writeStream.foreachBatch(
            lambda df, bid: write_jdbc_idempotent(df, jdbc_url, table, bid)
        ).outputMode("append"),
        checkpoint_dir,
    )


def stream_orders_with_freight(
    spark: SparkSession,
    bronze_root: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream-stream inner join (the reference's order⟕freight
    enrichment, silver_to_gold.py:512-516, computed in-flight): wholesale
    orders joined to freight shipments on the order reference, with
    watermarks on BOTH sides plus an event-time range constraint so each
    side's join state is bounded — Spark buffers only rows inside the
    watermark+window horizon, the requirement for an unbounded-stream
    join to run forever. Append output emits a pair once both sides have
    arrived and the watermark has passed."""
    # each side gets exactly ONE watermark, applied after the rename
    # (a second withWatermark on a derived column is a redefinition,
    # which streaming rejects)
    orders = (
        CONFORMERS["joor"](
            flatten_envelope(read_bronze_stream(spark, "joor", bronze_root))
        )
        .select(
            "order_id",
            "buyer_name",
            "unit_price",
            "quantity",
            F.col("bronze_timestamp").try_cast("timestamp").alias("order_bts"),
        )
        .withWatermark("order_bts", "2 days")
    )
    freight = (
        CONFORMERS["freight"](
            flatten_envelope(read_bronze_stream(spark, "freight", bronze_root))
        )
        .select(
            "shipment_id",
            "order_reference",
            "cost",
            "carrier",
            F.col("bronze_timestamp").try_cast("timestamp").alias("freight_bts"),
        )
        .withWatermark("freight_bts", "2 days")
    )
    joined = orders.join(
        freight,
        (F.col("order_id") == F.col("order_reference"))
        & (
            F.col("freight_bts")
            >= F.col("order_bts") - F.expr("INTERVAL 2 days")
        )
        & (
            F.col("freight_bts")
            <= F.col("order_bts") + F.expr("INTERVAL 2 days")
        ),
        "inner",
    ).select(
        "order_id", "buyer_name", "unit_price", "quantity",
        "shipment_id", "cost", "carrier",
    )
    return drain(
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


def stream_windowed_counts(
    spark: SparkSession,
    source: str,
    bronze_root: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
) -> StreamingQuery:
    """T4: streaming tumbling-window aggregate (count + revenue-ish sum
    per window) with watermark-gated append output — the daily-grain
    rollup the reference imposes via date_key, computed incrementally."""
    conformed = conform_stream(
        read_bronze_stream(spark, source, bronze_root), source, watermark
    )
    agg = (
        conformed.groupBy(F.window("bronze_ts", "1 day").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_rows",
        )
    )
    return drain(
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


def stream_gold_cm2_refresh(
    spark: SparkSession,
    bronze_root: str,
    silver_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The reference's gold cadence loop (silver_to_gold.py re-run every
    300 s against the whole silver store) as a checkpointed stream:
    each micro-batch (a) lands the new conformed wholesale silver rows
    idempotently — foreachBatch is at-least-once, so a crash between
    the sink write and the checkpoint commit replays the batch; the
    landing absorbs the replay (:func:`land_batch`) — then (b) rebuilds
    the CM2 order-margin gold table from the FULL accumulated silver
    store and atomically overwrites the gold view. Deployed on a
    300 s trigger (:func:`drain`) the semantics match the reference's
    cycle exactly, minus its
    recompute-everything-from-Postgres read amplification: silver is an
    append-only parquet log here, so each refresh reads one columnar
    store, not a JDBC roundtrip.

    Gold stays a full recompute (not an incremental upsert) because CM2
    is an order-grain rollup joined to late-arriving freight rows — the
    reference resolves that by recomputation on cadence, and at 100 TB
    the right split is exactly this: streaming exactly-once landing,
    batch-style declarative gold the optimizer can broadcast/reorder."""
    from multichannel_commerce_data_pipeline_spark.pipeline import gold

    conformed = conform_stream(
        read_bronze_stream(spark, "joor", bronze_root), "joor"
    ).drop("bronze_ts")
    freight = CONFORMERS["freight"](
        flatten_envelope(
            spark.read.schema(spark_envelope_ddl("freight")).json(
                bronze_glob("freight", bronze_root)
            )
        )
    )

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        land_batch(batch_df, silver_dir, batch_id)
        silver_all = read_landed(batch_df.sparkSession, silver_dir).drop(
            "__bid"
        )
        cm1_df = gold.cm1(
            silver_all, "wholesale", F.col("unit_price") * F.col("quantity")
        )
        gold.cm2(cm1_df, freight).write.mode("overwrite").parquet(gold_dir)

    return drain(
        conformed.writeStream.foreachBatch(refresh).outputMode("append"),
        checkpoint_dir,
    )


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under a path via the Hadoop FileSystem API — works
    on any filesystem Spark can reach (local, HDFS, s3a), which is what
    sizing a compaction needs."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def compact_landing(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
) -> None:
    """Small-file compaction for a date-partitioned streaming landing —
    the maintenance job every file-sink stream eventually needs: each
    micro-batch writes shuffle-partition-many files per date, and a
    year of 60s triggers leaves millions of kilobyte files that drown
    a scan in open() calls.

    One declarative pass: repartition on the partition column (all of a
    date's rows converge on one task) and cap physical file size with
    ``maxRecordsPerFile`` derived from the observed bytes-per-row, so a
    hot date still splits into ~128 MB files instead of one giant
    one. Output keeps the same partition layout, so readers and
    partition pruning are unaffected."""
    df = spark.read.parquet(in_dir)
    total = max(dir_bytes(spark, in_dir), 1)
    n_rows = max(df.count(), 1)
    rows_per_file = max(int(128 * 1024 * 1024 / max(total / n_rows, 1)), 1)
    (
        df.repartition(F.col("p_date"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_file)
        .partitionBy("p_date")
        .parquet(out_dir)
    )


def stream_merge_snapshot(
    spark: SparkSession,
    updates_dir: str,
    update_schema: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    seq_col: str,
    delete_col: str | None = None,
):
    """Streaming MERGE: maintain a latest-wins keyed snapshot from a
    stream of updates (the continuously-maintained materialized view
    the reference approximates with polling overwrite loops).

    Each micro-batch is reduced to one row per key (newest ``seq_col``
    wins — foreachBatch hands a bounded DataFrame, so the keyed window
    is batch-sized), then merged into the previous snapshot with
    operators/merge.py merge_upsert. The result lands in a
    ``snap-<batch_id>`` directory with overwrite + a _LATEST pointer
    written AFTER the snapshot: a replayed batch (foreachBatch is
    at-least-once) rewrites the same directory and re-points the same
    pointer — convergent, so the chain is restart-idempotent. Old
    snapshots are the rollback/vacuum surface.

    At scale each merge shuffles snapshot+batch once on the key; with
    the snapshot bucketed on the key the exchange drops to the batch
    side only. Returns the finished query; read the result with
    :func:`read_merge_snapshot`.
    """
    from pyspark.sql import Window

    from multichannel_commerce_data_pipeline_spark.operators.merge import (
        merge_upsert,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(*keys).orderBy(F.desc(seq_col))
        newest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        sess = batch_df.sparkSession
        latest = Path(snapshot_dir) / "_LATEST"
        if latest.exists():
            base = sess.read.parquet(
                str(Path(snapshot_dir) / latest.read_text().strip())
            )
        else:
            base = sess.createDataFrame([], newest.drop(delete_col).schema
                                        if delete_col else newest.schema)
        merged = merge_upsert(base, newest, keys, delete_col=delete_col)
        merged.write.mode("overwrite").parquet(
            f"{snapshot_dir}/snap-{batch_id}"
        )
        latest.parent.mkdir(parents=True, exist_ok=True)
        latest.write_text(f"snap-{batch_id}")

    stream = read_feed(spark, update_schema, updates_dir, "json")
    return drain(stream.writeStream.foreachBatch(apply_batch), checkpoint_dir)


def read_merge_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Read the snapshot the _LATEST pointer names."""
    latest = (Path(snapshot_dir) / "_LATEST").read_text().strip()
    return spark.read.parquet(str(Path(snapshot_dir) / latest))


def read_merge_snapshot_as_of(
    spark: SparkSession, snapshot_dir: str, batch_id: int
) -> DataFrame:
    """Time travel: read the snapshot AS OF a specific batch, ignoring
    _LATEST. Copy-on-write keeps each batch's full ``snap-<id>``
    directory immutable until vacuum reclaims it, so historical reads
    are plain parquet scans of the named version — no log replay."""
    path = Path(snapshot_dir) / f"snap-{batch_id}"
    if not path.is_dir():
        raise FileNotFoundError(
            f"snapshot snap-{batch_id} not present under {snapshot_dir} "
            "(vacuumed or never committed)"
        )
    return spark.read.parquet(str(path))


def vacuum_merge_snapshots(snapshot_dir: str) -> list[str]:
    """Drop all but the newest two snapshots of a
    :func:`stream_merge_snapshot` chain (never the one ``_LATEST``
    points at). Copy-on-write merge leaves one directory per batch as
    its rollback surface; this is the retention step that bounds that
    surface, the same job Delta's VACUUM does for its file graveyard.
    Returns the removed snapshot names (for the audit log)."""
    import shutil

    root = Path(snapshot_dir)
    latest = (root / "_LATEST").read_text().strip()
    snaps = sorted(
        (p.name for p in root.iterdir() if p.name.startswith("snap-")),
        key=lambda n: int(n.split("-")[1]),
    )
    keep_set = set(snaps[-2:]) | {latest}
    removed = [n for n in snaps if n not in keep_set]
    for n in removed:
        shutil.rmtree(root / n)
    return removed


def stream_heavy_hitters(
    spark: SparkSession,
    source: str,
    bronze_root: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 6,
    n_buckets: int = 2,
) -> StreamingQuery:
    """Streaming Misra-Gries heavy hitters (X12 × T5): maintain a
    bounded-state frequent-key summary ACROSS micro-batches and
    restarts. Keys hash into ``n_buckets`` state groups; each group's
    checkpointed state is its capped (keys, counts) summary, folded
    per batch with the same vectorized value_counts + batched-decrement
    kernel as the batch operator (operators/frequency.py), so the
    classic guarantees hold cumulatively over the whole stream: never
    overestimates, per-key undercount <= N_bucket/(k+1), every key
    above that threshold guaranteed present. State is O(k·buckets)
    regardless of stream length or key cardinality — the shape that
    tracks hot SKUs or abusive clients over an unbounded feed without
    an unbounded streaming aggregation.

    Each micro-batch emits the bucket's full current summary, landed
    per batch_id (idempotent under foreachBatch replay,
    :func:`land_batch`); the current summary is each bucket's newest
    emission, ``read_latest(spark, out_dir, "bucket")``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        counters: dict[str, int] = {}
        if state.exists:
            ks, cs = state.get
            counters = dict(zip(ks, cs))
        for pdf in pdfs:
            vc = pdf["buyer_name"].dropna().astype(str).value_counts()
            for kk, c in vc.items():
                counters[kk] = counters.get(kk, 0) + int(c)
            if len(counters) > k:
                d = sorted(counters.values(), reverse=True)[k]
                counters = {
                    kk: c - d for kk, c in counters.items() if c - d > 0
                }
        state.update(
            (list(counters.keys()), [int(c) for c in counters.values()])
        )
        yield pd.DataFrame(
            {
                "bucket": [int(key[0])] * len(counters),
                "key": list(counters.keys()),
                "est": [int(c) for c in counters.values()],
            },
            columns=["bucket", "key", "est"],
        ).astype({"bucket": "int32", "key": str, "est": "int64"})

    conformed = conform_stream(
        read_bronze_stream(spark, source, bronze_root), source
    )
    summary = (
        conformed.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(F.col("buyer_name").cast("string")), n_buckets).cast(
                "int"
            ),
        )
        .groupBy("__bucket")
        .applyInPandasWithState(
            fold,
            "bucket INT, key STRING, est BIGINT",
            "ks ARRAY<STRING>, cs ARRAY<BIGINT>",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    return drain(
        summary.writeStream.foreachBatch(
            lambda df, bid: land_batch(df, out_dir, bid)
        ).outputMode("update"),
        checkpoint_dir,
    )


def stream_cm_sketch(
    spark: SparkSession,
    source: str,
    bronze_root: str,
    out_dir: str,
    checkpoint_dir: str,
    w: int = 64,
    d: int = 3,
    seed: int = 131,
) -> StreamingQuery:
    """Streaming Count-Min sketch (X12 × T5): because sketch cells merge
    by ADDITION, Structured Streaming's own stateful aggregation IS the
    streaming form — no custom state kernel (contrast
    ``stream_heavy_hitters``, whose Misra-Gries eviction needs
    ``applyInPandasWithState``). The d×w grid is the aggregation state:
    bounded regardless of stream length or key cardinality, restored
    from the checkpoint across restarts, so estimates are CUMULATIVE
    over the whole feed. Each trigger emits the full current grid
    (complete mode — at most d·w rows, so re-emission is free) landed
    per batch_id, idempotent under foreachBatch replay, older grids
    pruned (:func:`land_batch`); probe the
    landed grid with the batch ``operators.frequency.cm_estimate``.
    The per-row work is the same map-side d-increment explode as the
    batch build — one md5, k Kirsch-Mitzenmacher positions."""
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        _positions,
    )

    conformed = conform_stream(
        read_bronze_stream(spark, source, bronze_root), source
    )
    pos = _positions(F.col("buyer_name").cast("string"), w, d, seed)
    inc = conformed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("j"),
                        p.cast("int").alias("bucket"),
                    )
                    for j, p in enumerate(pos)
                ]
            )
        ).alias("c")
    )
    grid = inc.groupBy(
        F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cell"))
    return drain(
        grid.writeStream.foreachBatch(
            lambda df, bid: land_batch(df, out_dir, bid, complete=True)
        ).outputMode("complete"),
        checkpoint_dir,
    )


def stream_line_df_sketch(
    spark: SparkSession,
    src_glob: str,
    schema_ddl: str,
    out_dir: str,
    checkpoint_dir: str,
    w: int = 64,
    d: int = 3,
    seed: int = 131,
) -> StreamingQuery:
    """Streaming boilerplate document-frequency maintenance (X1 x T5 x
    X12): as a crawl STREAMS in, keep the per-line df signal that
    ``operators.dedup.boilerplate_lines`` thresholds — without the
    unbounded per-distinct-line state an exact streaming df would need.
    Two observations make this a bounded-state streaming aggregation:
    (1) within-document dedup needs NO state at all, because a document
    is one stream row — ``array_distinct`` over its line digests runs
    map-side, so each arriving doc votes once per distinct line, the
    df semantic; (2) df counts then merge by ADDITION, so a Count-Min
    grid over the line digests is the streaming form, and Structured
    Streaming's own stateful aggregation maintains the d x w grid
    (cumulative across micro-batches, restored from the checkpoint,
    bounded regardless of how many distinct lines the crawl contains).
    est_df >= true df always — thresholding the estimate yields a
    conservative boilerplate cut (may remove a few extra lines, never
    misses a hot one at the same threshold). Same idempotent per-batch
    complete-mode landing as ``stream_cm_sketch``; probe the landed
    grid with the batch ``operators.frequency.cm_estimate``."""
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        _positions,
    )

    stream = read_feed(spark, schema_ddl, src_glob)

    ws = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(ws) / F.lit(10)).cast("int")
    digs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda k: F.md5(F.concat_ws(" ", F.slice(ws, k * 10 + 1, 10))),
        )
    )
    exploded = stream.select(F.explode_outer(digs).alias("ldigest")).filter(
        F.col("ldigest").isNotNull()
    )
    pos = _positions(F.col("ldigest"), w, d, seed)
    inc = exploded.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("j"),
                        p.cast("int").alias("bucket"),
                    )
                    for j, p in enumerate(pos)
                ]
            )
        ).alias("c")
    )
    grid = inc.groupBy(
        F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cell"))
    return drain(
        grid.writeStream.foreachBatch(
            lambda df, bid: land_batch(df, out_dir, bid, complete=True)
        ).outputMode("complete"),
        checkpoint_dir,
    )


def stream_boilerplate_cut(
    spark: SparkSession,
    src_glob: str,
    schema_ddl: str,
    out_dir: str,
    checkpoint_dir: str,
    cells: list[int],
    w: int = 64,
    d: int = 3,
    seed: int = 131,
) -> StreamingQuery:
    """Boilerplate-cut-on-ingest (X1 x T5 x X12) — the APPLY side
    composing with ``stream_line_df_sketch``'s MAINTAIN side, closing
    the maintain -> threshold -> cut streaming story: arriving
    documents have every line whose sketch-estimated corpus df exceeds 2
    removed BEFORE landing. This is the two-pass
    shape every published boilerplate recipe uses at scale (C4/CCNet
    compute line stats over the crawl, then strip in a second pass) —
    here the stats pass is the streaming sketch and the strip pass is
    this job, so neither ever holds per-distinct-line state.

    ``cells`` is the LANDED grid (:func:`read_latest`, flattened
    j*w+bucket — a fixed, d*w-bounded reference exactly like
    ``stream_decontaminate``'s eval digest set). Each micro-batch runs
    the batch operator ``operators.dedup.boilerplate_cut_with_sketch``
    inside ``foreachBatch`` — one implementation, two drivers, so
    stream output ≡ batch output by construction and the driver oracle
    is the batch cut SQL. The cut is a single map-side projection
    (the grid is a foldable literal): a micro-batch pays ZERO
    shuffles. Same idempotent ``batch-{id}`` landing contract as
    ``stream_decontaminate``; est >= exact keeps the cut conservative
    (never misses a hot line)."""
    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        boilerplate_cut_with_sketch,
    )

    stream = read_feed(spark, schema_ddl, src_glob)

    def cut_batch(batch_df: DataFrame, bid: int) -> None:
        cut = boilerplate_cut_with_sketch(
            batch_df, "doc_id", "text", cells, w=w, d=d, seed=seed
        )
        land_batch(cut, out_dir, bid)

    return drain(stream.writeStream.foreachBatch(cut_batch), checkpoint_dir)


def stream_sessionize(
    spark: SparkSession,
    source: str,
    bronze_root: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming SESSION WINDOWS (T4 × T5): Spark's native
    ``session_window`` as a stateful streaming aggregation — open
    sessions live in the checkpointed state store and MERGE across
    micro-batches when a new event lands within the gap of an existing
    session (the semantics a batch-twin recompute gets for free and a
    naive incremental append cannot), then emit EXACTLY ONCE (append
    mode) when the one-day watermark passes the 30-minute gap beyond
    their last event. The watermark rides the EVENT-time column, not arrival time
    (contrast ``conform_stream``'s bronze_ts watermark — late events
    within the delay still extend their session). Landing is plain
    parquet append: each closed session is final by construction, so
    no per-batch overwrite or latest-pointer dance is needed."""
    conformed = CONFORMERS[source](
        flatten_envelope(read_bronze_stream(spark, source, bronze_root))
    )
    sessions = (
        conformed.withWatermark("order_ts", "1 day")
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
    return drain(
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


def stream_binned_profile(
    spark: SparkSession,
    source: str,
    bronze_root: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming distribution profile (DQ × T5): cumulative per-(bin,
    window) counts of the conformed ``unit_price`` in 25-wide bins, the state a streaming
    DRIFT MONITOR reads. Like ``stream_cm_sketch``, the profile merges
    by addition, so native stateful aggregation IS the streaming form:
    state is bounded by 2·10 rows regardless of stream length,
    restored from the checkpoint across restarts (cumulative over the
    whole feed), re-emitted in full each trigger (complete mode over a
    ≤20-row frame) and landed idempotently per batch_id. Rows before
    2025-06-02 (event time) accumulate into the reference window,
    the rest into the current window; the PSI arithmetic itself runs at
    read time over the landed profile — the monitor stays pure
    aggregation in-flight."""
    conformed = conform_stream(
        read_bronze_stream(spark, source, bronze_root), source
    )
    binned = conformed.select(
        F.least(
            F.floor(F.col("unit_price") / F.lit(25.0)).cast("int"), F.lit(9)
        ).alias("bin"),
        F.when(
            F.col("order_ts") < F.lit("2025-06-02").cast("timestamp"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_ref"),
    )
    prof = binned.groupBy("bin", "is_ref").agg(
        F.count(F.lit(1)).alias("n")
    )

    return drain(
        prof.writeStream.foreachBatch(
            lambda df, bid: land_batch(df, out_dir, bid, complete=True)
        ).outputMode("complete"),
        checkpoint_dir,
    )


def stream_ivf_assign(
    spark: SparkSession,
    src_glob: str,
    schema_ddl: str,
    out_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
) -> StreamingQuery:
    """Streaming IVF coarse assignment (X2 × T5) — the index-serving
    side of ANN at 100 TB: vectors ARRIVE (a parquet/Kafka feed of
    fresh embeddings) and are routed to their nearest coarse centroid
    incrementally, instead of re-running the batch assigner over the
    whole corpus per refresh. The centroid set is the pre-trained
    per-corpus model artifact (bounded: a broadcast-sized frame), so
    the per-vector work is the same map-side broadcast-join +
    partial-aggregated argmax as the batch ``ivf_assign`` — run HERE
    inside ``foreachBatch``, which is exactly the batch/stream seam:
    one assignment implementation, two drivers, so stream output ≡
    batch output by construction (the driver oracle for
    ``stream_ann_assign`` is the BATCH assignment SQL).

    Checkpointed and idempotent: each micro-batch lands to its own
    ``batch-{id}`` dir with mode=overwrite, so a replayed batch after
    a crash overwrites its own output instead of duplicating rows
    (same contract as ``stream_cm_sketch``). ``maxFilesPerTrigger=1``
    makes each landed chunk its own micro-batch, proving the
    incremental path rather than draining everything in one gulp."""
    from multichannel_commerce_data_pipeline_spark.operators.similarity import (
        ivf_assign,
    )

    stream = read_feed(spark, schema_ddl, src_glob)

    def assign_batch(batch_df: DataFrame, bid: int) -> None:
        out, _ = ivf_assign(batch_df, 0, centroids=centroids)
        land_batch(out.select("vid", "cell", "ccos"), out_dir, bid)

    return drain(stream.writeStream.foreachBatch(assign_batch), checkpoint_dir)


def stream_decontaminate(
    spark: SparkSession,
    src_glob: str,
    schema_ddl: str,
    out_dir: str,
    checkpoint_dir: str,
    eval_grams: DataFrame,
    min_words: int = 8,
) -> StreamingQuery:
    """Decontaminate-on-ingest (X1 x T5) — the deployment form of the
    substring-level benchmark decontamination: TRAINING documents
    ARRIVE as a feed and every maximal span reproducing >=
    ``min_words`` consecutive words from the held-out eval set is cut
    before the document ever lands in the corpus — leaked spans never
    touch storage, instead of being scrubbed by a later batch pass.

    The eval set is a fixed, small reference (benchmarks are bounded
    by definition), so each micro-batch runs the exact batch operators
    inside ``foreachBatch`` — ``contamination_span_bounds`` (the eval
    digest set broadcasts; the arriving batch never shuffles for the
    marking) feeding ``substring_dedup_rewrite`` (map-side indexed
    cut) — one implementation, two drivers, so stream output ≡ batch
    output by construction and the driver oracle is the BATCH
    decontamination SQL. Same idempotent per-batch landing contract
    as ``stream_ivf_assign`` (mode=overwrite into ``batch-{id}``);
    each document arrives once, so append-across-batches is the full
    decontaminated corpus."""
    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        contamination_span_bounds,
        doc_words,
        substring_dedup_rewrite,
        substring_grams,
    )

    stream = read_feed(spark, schema_ddl, src_glob)

    def cut_batch(batch_df: DataFrame, bid: int) -> None:
        words = doc_words(batch_df, "doc_id", "text")
        bounds = contamination_span_bounds(
            substring_grams(words, min_words), eval_grams, min_words
        )
        land_batch(substring_dedup_rewrite(bounds, words), out_dir, bid)

    return drain(stream.writeStream.foreachBatch(cut_batch), checkpoint_dir)


def stream_domain_admit(
    spark: SparkSession,
    src_glob: str,
    schema_ddl: str,
    out_dir: str,
    checkpoint_dir: str,
    cap: int,
) -> StreamingQuery:
    """Streaming ADMISSION QUOTA (X6 × T5) — the ingest-time half of
    URL-level curation: documents ARRIVE as a feed and each is admitted
    only while its domain's all-time admitted count is under ``cap``;
    once a domain hits the cap, its later arrivals are dropped at the
    door instead of being trimmed by a later batch pass
    (``domain_cap_sample`` is the batch/backfill half — smallest-hash
    survivors for a static corpus; admission is the arrival-order form
    a live crawl needs, because a stream cannot know future hashes).

    State is ``applyInPandasWithState`` per-domain admitted counts —
    ONE bigint per domain, the bounded-state discipline of
    ``stream_binned_profile`` (O(domains), independent of stream
    length), held in the checkpoint's state store so admission is
    CUMULATIVE across restarts: a domain capped in yesterday's run
    stays capped when the stream resumes. Within a micro-batch a
    domain's arrivals are ordered by ``doc_id`` (deterministic where a
    wall-clock feed would be arrival-ordered); ``admit_seq`` is the
    doc's 1-based all-time admission index, so the output itself
    proves the cross-batch state. Landing is idempotent per batch
    (mode=overwrite into ``batch-{id}``, the ``stream_ivf_assign``
    contract): a replayed batch rewrites its own output, and since the
    state store rolls back to the batch's start on replay, the rewrite
    admits exactly the same rows."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def admit(key, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("doc_id", kind="mergesort").reset_index(
            drop=True
        )
        prior = state.get[0] if state.exists else 0
        adm = batch.head(max(0, cap - prior))
        state.update((prior + len(adm),))
        if len(adm):
            yield pd.DataFrame(
                {
                    "doc_id": adm["doc_id"].to_numpy(),
                    "source": [key[0]] * len(adm),
                    "admit_seq": range(prior + 1, prior + len(adm) + 1),
                }
            )

    stream = read_feed(spark, schema_ddl, src_glob)
    admitted = (
        stream.select("doc_id", "source")
        .groupBy("source")
        .applyInPandasWithState(
            admit,
            "doc_id BIGINT, source STRING, admit_seq BIGINT",
            "admitted BIGINT",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    return drain(
        admitted.writeStream.foreachBatch(
            lambda df, bid: land_batch(df, out_dir, bid)
        ).outputMode("update"),
        checkpoint_dir,
    )


def stream_view_delta_refresh(
    spark: SparkSession,
    src_glob: str,
    schema_ddl: str,
    out_dir: str,
    checkpoint_dir: str,
    delta_agg: Callable[[DataFrame], DataFrame],
    init_state: DataFrame,
    merge: Callable[[DataFrame], DataFrame],
) -> StreamingQuery:
    """Streaming INCREMENTAL VIEW REFRESH (X15 × T5): delta rows ARRIVE
    as a feed and each micro-batch folds its aggregated delta into the
    stored view state — ``state(bid) = merge(state(bid-1) ∪
    delta_agg(batch))`` — so the maintained view is always one
    micro-batch behind the feed and history is NEVER rescanned (the
    streaming form of ``mv_join_delta_merge``; the reference instead
    reruns its entire gold build every 300 s). ``delta_agg`` may join
    the arriving batch against base tables (broadcast the batch — the
    batch is the small side by construction); ``merge`` must be
    algebraic (addition/min/max over accumulators), which is what
    makes the fold order-independent and the state bounded by GROUP
    cardinality, not stream length.

    Restart/replay contract: each batch lands the FULL merged state
    snapshot idempotently to ``state-{bid}`` (mode=overwrite) and reads
    its predecessor as the largest ``state-{k}`` with k < bid — never
    its own possibly-half-written dir — so a replayed batch recomputes
    from exactly the state it saw the first time. Snapshots older than
    bid-1 are pruned at commit (the replay window needs only the
    predecessor), bounding storage at two snapshots regardless of
    stream length; the Hadoop FS API is used throughout so the same
    prune works on an object store."""
    stream = read_feed(spark, schema_ddl, src_glob)

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())

    def _state_ids() -> list[int]:
        if not fs.exists(root):
            return []
        return sorted(
            int(st.getPath().getName().split("-")[1])
            for st in fs.listStatus(root)
            if st.getPath().getName().startswith("state-")
        )

    def refresh(batch_df: DataFrame, bid: int) -> None:
        prior_ids = [k for k in _state_ids() if k < bid]
        prior = (
            spark.read.parquet(f"{out_dir}/state-{prior_ids[-1]}").drop(
                "__bid"
            )
            if prior_ids
            else init_state
        )
        merged = merge(prior.unionByName(delta_agg(batch_df)))
        merged.withColumn("__bid", F.lit(bid)).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/state-{bid}")
        for k in _state_ids():
            if k < bid - 1:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{out_dir}/state-{k}"),
                    True,
                )

    return drain(stream.writeStream.foreachBatch(refresh), checkpoint_dir)


def read_latest_view_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """The current maintained view: the snapshot with the largest
    batch id, located from the directory LISTING (the same Hadoop FS
    walk the writer uses) so only that one snapshot is read — the
    replay-window predecessor never costs a scan, and no
    single-partition max-window runs over view rows."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    latest = max(
        int(st.getPath().getName().split("-")[1])
        for st in fs.listStatus(root)
        if st.getPath().getName().startswith("state-")
    )
    return spark.read.parquet(f"{out_dir}/state-{latest}").drop("__bid")


def stream_cusum_monitor(
    spark: SparkSession,
    src_glob: str,
    schema_ddl: str,
    out_dir: str,
    checkpoint_dir: str,
    consts_milli: dict[str, tuple[int, int]],
) -> StreamingQuery:
    """Streaming CUSUM change-point monitor (X10 × T5) — the arrival-
    time twin of the batch ``cusum_changepoint`` closed form: daily
    series points ARRIVE as a feed and each micro-batch advances the
    textbook recursion S_t = max(0, S_{t-1} + (x_t - k)) per series,
    with the reference median k and threshold h FIT OFFLINE on a
    reference slice and passed in as constants (the production
    monitoring shape: a live monitor cannot know its own series'
    full-history median, so it watches the post-reference stream with
    reference-fitted constants; the batch query's whole-series fit is
    the backfill form).

    Exactness discipline: every value is INTEGER MILLIS
    (``consts_milli``: series -> (median_milli, h_milli); feed column
    ``x_milli``), so the recursion is exact int64 arithmetic in the
    pandas state handler — bit-identical to the engine's DECIMAL(18,3)
    closed form, no float accumulation anywhere. Two-sided since r16
    (matching the batch twin): the mirrored S-_t = max(0, S-_{t-1} -
    dv) advances in the same loop. State per series is TEN scalars
    (running S and S-, day count, both flag counts, both first
    flagged days, both maxima, last day seen) — O(series),
    independent of stream length, the stream_binned_profile bound. Within a micro-batch rows are
    processed in day order (sorted in the handler); across batches the
    feed files are day-partitioned with pinned mtimes, so arrival
    order is day order by construction (the stream_domain_admit
    contract). Landing is idempotent per batch (overwrite into
    ``batch-{id}``): a replayed batch rewrites its own output against
    the rolled-back state."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def advance(key, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("day", kind="mergesort")
        series = key[0]
        if series not in consts_milli:
            # a series with no reference fit cannot be monitored:
            # drop it VISIBLY (absent from every summary) rather than
            # monitor against made-up constants — the sampled-cuts
            # unknown-bucket rule applied to monitoring
            return
        med, h = consts_milli[series]
        if state.exists:
            (
                s, n_days, n_flag, first, mx,
                sn, n_flag_dn, first_dn, mx_dn, last,
            ) = state.get
        else:
            s, n_days, n_flag, first, mx = 0, 0, 0, "", 0
            sn, n_flag_dn, first_dn, mx_dn, last = 0, 0, "", 0, ""
        # the recursion is order-sensitive: the stored last-seen day is
        # the tripwire for a feed that breaks the day-ordered-arrival
        # contract — fail the stream LOUDLY instead of silently folding
        # out-of-order points into a wrong statistic
        if last and len(batch) and str(batch["day"].iloc[0]) <= last:
            raise ValueError(
                f"out-of-order arrival for series {series!r}: "
                f"{batch['day'].iloc[0]!r} after {last!r}"
            )
        for day, x in zip(batch["day"], batch["x_milli"]):
            dv = int(x) - med
            s = max(0, s + dv)
            mx = max(mx, s)
            # the r16 mirrored statistic (batch twin gained it the
            # same round): S-_t = max(0, S-_{t-1} - dv) — a collapse
            # accumulates here the way a ramp accumulates in S
            sn = max(0, sn - dv)
            mx_dn = max(mx_dn, sn)
            n_days += 1
            if s > h and not first:
                first = day
            if s > h:
                n_flag += 1
            if sn > h and not first_dn:
                first_dn = day
            if sn > h:
                n_flag_dn += 1
            last = day
        state.update(
            (s, n_days, n_flag, first, mx, sn, n_flag_dn, first_dn, mx_dn, last)
        )
        yield pd.DataFrame(
            {
                "series": [series],
                "n_days": [n_days],
                "n_flagged": [n_flag],
                "first_flag_day": [first],
                "max_cusum_milli": [mx],
                "n_flagged_down": [n_flag_dn],
                "first_flag_day_down": [first_dn],
                "max_cusum_down_milli": [mx_dn],
            }
        )

    stream = read_feed(spark, schema_ddl, src_glob)
    summary = stream.groupBy("series").applyInPandasWithState(
        advance,
        "series STRING, n_days BIGINT, n_flagged BIGINT, "
        "first_flag_day STRING, max_cusum_milli BIGINT, "
        "n_flagged_down BIGINT, first_flag_day_down STRING, "
        "max_cusum_down_milli BIGINT",
        "s BIGINT, n_days BIGINT, n_flagged BIGINT, first STRING, "
        "mx BIGINT, sn BIGINT, n_flag_dn BIGINT, first_dn STRING, "
        "mx_dn BIGINT, last STRING",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return drain(
        summary.writeStream.foreachBatch(
            lambda df, bid: land_batch(df, out_dir, bid)
        ).outputMode("update"),
        checkpoint_dir,
    )


def stream_erasure_apply(
    spark: SparkSession,
    tombstones_glob: str,
    tombstone_schema: str,
    sf_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming RIGHT-TO-BE-FORGOTTEN: deletion requests arrive as
    CDC tombstones in micro-batches and each batch applies the full
    broadcast anti-join CASCADE (customer -> their orders -> those
    orders' lineitems) against the CURRENT warehouse snapshot — the
    form a live warehouse actually runs erasure through, where
    requests trickle in continuously and each must propagate without
    rescanning history it already erased. batch erasure
    (queries/warehouse_queries.erasure_propagation) is the backfill
    twin; tombstone application is commutative and idempotent (an
    anti-join against an already-erased key removes nothing), so any
    arrival order converges to the batch result over the cumulative
    tombstone set.

    Publish is the stream_merge_snapshot idiom: each batch writes a
    complete ``snap-<batch_id>`` tree (copy-on-write: the three
    erased tables) with OVERWRITE and re-points ``_LATEST`` after the
    write — a replayed batch (foreachBatch is at-least-once) rewrites
    the same directory and converges, so the chain is
    restart-idempotent. The per-batch erasure PROOF rides along: an
    ``audit-<batch_id>`` table (also overwrite-idempotent) lands per
    erased table the tombstone count applied, surviving row count,
    and the order-independent XOR of portable row fingerprints of
    what was WRITTEN — the table_reconcile digest a downstream
    verifier compares against its own complement computation, per
    batch rather than per nightly sweep. At scale each batch costs
    one broadcast anti-join scan per table (the tombstone batch is
    small by nature) plus the digest fold, which partial-aggregates
    to one row per table."""
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        row_fingerprint,
    )
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        _erase_fp_cols,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        tomb = batch_df.filter(F.col("op") == "delete").select(
            "c_custkey"
        ).distinct()
        latest = Path(snapshot_dir) / "_LATEST"
        if latest.exists():
            base = str(Path(snapshot_dir) / latest.read_text().strip())
            cur = {
                t: sess.read.parquet(f"{base}/{t}")
                for t in ("customer", "orders", "lineitem")
            }
        else:
            cur = {
                t: load(sess, sf_dir, t)
                for t in ("customer", "orders", "lineitem")
            }
        cust = cur["customer"].join(F.broadcast(tomb), "c_custkey", "left_anti")
        gone = (
            cur["orders"]
            .join(
                F.broadcast(tomb),
                cur["orders"].o_custkey == tomb.c_custkey,
                "left_semi",
            )
            .select("o_orderkey")
        )
        orders = cur["orders"].join(
            F.broadcast(tomb),
            cur["orders"].o_custkey == tomb.c_custkey,
            "left_anti",
        )
        li = cur["lineitem"].join(
            F.broadcast(gone),
            cur["lineitem"].l_orderkey == gone.o_orderkey,
            "left_anti",
        )
        # scratch-then-swap publish: a REPLAYED batch's read side is
        # the very snapshot directory it republishes (_LATEST already
        # points at snap-<batch_id>), and Spark's lazy overwrite would
        # delete the input files mid-read. Writing the new tree to a
        # scratch sibling first means the old snapshot stays intact as
        # the read source; the swap is two renames, so a crash leaves
        # either the old or the new tree at the published path — never
        # neither (the layout store's atomic-publish rule, applied per batch).
        import os as _os
        import shutil as _sh

        out = f"{snapshot_dir}/snap-{batch_id}"
        scratch = f"{snapshot_dir}/.snap-{batch_id}.inflight"
        _sh.rmtree(scratch, ignore_errors=True)
        erased = {"customer": cust, "orders": orders, "lineitem": li}
        for t, df in erased.items():
            df.write.mode("overwrite").parquet(f"{scratch}/{t}")
        n_tomb = tomb.count()
        audits = []
        for t in ("customer", "orders", "lineitem"):
            written = sess.read.parquet(f"{scratch}/{t}")
            audits.append(
                written.agg(
                    F.lit(int(batch_id)).cast("long").alias("batch_id"),
                    F.lit(t).alias("table_name"),
                    F.lit(int(n_tomb)).cast("long").alias("n_tombstones"),
                    F.count(F.lit(1)).cast("long").alias("rows_after"),
                    F.coalesce(
                        F.bit_xor(row_fingerprint(_erase_fp_cols(written, t))),
                        F.lit(0).cast("long"),
                    ).alias("digest"),
                )
            )
        audit = audits[0].unionByName(audits[1]).unionByName(audits[2])
        audit.write.mode("overwrite").parquet(
            f"{snapshot_dir}/audit-{batch_id}"
        )
        trash = f"{out}.old"
        _sh.rmtree(trash, ignore_errors=True)
        if _os.path.isdir(out):
            _os.rename(out, trash)
        _os.rename(scratch, out)
        _sh.rmtree(trash, ignore_errors=True)
        latest.parent.mkdir(parents=True, exist_ok=True)
        latest.write_text(f"snap-{batch_id}")
        # retention: each snapshot is a full copy-on-write warehouse
        # tree, so an unbounded request stream would otherwise
        # accumulate one warehouse copy per batch. Keep the latest +
        # its predecessor (the replay window — a replayed batch reads
        # at most one snapshot back), pruned AFTER the pointer moves;
        # the per-batch audit-<id> tables are three rows each and
        # stay forever as the deletion-provenance ledger.
        for p in Path(snapshot_dir).iterdir():
            if p.name.startswith("snap-"):
                try:
                    k = int(p.name.split("-")[1])
                except ValueError:
                    continue
                if k < batch_id - 1:
                    _sh.rmtree(p, ignore_errors=True)

    stream = read_feed(spark, tombstone_schema, tombstones_glob, "json")
    return drain(stream.writeStream.foreachBatch(apply_batch), checkpoint_dir)
