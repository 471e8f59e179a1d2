"""Anti-entropy table reconciliation — bucketed XOR fingerprints.

The replication-validation problem: two copies of a table live in two
systems (the reference ships the same rows to Postgres silver AND
ClickHouse gold; any lake has DR replicas), and "are they identical,
and if not WHERE" must be answerable without shipping either table
across the wire. The standard trick (rsync / Merkle / DynamoDB
anti-entropy): hash every row, fold row hashes per bucket with an
ORDER-INDEPENDENT combiner (XOR), compare the tiny per-bucket digest
tables, and only divergent buckets need row-level inspection.

Why XOR: it is commutative, associative, and self-inverse, so the
per-bucket digest is independent of row order AND of partitioning —
each side computes it with one partial-aggregated group-by over its
own layout, shuffling only ``n_buckets`` digest rows. A divergent row
flips its bucket's digest; two different divergent rows can cancel
only with probability 2^-60 per bucket (the hash width).

Engine-portable: row fingerprints go through ``portable_hash64`` over
a canonical string encoding (ints and strings verbatim; doubles routed
through DECIMAL so no engine-specific float formatting enters the
string — the repo-wide rule), so a SQL oracle reproduces every digest
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import (
    oracle_hash64,
    portable_hash64,
)

_SEED = 1789


def row_fingerprint(cols: list[Column]) -> Column:
    """60-bit portable fingerprint of a row: md5 over the '|'-joined
    canonical string encoding. Callers must pre-encode doubles as
    DECIMAL-derived integers/strings (never raw double→string casts)."""
    joined = F.concat_ws("|", *[c.cast("string") for c in cols])
    return portable_hash64(joined, _SEED)


def oracle_row_fingerprint(col_exprs: list[str]) -> str:
    joined = ", ".join(f"CAST(({e}) AS VARCHAR)" for e in col_exprs)
    return oracle_hash64(f"concat_ws('|', {joined})", _SEED)


def bucket_digests(
    df: DataFrame,
    key: Column,
    fingerprint: Column,
    n_buckets: int = 64,
) -> DataFrame:
    """(bucket, n_rows, digest): per-bucket row count + XOR of row
    fingerprints. One partial-aggregated group-by; the output is
    ``n_buckets`` rows no matter how large the table."""
    bucket = F.pmod(key.cast("long"), n_buckets).alias("bucket")
    return (
        df.select(bucket, fingerprint.alias("fp"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("fp").alias("digest"),
        )
    )


def reconcile(
    source_digests: DataFrame,
    target_digests: DataFrame,
) -> DataFrame:
    """Full-outer join of two digest tables → per-bucket verdict:
    (bucket, n_src, n_tgt, match). A bucket missing on one side reads
    as 0 rows / digest 0 (the empty-XOR identity)."""
    s = source_digests.select(
        "bucket",
        F.col("n_rows").alias("n_src"),
        F.col("digest").alias("d_src"),
    )
    t = target_digests.select(
        "bucket",
        F.col("n_rows").alias("n_tgt"),
        F.col("digest").alias("d_tgt"),
    )
    j = s.join(t, "bucket", "full_outer")
    n_src = F.coalesce(F.col("n_src"), F.lit(0)).cast("long")
    n_tgt = F.coalesce(F.col("n_tgt"), F.lit(0)).cast("long")
    d_src = F.coalesce(F.col("d_src"), F.lit(0)).cast("long")
    d_tgt = F.coalesce(F.col("d_tgt"), F.lit(0)).cast("long")
    return j.select(
        "bucket",
        n_src.alias("n_src"),
        n_tgt.alias("n_tgt"),
        ((n_src == n_tgt) & (d_src == d_tgt)).alias("match"),
    )
