"""One store for the engine's per-corpus artifacts: persisted indexes,
fitted models, collected constants, and the on-disk layouts derived
from the source tables together with their scans.

``@artifact`` memoizes ``fn(spark, *args)`` under
``(spark.sparkContext.applicationId, fn, args)``. The artifacts are
built once per corpus and served to every consumer, the way a
warehouse keeps cached tables in one managed store instead of caching
per query.

- Keyed by the application as well as the arguments: a persisted
  DataFrame is bound to the SparkContext that built it, so after a
  stop/recreate in the same process the new application rebuilds
  instead of being handed a frame on a dead context.
- Single-flight: one build per key at a time, however many threads ask
  (the curation and warehouse fits fan out through ``concurrently``).
  Builds of different keys run concurrently.
- A build that raises stores nothing; the next call builds again.
- Storing an entry evicts the entries of other applications for the
  same ``(fn, args)`` and unpersists their DataFrame members (best
  effort: a dead session has nothing to free, but a live concurrent
  one would otherwise keep its blocks until it exits).

Arguments after ``spark`` are part of the key, so they must be
hashable and must identify the corpus (an sf dir, a published path) —
never a DataFrame.

``concurrently(spark, *thunks)`` is the engine's one fan-out: it runs
independent driver-blocking jobs (artifact builds, eager checkpoints,
writes) on threads so one job's stage tail back-fills the cores the
other leaves idle. Each thunk runs under the caller's Spark local
properties (``pyspark.inheritable_thread_target``): a plain pool
thread starts with none, so its jobs would drop the caller's job
group, job description and scheduler pool.

``@layout(*tables, name=...)`` turns a writer ``fn(spark, sf_dir,
path)`` into ``fn(spark, sf_dir) -> path`` of a directory published
once per version of the listed source tables, at
``$TMPDIR/mcdp_warehouse/<source digest>/<name>``: the warehouse's
derived tables (partitioned events, MV and statistics state, replicas,
postings, inverted lists). ``parquet_memo`` reads one back.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.Lock()
# (applicationId, fn, args) -> built value
_STORE: dict[tuple, object] = {}
# (applicationId, fn, args) -> the lock its builders take; dropped once
# the value is stored, so later callers never touch it
_BUILDING: dict[tuple, threading.Lock] = {}


def _release(value) -> None:
    members = value if isinstance(value, (tuple, list)) else (value,)
    for member in members:
        if isinstance(member, DataFrame):
            try:
                member.unpersist()
            except Exception:
                pass  # dead session: nothing to free


def artifact(fn):
    """Memoize ``fn(spark, *args)`` in the store (see the module
    docstring)."""

    @functools.wraps(fn)
    def wrapper(spark, *args):
        key = (spark.sparkContext.applicationId, fn, args)
        with _LOCK:
            if key in _STORE:
                return _STORE[key]
            build_lock = _BUILDING.setdefault(key, threading.Lock())
        with build_lock:
            with _LOCK:
                if key in _STORE:
                    return _STORE[key]
            value = fn(spark, *args)
            with _LOCK:
                stale = [k for k in _STORE if k[1:] == key[1:]]
                evicted = [_STORE.pop(k) for k in stale]
                _STORE[key] = value
                _BUILDING.pop(key, None)
        for old in evicted:
            _release(old)
        return value

    return wrapper


def concurrently(spark, *thunks) -> list:
    """Run the thunks on one thread each, under the caller's job group,
    job description and scheduler pool, and return their results in
    order. Every thunk finishes before any error is raised (the first
    in argument order); a single thunk runs inline."""
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(thunk))
            for thunk in thunks
        ]
    return [f.result() for f in futures]


def _source_fingerprint(sf_dir: str, *tables: str) -> str:
    """Cache tag for sf_dir-derived artifacts that folds the SOURCE
    DATA's identity into the path digest, not just the path string —
    a regenerated fixture at the same sf_dir gets a fresh tag instead
    of silently reusing a stale layout (ADVICE r13). Each file hashes
    as table/relative-path : size : mtime_ns, so identical-stat part
    files moved between partition directories (or between two listed
    tables) still change the tag; missing files hash as their absence,
    so a fixture swap never aliases."""
    h = hashlib.md5(sf_dir.encode())
    for t in tables:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():
            files = sorted(f for f in p.rglob("*") if f.is_file())
        else:
            files = [p]
        for f in files:
            if f.is_file():
                st = f.stat()
                rel = f.relative_to(p) if p.is_dir() else f.name
                h.update(
                    f"{t}/{rel}:{st.st_size}:{st.st_mtime_ns};".encode()
                )
    return h.hexdigest()[:12]


# Same-process builds serialize on one lock: two threads racing the
# same (or different) artifacts must never share or delete each
# other's in-flight scratch tree. Cross-process safety comes from the
# atomic rename below. Reentrant, because a layout's writer may read
# another layout (the compacted rewrite reads the landing) and that
# one may need building first.
_MATERIALIZE_LOCK = threading.RLock()


def _materialize_atomic(dest: Path, write) -> str:
    """Build-once directory artifact with crash and concurrency safety:
    ``write(scratch_path)`` produces the artifact in a scratch dir next
    to ``dest``, which is then PUBLISHED with one atomic rename — a
    half-written tree is never observable at the final path, so a
    crashed partial build leaves only scratch debris (swept on the
    next build) and never a serving artifact. Intactness = ``dest``
    exists AND holds at least one file: a temp-dir cleaner that guts
    the tree but leaves the directory triggers a rebuild instead of
    serving an empty path (the ensure_bucketed trust-but-verify rule).
    Same-process concurrency is serialized by _MATERIALIZE_LOCK;
    cross-process, the first rename wins and a later builder either
    returns the published tree (rename lost the race) or keeps its own
    scratch private until its rename (ADVICE r13 — replaces the 'any
    parquet file exists' heuristic that accepted partial overwrites).
    Debris from CRASHED builds is swept, but only scratch whose
    PID-suffix owner is dead — rmtree'ing a LIVE concurrent process's
    in-flight scratch between its part-file writes and its rename
    could hand that builder a partial tree to publish (ADVICE r14)."""

    def intact() -> bool:
        return dest.is_dir() and any(f.is_file() for f in dest.rglob("*"))

    def sweepable(name: str) -> bool:
        # scratch names end ".tmp-<pid>"; an unparsable suffix is
        # never swept (can't attribute it). Our OWN pid is always
        # sweepable: under _MATERIALIZE_LOCK no other thread of this
        # process is mid-build, so same-pid scratch can only be debris
        # from our own crashed earlier attempt.
        try:
            pid = int(name.rsplit("-", 1)[1])
        except (IndexError, ValueError):
            return False
        if pid == os.getpid():
            return True
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True  # owner dead: crashed foreign build
        except PermissionError:
            return False  # exists, owned by someone else
        return False

    if intact():
        return str(dest)
    with _MATERIALIZE_LOCK:
        if intact():
            return str(dest)
        if dest.is_dir():  # gutted by an external cleaner: rebuild
            shutil.rmtree(str(dest))
        dest.parent.mkdir(parents=True, exist_ok=True)
        # sweep debris from CRASHED builds (dead-PID scratch would
        # otherwise accumulate unbounded partial trees under the temp
        # dir); live-PID scratch belongs to a concurrent in-flight
        # build and must not be touched (ADVICE r14)
        for stale in dest.parent.glob(f".{dest.name}.tmp-*"):
            if sweepable(stale.name):
                shutil.rmtree(str(stale), ignore_errors=True)
        scratch = dest.parent / f".{dest.name}.tmp-{os.getpid()}"
        write(str(scratch))
        try:
            scratch.rename(dest)
        except OSError:
            if not intact():
                raise
            shutil.rmtree(str(scratch), ignore_errors=True)
    return str(dest)


def warehouse_root(sf_dir: str, *tables: str) -> Path:
    """The directory that holds the layouts derived from ``tables`` of
    ``sf_dir`` at their current version; its name is the source
    digest."""
    tag = _source_fingerprint(sf_dir, *tables)
    return Path(tempfile.gettempdir()) / "mcdp_warehouse" / tag


def layout(*tables: str, name: str):
    """Publish ``fn(spark, sf_dir, path)``'s output as the directory
    ``name`` once per version of the source ``tables`` (see the module
    docstring). Every call re-fingerprints the source and re-checks
    that the published tree is intact, so a regenerated fixture or a
    gutted temp dir rebuilds."""

    def decorate(fn):
        @functools.wraps(fn)
        def ensure(spark: SparkSession, sf_dir: str) -> str:
            return _materialize_atomic(
                warehouse_root(sf_dir, *tables) / name,
                lambda path: fn(spark, sf_dir, path),
            )

        return ensure

    return decorate


@artifact
def parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` memoized per (application, path) for
    a published ``@layout`` directory: its path embeds the source
    digest and it publishes by atomic rename, so path identity ==
    content identity.

    Every fresh ``spark.read.parquet`` call re-lists the directory and
    re-reads a footer for schema inference — driver-side work a real
    warehouse does once per table via its catalog/manifest (guide §6:
    file-listing cost; Iceberg/Delta's strongest practical argument).
    Reusing the scan node reuses the session's cached FileIndex instead
    of rebuilding it on every query construction. Only the UNEXECUTED
    scan plan is cached — every execution still reads the parquet
    files. Never use this for per-run temp dirs (a fresh path per call
    would just grow the store) or for dirs rewritten in place (the
    snapshot would go stale)."""
    return spark.read.parquet(path)
