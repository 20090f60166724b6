"""SparkSession factory with scale-oriented defaults.

Everything here targets the same configuration posture we would ship to a
1000-executor cluster reading ~100 TB:

- **AQE on** (runtime re-planning, partition coalescing, skew-join splitting).
- **UTC session timezone** so timestamp semantics are stable across engines
  (and match the DuckDB oracle used in tests).
- **Arrow enabled** for any pandas-UDF path (vectorized Python boundary).
- ``spark.sql.shuffle.partitions`` sized for the local test harness; on a real
  cluster this is superseded by AQE's coalescing
  (``spark.sql.adaptive.coalescePartitions.enabled``), which right-sizes
  post-shuffle partitions from runtime statistics, so the static value only
  sets the *initial* partitioning.

The reference system (/root/reference/dpp.py) has no session concept at all —
it is a single-process dict of Python objects (dpp.py:178).  This module is
the Spark-native replacement for "a place where data lives": it also owns
the one holder of per-context state (:func:`session_state`) and the one
way to override session conf for a bounded section (:func:`scoped_conf`).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "SessionState", "current_session_state", "get_spark", "scoped_conf",
    "session_state", "stop_spark",
]


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "data-pipeline-package-for-python-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's standard posture.

    In local mode we default ``shuffle_partitions`` to the core count — small
    enough to avoid tiny-task overhead at test scale, while AQE coalescing
    keeps the same code correct when the input is 100 TB and the initial
    shuffle partitioning needs to be in the thousands
    (``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` can be
    raised per-job for that).
    """
    parallelism = _default_parallelism()
    if master is None:
        master = f"local[{parallelism}]"
    if shuffle_partitions is None:
        shuffle_partitions = parallelism

    local_mode = master.startswith("local")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / oracle alignment ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Python boundary: always Arrow, never pickled rows ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- keep the UI quiet in test runs ---
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Catalyst's non-CBO scan estimate is RAW FILE BYTES; snappy
        # parquet expands ~4-8x into Tungsten rows + HashedRelation
        # overhead, so an un-scaled estimate green-lights broadcasts
        # whose real build cost exceeds a shuffle (measured at sf1:
        # Q3's "7.4 MB" orders side is a ~685K-row hash relation and
        # the broadcast path runs 1.7x slower than agg-below-join).
        # This is the documented knob for exactly that bias; 5 errs
        # toward declining — the safe direction at 100 TB.
        .config("spark.sql.sources.fileCompressionFactor", "5.0")
        # Runtime Bloom-filter join reduction: let the optimizer build a
        # Bloom from a dim-filtered build side up to 128 MB (default
        # 10 MB) and prune the fact scan's shuffle write with it.  The
        # build cost is one extra semi-aggregation over a side that is
        # small BY THE PLANNER'S OWN ESTIMATE; the saving is fact rows
        # that never enter the exchange.  Interleaved on/off A/B (r8):
        # Q5's shuffle path at sf3 1.62→1.46 s (−10%), Q3 neutral at
        # sf1/sf3; at 100 TB the fact:build ratio is thousands of times
        # larger and the trade only improves.  (Join-node estimates
        # inflate multiplicatively without CBO, so very large creation
        # sides — e.g. Q5's enriched orders at sf10 — self-exclude.)
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "128MB",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.log.level", "WARN")
    )
    if local_mode:
        # Local test/bench fixtures are single small parquet files; at the
        # default 128 MB split size a 10 MB table scans on ONE core of 32.
        # Small splits keep every scan parallel locally.  Cluster deploys
        # (master != local) keep Spark's defaults — at 100 TB the input is
        # already thousands of row-group splits.
        builder = (
            builder.config(
                "spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
            )
            .config("spark.sql.files.openCostInBytes", "1m")
            # AQE's coalescer stops splitting below minPartitionSize
            # (default 1 MB) — at test scale that collapses a 150 K-row
            # window stage to 3 partitions on a 32-core box (measured:
            # the whole post-shuffle sort + Arrow encode serializes onto
            # 3 cores).  Local fixtures are small, so let coalesce keep
            # stages parallel; cluster deploys keep Spark's defaults —
            # at 100 TB intermediate stages dwarf any sane minimum.
            .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
            # Runtime-filter application gate, local analogue: Spark only
            # injects a Bloom when the application-side scan estimate
            # exceeds 10 GB — at 100 TB every fact scan qualifies, but no
            # local fixture does, so local plans would never exercise the
            # runtime-filter path a cluster runs.  256 MB keeps blooms out
            # of unit-test and sf0.1 driver-bench plans (estimates ≤
            # ~85 MB) while the sf1+ scale sessions (≥ ~565 MB) plan
            # exactly like the cluster.  Cluster deploys keep the 10 GB
            # default.
            .config(
                "spark.sql.optimizer.runtime.bloomFilter."
                "applicationSideScanSizeThreshold",
                "256MB",
            )
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# --------------------------------------------------------------------- #
# scoped session conf                                                   #
# --------------------------------------------------------------------- #

# Held for the whole scope: two overlapping save/set/restore sections on
# one key otherwise interleave as A-set, B-save, A-restore, B-restore and
# leave A's override behind for good.  Re-entrant so a scoped section may
# call code that scopes another key.  The lock serialises SCOPED sections
# only — a bystander thread planning inside another thread's scope sees
# the override (Spark conf is session-global); callers keep scopes to
# what must observe the value (a read, a start(), one collect).
_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, overrides: dict[str, str]):
    """Set ``overrides`` for the ``with`` body, then restore each key's
    prior value (or unset it if it had none)."""
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in overrides}
        try:
            for k, v in overrides.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


# --------------------------------------------------------------------- #
# per-session state                                                     #
# --------------------------------------------------------------------- #

class SessionState:
    """Everything the engine keeps for one live SparkContext.  Keys
    carry no application id: a new context gets a new holder and the
    old one is released as a unit (:meth:`release`)."""

    def __init__(self, sc) -> None:
        # strong ref: the identity check in session_state can never be
        # fooled by a recycled id()
        self.sc = sc
        self.lock = threading.Lock()
        # (sf_dir, table) -> scan DataFrame (queries._registry.load)
        self.scans: dict[tuple[str, str], DataFrame] = {}
        # (token | plan hash, threshold) -> broadcast-gate verdict
        self.gates: dict[tuple, bool] = {}
        # id(frame) -> (weakref to frame, repartitioned frame)
        # (operators._util.ensure_parallel)
        self.parallel: dict[int, tuple] = {}
        # (session, tag) -> the one persisted frame of that slot
        # (operators._util.swap_cache)
        self.slots: dict[tuple, DataFrame] = {}
        # (kind, sf_dir) -> staged fixture directory (see staged_dir)
        self.tempdirs: dict[tuple, str] = {}
        # (sf_dir, n_buckets[, "star"]) -> (catalog table names, directory)
        # (queries.relational.bucketed_order_tables)
        self.layouts: dict[tuple, tuple[tuple[str, ...], str]] = {}
        # codebook digest -> Broadcast (operators.similarity)
        self.broadcasts: dict[str, object] = {}

    def staged_dir(self, key: tuple, build: Callable[[str], None]) -> str:
        """A fresh directory filled once per (context, ``key``) by
        ``build(path)``; the holder reclaims it on release.  Concurrent
        first calls may both build — the first to finish wins and the
        loser's directory is removed."""
        path = self.tempdirs.get(key)
        if path is not None:
            return path
        fresh = tempfile.mkdtemp(prefix=f"dpp_{key[0]}_")
        try:
            build(fresh)
        except BaseException:
            shutil.rmtree(fresh, ignore_errors=True)
            raise
        with self.lock:
            path = self.tempdirs.setdefault(key, fresh)
        if path is not fresh:
            shutil.rmtree(fresh, ignore_errors=True)
        return path

    def release_broadcasts(self) -> int:
        """Unpersist and destroy every cached broadcast; returns how many
        were released (failures on a stopped context are swallowed)."""
        with self.lock:
            bcs = list(self.broadcasts.values())
            self.broadcasts.clear()
        n = 0
        for bc in bcs:
            try:
                bc.unpersist(blocking=False)
                bc.destroy()
                n += 1
            except Exception:
                pass  # context already gone — nothing left to free
        return n

    def release(self) -> None:
        """Free everything: unpersist slot frames, destroy broadcasts,
        remove staged and layout directories, forget every memo.  Runs
        when a new context replaces this one, so each step is
        best-effort (the old context is usually stopped by then)."""
        with self.lock:
            frames = list(self.slots.values())
            dirs = list(self.tempdirs.values())
            dirs += [base for _names, base in self.layouts.values()]
            for memo in (self.scans, self.gates, self.parallel, self.slots,
                         self.tempdirs, self.layouts):
                memo.clear()
        for frame in frames:
            try:
                frame.unpersist()
            except Exception:
                pass  # stopped context — its blocks died with it
        self.release_broadcasts()
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


_STATE: SessionState | None = None
_STATE_LOCK = threading.Lock()


def session_state(spark: SparkSession) -> SessionState:
    """The :class:`SessionState` of ``spark``'s SparkContext; when a
    different context appears, the previous holder is released."""
    # a hit is one attribute read and one identity compare — no py4j
    # call — so per-query paths (load, the gate memo, ensure_parallel)
    # consult it freely
    global _STATE
    sc = spark.sparkContext
    state = _STATE
    if state is not None and state.sc is sc:
        return state
    with _STATE_LOCK:
        old = _STATE
        if old is not None and old.sc is sc:
            return old
        state = _STATE = SessionState(sc)
    if old is not None:
        old.release()
    return state


def current_session_state() -> SessionState | None:
    """The holder of the most recent context (None before first use)."""
    return _STATE
