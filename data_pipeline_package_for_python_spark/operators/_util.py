"""Shared operator utilities."""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

from ..session import scoped_conf, session_state

__all__ = ["collect_no_aqe", "ensure_parallel", "md5_key_expr", "swap_cache"]


def collect_no_aqe(df: DataFrame) -> list:
    """``collect()`` with AQE scoped OFF around one action.

    For a fixed-shape tiny-output aggregate — a k×d k-means update, a
    one-row convergence checksum — adaptive execution can neither
    coalesce anything useful nor hit skew at ANY scale; it only splits
    the action into an extra shuffle-stage job (2 jobs instead of 1,
    measured at sf0.01 with identical wall time).

    Bystander contract: ``session.scoped_conf`` serialises scoped
    sections only, so another thread that PLANS a query while this
    collect runs sees AQE off too (Spark conf is session-global)."""
    with scoped_conf(df.sparkSession, {"spark.sql.adaptive.enabled": "false"}):
        return df.collect()


# Single-slot persist cache: one live persisted frame per (session, tag).
# An operator that persists an intermediate (e.g. MinHash signatures
# feeding both the LSH band join and the verification lookups) registers
# it here; the NEXT call under the same slot unpersists the previous
# occupant before persisting its own.  This bounds cached-block growth to
# one frame per operator in long-lived sessions (repeated pipeline runs,
# benchmarks, notebooks) — the round-1 leak was measured at 10× query
# slowdown once evicted blocks started thrashing executor memory.
#
# The slots live on the context's SessionState (released with it), keyed
# by session so concurrent sessions never retire each other's frames, and
# swapped under the holder's lock so interleaved driver threads can't race
# the pop/persist pair.  NOTE the remaining semantic, by design: two
# concurrent calls on DIFFERENT inputs under the SAME tag in the SAME
# session still hand the slot to the later call — the earlier frame is
# retired and recomputes via lineage if still referenced (correct, just
# uncached).  Callers needing several live results concurrently pass
# distinct tags.
def swap_cache(tag: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` under ``tag``, retiring the slot's previous frame."""
    state = session_state(df.sparkSession)
    key = (df.sparkSession, tag)
    out = df.persist()
    with state.lock:
        prev = state.slots.pop(key, None)
        state.slots[key] = out
    if prev is not None and prev is not out:
        try:
            prev.unpersist()
        except Exception:
            pass  # session of the old frame may already be stopped
    return out


def ensure_parallel(df: DataFrame) -> DataFrame:
    """Round-robin repartition when upstream parallelism is below core count.

    Row-expansion stages (explode of shingles/tokens) inherit the scan's
    partitioning; a small file reads as 1-2 splits and the whole expansion
    then runs on one core.  One cheap narrow-input shuffle before the
    expansion is the right trade at any scale — on a real cluster a 100 TB
    input already has thousands of splits and this is a no-op.

    The decision is memoized on the session state by frame identity: the
    partition-count probe (``df.rdd``) forces analysis + physical planning
    (~20-40 ms of py4j/Catalyst), and the long-lived ``load()`` scan
    handles flow into every pipeline rebuild as the same object.
    """
    memo = session_state(df.sparkSession).parallel
    key = id(df)
    hit = memo.get(key)
    if hit is not None and hit[0]() is df:
        return hit[1]
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    out = df.repartition(target) if df.rdd.getNumPartitions() < target else df
    # weakref callback evicts the entry when the source frame dies, so a
    # recycled id() can never serve a stale verdict and the memo cannot
    # pin dead frames; the output is held strongly only while its source
    # lives (sources are themselves the long-lived load() scan handles).
    memo[key] = (weakref.ref(df, lambda _r, k=key: memo.pop(k, None)), out)
    return out


def md5_key_expr(col_sql: str, *, salt: str = "", n_hex: int = 8) -> str:
    """SQL snippet for the engine-portable deterministic hash key used by
    every sampler/splitter/shuffler: first ``n_hex`` hex digits of
    ``md5(cast(col as string) || salt)`` parsed as an int64.

    ONE definition on the Spark side so a future change to the key
    derivation (wider digest, different salt convention) happens here —
    but note the DuckDB oracles embed the equivalent
    ``CAST(('0x' || substring(md5(...), 1, 8)) AS BIGINT)`` textually,
    so any change MUST be mirrored in each oracle's SQL (the price of
    differential testing against independent SQL text)."""
    salted = f"cast({col_sql} as string)"
    if salt:
        salted += f" || '{salt}'"
    return (
        f"cast(conv(substring(md5({salted}), 1, {n_hex}), 16, 10)"
        f" as bigint)"
    )
