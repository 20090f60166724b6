"""Session conf is overridden through one primitive, ``scoped_conf``.

Pins three properties:

- overlapping scopes on one key from two threads serialise, so the key
  ends at its original value (hand-rolled save/set/restore pairs leak on
  the A-set, B-save, A-restore, B-restore interleaving);
- a streaming query keeps what was scoped around its ``start()`` alone:
  the state-partition count and prompt no-data progress reporting;
- no module outside ``session.py`` sets or unsets session conf, apart
  from the two documented session-lifetime sites.
"""

from __future__ import annotations

import ast
import os
import pathlib
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_package_for_python_spark import session
from data_pipeline_package_for_python_spark.session import scoped_conf
from data_pipeline_package_for_python_spark.sources import read_events

NODATA = "spark.sql.streaming.noDataProgressEventInterval"
PARTS = "spark.sql.shuffle.partitions"


def test_overlapping_scopes_on_one_key_restore_the_original(spark):
    assert spark.conf.get(NODATA, None) is None
    a_in, a_go, b_in = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def thread_a():
        with scoped_conf(spark, {NODATA: "100ms"}):
            a_in.set()
            a_go.wait(10)

    def thread_b():
        a_in.wait(10)
        with scoped_conf(spark, {NODATA: "200ms"}):
            b_in.set()
            seen["b"] = spark.conf.get(NODATA)

    ta, tb = threading.Thread(target=thread_a), threading.Thread(target=thread_b)
    ta.start()
    tb.start()
    try:
        assert a_in.wait(10)
        # B asks for the key while A holds it: B must wait for A's exit,
        # otherwise B would save A's override and restore it last
        assert not b_in.wait(0.5), "scopes on one key overlapped"
    finally:
        a_go.set()
        ta.join(10)
        tb.join(10)
    assert b_in.is_set() and seen["b"] == "200ms"
    assert spark.conf.get(NODATA, None) is None


def test_many_threads_on_one_key_never_overlap_or_leak(spark):
    """Stress: more threads than cores, short switch interval; inside its
    scope every thread must read its own value, and the key must end at
    its original (unset) state."""
    n_threads, rounds = 2 * (os.cpu_count() or 2), 15
    wrong, errors = [], []

    def worker(i):
        try:
            for _ in range(rounds):
                with scoped_conf(spark, {NODATA: f"{100 + i}ms"}):
                    got = spark.conf.get(NODATA)
                    if got != f"{100 + i}ms":
                        wrong.append((i, got))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors and not wrong, (errors, wrong[:5])
    assert spark.conf.get(NODATA, None) is None


def test_scope_restores_prior_value_and_survives_errors(spark):
    before = spark.conf.get(PARTS)
    try:
        with scoped_conf(spark, {PARTS: "3", NODATA: "100ms"}):
            assert spark.conf.get(PARTS) == "3"
            raise KeyError("boom")
    except KeyError:
        pass
    assert spark.conf.get(PARTS) == before
    assert spark.conf.get(NODATA, None) is None


def test_stream_keeps_scoped_start_conf_after_scope_exits(spark, tmp_path):
    """The conf a query needs is captured at ``start()``: scoping it
    around ``start()`` alone keeps the state-store partition count and
    prompt (<< 10 s default) no-data progress for the query's life."""
    src = tmp_path / "src"
    spark.range(40).selectExpr("id % 4 AS k").write.parquet(str(src))
    agg = (
        spark.readStream.schema("k long").parquet(str(src))
        .groupBy("k").count()
    )
    before = spark.conf.get(PARTS)
    with scoped_conf(spark, {PARTS: "3", NODATA: "100ms"}):
        q = (
            agg.writeStream.format("memory")
            .queryName("scoped_conf_probe")
            .outputMode("complete")
            .trigger(processingTime="50 milliseconds")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
    try:
        assert spark.conf.get(PARTS) == before
        assert spark.conf.get(NODATA, None) is None
        deadline = time.time() + 60
        data_seen_at = None
        empty = None
        while time.time() < deadline:
            time.sleep(0.05)
            assert q.exception() is None
            for p in q.recentProgress:
                if p["numInputRows"] > 0 and data_seen_at is None:
                    data_seen_at = time.time()
                    ops = p["stateOperators"]
                    assert ops and ops[0]["numShufflePartitions"] == 3
                elif p["numInputRows"] == 0 and data_seen_at is not None:
                    empty = time.time() - data_seen_at
            if empty is not None:
                break
        assert data_seen_at is not None, "no data batch was reported"
        assert empty is not None and empty < 6.0, empty
    finally:
        q.stop()
    assert sorted(map(tuple, spark.table("scoped_conf_probe").collect())) == [
        (0, 10), (1, 10), (2, 10), (3, 10),
    ]


def test_read_events_scopes_nanos_flag_to_the_read(spark, tmp_path):
    """Nanosecond ``ts`` reads as long under the scoped legacy flag and
    is floored to µs; the frame still executes after the scope ends and
    the flag never leaks."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns", tz="UTC")),
        }),
        path,
    )
    before = spark.conf.get(key, None)
    df = read_events(spark, path)
    assert spark.conf.get(key, None) == before
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.orderBy("event_id").selectExpr("unix_micros(ts) AS us")
    assert [r.us for r in got.collect()] == [n // 1000 for n in ns]


def _conf_writes(path: pathlib.Path):
    """(first-argument key or None, method) of every ``*.conf.set(`` /
    ``*.conf.unset(`` call in ``path``."""
    for node in ast.walk(ast.parse(path.read_text())):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")):
            continue
        owner = node.func.value
        name = owner.attr if isinstance(owner, ast.Attribute) else getattr(
            owner, "id", None)
        if name != "conf":
            continue
        arg = node.args[0] if node.args else None
        key = arg.value if isinstance(arg, ast.Constant) else None
        yield key, node.func.attr


def test_conf_is_written_only_by_session_and_two_documented_sites():
    pkg = pathlib.Path(session.__file__).parent
    found = set()
    for path in pkg.rglob("*.py"):
        if path == pkg / "session.py":
            continue
        for key, method in _conf_writes(path):
            found.add((str(path.relative_to(pkg)), key, method))
    assert found == {
        # the UTC pin every timestamp normalisation in load() relies on
        ("queries/_registry.py", "spark.sql.session.timeZone", "set"),
        # the layout tier holds this flag from build until release
        ("queries/relational.py",
         "spark.sql.legacy.bucketedTableScan.outputOrdering", "set"),
        ("queries/relational.py",
         "spark.sql.legacy.bucketedTableScan.outputOrdering", "unset"),
    }
