"""Per-session state lives on one holder per SparkContext.

Everything the engine caches for a live context (scan handles, gate
verdicts, ``ensure_parallel`` decisions, staged fixture directories,
bucketed layouts, codebook broadcasts, single-slot persisted frames)
sits on :class:`session.SessionState`.  A NEW context gets a new holder
and the old one is released as a unit — tempdirs reclaimed, broadcasts
destroyed, slot frames unpersisted.

Tests that exercise the switch use stand-in context objects and swap the
module's holder with ``monkeypatch``, so the live session's holder is
put back untouched afterwards and never released.
"""

import ast
import os
import pathlib
import sys
import tempfile
import threading
from types import SimpleNamespace

import pytest

from data_pipeline_package_for_python_spark import session
from data_pipeline_package_for_python_spark.queries import relational

PKG = pathlib.Path(session.__file__).parent


def _fake_spark():
    """A stand-in for a SparkSession of its own (fake) context."""
    return SimpleNamespace(sparkContext=object())


class _Recorder:
    """Stand-in for a persisted frame / broadcast that records cleanup
    and can be told to fail."""

    def __init__(self, log, fail=False):
        self.log, self.fail = log, fail

    def _do(self, what):
        self.log.append(what)
        if self.fail:
            raise RuntimeError("must be swallowed")

    def unpersist(self, blocking=False):
        self._do("unpersist")

    def destroy(self):
        self._do("destroy")


@pytest.fixture
def isolated_state(monkeypatch):
    """No live holder for the test; the live one is restored after."""
    monkeypatch.setattr(session, "_STATE", None)


def test_new_context_releases_only_the_old_holder(isolated_state):
    a, b = _fake_spark(), _fake_spark()
    state_a = session.session_state(a)
    assert session.session_state(a) is state_a, "hit by context identity"
    state_a.gates[("tok", 1)] = True
    state_a.scans[("/sf", "orders")] = "scan"

    state_b = session.session_state(b)
    assert state_b is not state_a
    assert session.current_session_state() is state_b
    # the old holder was released as a unit, the new one starts empty
    assert not state_a.gates and not state_a.scans
    assert not state_b.gates and not state_b.scans
    state_b.gates[("tok", 1)] = False
    assert session.session_state(b) is state_b
    assert state_b.gates == {("tok", 1): False}


def test_concurrent_first_lookups_share_one_holder(isolated_state):
    """Stress: threads racing the first lookup of a new context must all
    get the same holder (a lost update would hand out two)."""
    n_threads, rounds = 8, 100

    def race(spark):
        got, start = [], threading.Barrier(n_threads)

        def lookup():
            start.wait(10)
            got.append(session.session_state(spark))

        threads = [threading.Thread(target=lookup) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
        assert not any(t.is_alive() for t in threads)
        return got

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(rounds):
            got = race(_fake_spark())
            assert len(got) == n_threads
            assert all(s is got[0] for s in got)
    finally:
        sys.setswitchinterval(old_interval)


def test_release_runs_every_cleanup_and_swallows_errors(isolated_state):
    log = []
    state = session.session_state(_fake_spark())
    state.slots[("s", "tag")] = _Recorder(log, fail=True)
    state.broadcasts["digest"] = _Recorder(log, fail=True)
    state.tempdirs[("text", "/sf")] = tempfile.mkdtemp(prefix="dpp_test_")
    state.release()
    assert log == ["unpersist", "unpersist"]  # destroy skipped on failure
    assert not state.slots and not state.broadcasts and not state.tempdirs

    log.clear()
    state.broadcasts["digest"] = _Recorder(log)
    assert state.release_broadcasts() == 1
    assert log == ["unpersist", "destroy"]


def test_product_caches_are_registered(isolated_state):
    """Every per-session memo is a field of the holder, and release()
    empties all of them; no module in the package keeps its own
    module-level cache dict any more."""
    state = session.session_state(_fake_spark())
    memos = {k: v for k, v in vars(state).items() if isinstance(v, dict)}
    assert set(memos) == {
        "scans", "gates", "parallel", "slots", "tempdirs", "layouts",
        "broadcasts",
    }
    d1 = tempfile.mkdtemp(prefix="dpp_test_")
    d2 = tempfile.mkdtemp(prefix="dpp_test_")
    state.scans[("/sf", "t")] = "scan"
    state.gates[(1, 2)] = True
    state.parallel[1] = (None, None)
    state.slots[("s", "t")] = _Recorder([])
    state.tempdirs[("k", "/sf")] = d1
    state.layouts[("/sf", 8)] = (("t_o", "t_l"), d2)
    state.broadcasts["x"] = _Recorder([])
    state.release()
    assert all(not m for m in memos.values())

    offenders = []
    for path in PKG.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                if isinstance(t, ast.Name) and any(
                    w in t.id for w in ("CACHE", "STAGE", "MEMO", "SLOT")
                ):
                    offenders.append(f"{path.name}:{t.id}")
    assert not offenders, offenders


def test_dead_session_tempdirs_are_reclaimed(isolated_state):
    dead = session.session_state(_fake_spark())
    jpeg_dir = dead.staged_dir(("jpeg_corpus", "/some/sf"), lambda d: None)
    bko_dir = tempfile.mkdtemp(prefix="dpp_test_bko_")
    dead.layouts[("/some/sf", 8)] = (("t_orders", "t_lineitem"), bko_dir)
    assert os.path.isdir(jpeg_dir) and os.path.isdir(bko_dir)
    session.session_state(_fake_spark())  # a new context appears
    assert not dead.tempdirs and not dead.layouts
    assert not os.path.exists(jpeg_dir)
    assert not os.path.exists(bko_dir)


def test_staged_dir_builds_once_and_drops_failed_builds(isolated_state):
    state = session.session_state(_fake_spark())
    calls = []
    d = state.staged_dir(("text", "/sf"), calls.append)
    assert state.staged_dir(("text", "/sf"), calls.append) == d
    assert calls == [d]

    def boom(path):
        calls.append(path)
        raise OSError("disk full")

    with pytest.raises(OSError):
        state.staged_dir(("prune", "/sf"), boom)
    assert not os.path.exists(calls[-1])
    assert ("prune", "/sf") not in state.tempdirs
    state.release()


def test_live_session_entries_survive_miss_path(spark, sf_dir):
    """A real gate miss adds to the live holder without evicting or
    replacing anything in it."""
    state = session.session_state(spark)
    live_key = (("test-live-token",), 123)
    state.gates[live_key] = False
    try:
        token = ("test-miss-token", sf_dir)
        relational._orders_side_fits_broadcast(
            spark,
            lambda: relational.load(spark, sf_dir, "orders"),
            token=token,
        )
        assert session.session_state(spark) is state
        assert state.gates[live_key] is False
        thr = next(k[1] for k in state.gates if k[0] == token)
        assert (token, thr) in state.gates
    finally:
        state.gates.pop(live_key, None)
