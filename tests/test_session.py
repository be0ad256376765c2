"""Session factory, the per-session memo and the query scope
(session.py).

The memo and scope tests stub ``spark`` with an object whose
``sparkContext.applicationId`` can be set and whose ``_jsc`` serves a
plain dict of fake persisted RDDs, so they need no JVM.
"""

from __future__ import annotations

import sys
import threading
from types import SimpleNamespace

import pytest

from flights_data_pipeline_spark import session
from flights_data_pipeline_spark.session import (
    get_spark,
    query_scope,
    session_memo,
)


@pytest.fixture(autouse=True)
def _own_memo(monkeypatch):
    # a stub application id would drop the live test session's values
    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_PINNED", {})


class _FakeRDD:
    def __init__(self, rdds: dict, rdd_id: int):
        self.rdds, self.rdd_id = rdds, rdd_id

    def unpersist(self, blocking):
        del self.rdds[self.rdd_id]


def _stub(app_id: str) -> SimpleNamespace:
    rdds: dict[int, _FakeRDD] = {}
    jsc = SimpleNamespace(getPersistentRDDs=lambda: dict(rdds))
    return SimpleNamespace(
        rdds=rdds,
        sparkContext=SimpleNamespace(applicationId=app_id, _jsc=jsc),
    )


def _persist(s: SimpleNamespace, rdd_id: int) -> None:
    s.rdds[rdd_id] = _FakeRDD(s.rdds, rdd_id)


def _never():
    raise AssertionError("build called on a memo hit")


def test_get_spark_leaves_live_session_confs_alone(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "3"
    assert get_spark(shuffle_partitions=3) is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_memo_hit_returns_same_object_without_building():
    s = _stub("app-hit")
    value = object()
    assert session_memo(s, ("hit",), lambda: value) is value
    assert session_memo(s, ("hit",), _never) is value


def test_new_application_drops_old_values():
    s = _stub("app-old")
    session_memo(s, ("k",), lambda: "old")
    s.sparkContext.applicationId = "app-new"
    assert session_memo(s, ("k",), lambda: "new") == "new"
    s.sparkContext.applicationId = "app-old"
    assert session_memo(s, ("k",), lambda: "rebuilt") == "rebuilt"


def test_nested_build_does_not_deadlock():
    s = _stub("app-nested")
    out = []

    def outer():
        return ("outer", session_memo(s, ("inner",), lambda: "inner"))

    t = threading.Thread(target=lambda: out.append(session_memo(s, ("outer",), outer)))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive(), "nested session_memo build deadlocked"
    assert out == [("outer", "inner")]
    assert session_memo(s, ("inner",), _never) == "inner"


def test_concurrent_inserts_lose_no_key():
    s = _stub("app-threads")
    n = 8
    errors = []
    start = threading.Barrier(n)

    def insert(i):
        try:
            start.wait(timeout=10)
            for j in range(200):
                session_memo(s, ("thread", i, j), lambda i=i, j=j: (i, j))
        except Exception as e:  # recorded and asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=insert, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for i in range(n):
        for j in range(200):
            assert session_memo(s, ("thread", i, j), _never) == (i, j)


def test_scope_frees_what_the_call_persisted_but_not_memo_builds():
    s = _stub("app-scope")
    _persist(s, 1)  # persisted before the scope: not the call's
    with query_scope(s):
        _persist(s, 2)
        session_memo(s, ("model",), lambda: _persist(s, 3))
        _persist(s, 4)
    assert sorted(s.rdds) == [1, 3]
    # a later scope still keeps the memo's RDD
    with query_scope(s):
        session_memo(s, ("model",), _never)
        _persist(s, 5)
    assert sorted(s.rdds) == [1, 3]


def test_scope_frees_on_error():
    s = _stub("app-scope-error")
    with pytest.raises(RuntimeError):
        with query_scope(s):
            _persist(s, 7)
            raise RuntimeError("query failed")
    assert s.rdds == {}


def test_pins_are_dropped_with_the_memo():
    s = _stub("app-pin-old")
    session_memo(s, ("model",), lambda: _persist(s, 1))
    assert session._PINNED == {"app-pin-old": {1}}
    s.sparkContext.applicationId = "app-pin-new"
    session_memo(s, ("k",), lambda: "v")
    assert session._PINNED == {"app-pin-new": set()}
    with query_scope(s):
        _persist(s, 2)
    assert sorted(s.rdds) == [1]  # persisted before the scope
