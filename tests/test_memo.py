"""The process-wide keyed memo (yupana_spark.memo) and the fit helper built
on it (datapipe.artifacts.fitted).  Spark-free: sessions are stubs that
carry only the applicationId the memo keys read."""

import ast
import pathlib
import sys
import threading
import time
import types

import numpy as np
import pytest

from yupana_spark import memo as M
from yupana_spark.datapipe import simsearch
from yupana_spark.datapipe.artifacts import fitted

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _session(app: str):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app))


@pytest.fixture
def app(request):
    """A unique applicationId per test; its entries are forgotten after."""
    name = "memo-test-" + request.node.name
    yield name
    M.forget(lambda k: name in k)


def _blocked_build(key, value):
    """Start ``memo(key, ...)`` on a thread whose build waits for the
    returned release event; returns (thread, release, results)."""
    started, release, got = threading.Event(), threading.Event(), []

    def build():
        started.set()
        release.wait(timeout=30)
        return value

    t = threading.Thread(target=lambda: got.append(M.memo(key, build)))
    t.start()
    assert started.wait(timeout=30)
    return t, release, got


def test_concurrent_misses_build_once(app):
    builds, results = [], []

    def build():
        builds.append(1)
        time.sleep(0.05)           # keep the build in flight
        return object()

    threads = [threading.Thread(
        target=lambda: results.append(M.memo(("t", app), build)))
        for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(results) == 8 and all(r is results[0] for r in results)


def test_unrelated_keys_do_not_wait(app):
    t, release, got = _blocked_build(("t", app, "a"), "slow")
    try:
        assert M.memo(("t", app, "b"), lambda: "fast") == "fast"
    finally:
        release.set()
        t.join(timeout=30)
    assert not t.is_alive() and got == ["slow"]


def test_forget_during_build_keeps_stale_value_out(app):
    t, release, got = _blocked_build(("t", app), "stale")
    M.forget(lambda k: k == ("t", app))
    release.set()
    t.join(timeout=30)
    assert not t.is_alive()
    assert got == ["stale"]                   # the caller gets its value
    assert M.peek(("t", app)) is None         # the table does not
    assert M.memo(("t", app), lambda: "fresh") == "fresh"
    assert M.peek(("t", app)) == "fresh"


def test_max_entries_bounds_a_namespace(app):
    ns = "bounded-" + app
    for i in range(3):
        assert M.memo((ns, i), lambda i=i: i, max_entries=2) == i
    assert M.peek((ns, 0)) == 0 and M.peek((ns, 1)) == 1
    assert M.peek((ns, 2)) is None            # built, returned, not stored
    M.forget(lambda k: k[0] == ns)
    assert M.memo((ns, 2), lambda: 2, max_entries=2) == 2
    assert M.peek((ns, 2)) == 2
    M.forget(lambda k: k[0] == ns)


def test_failed_build_is_not_stored(app):
    def boom():
        raise RuntimeError("fit failed")

    with pytest.raises(RuntimeError):
        M.memo(("t", app), boom)
    assert M.memo(("t", app), lambda: "ok") == "ok"


def test_kmeans_fit_keys_on_vec_col(app, monkeypatch):
    """The old kmeans memo key dropped vec_col: a fit on another vector
    column returned the first column's centers."""
    samples = []

    def fake_sample(df, vec_col, id_col, sample_cap, n):
        samples.append(vec_col)
        return np.arange(8.0).reshape(4, 2)

    monkeypatch.setattr(simsearch, "_fit_sample", fake_sample)
    df = types.SimpleNamespace(sparkSession=_session(app))
    simsearch.kmeans_fit(df, 2, vec_col="a", cache_key="c", iters=1)
    simsearch.kmeans_fit(df, 2, vec_col="b", cache_key="c", iters=1)
    simsearch.kmeans_fit(df, 2, vec_col="a", cache_key="c", iters=1)
    assert samples == ["a", "b"]


def test_fitted_keys_on_every_param(app):
    """The near-dup gate's old memo key held only (session, corpus): a
    probe at another threshold returned the first threshold's decision."""
    builds = []
    spark = _session(app)

    def gate(params):
        return fitted(spark, "nd_gate", "sf", params,
                      lambda: builds.append(params) or params[0] < 0.6)

    assert gate((0.5, 32, 8, 0.15, 100_000)) is True
    assert gate((0.7, 32, 8, 0.15, 100_000)) is False
    assert gate((0.5, 32, 8, 0.15, 100_000)) is True
    assert len(builds) == 2


def test_no_memo_dicts_outside_memo_module():
    """Every cache goes through yupana_spark.memo: no module- or
    class-level name in the engine or the driver may be bound to an
    empty dict or set (the shape every ad hoc memo started from)."""
    def empty(v):
        if isinstance(v, ast.Dict):
            return not v.keys
        return (isinstance(v, ast.Call) and isinstance(v.func, ast.Name)
                and v.func.id in ("dict", "set")
                and not v.args and not v.keywords)

    def scopes(body):
        for node in body:
            yield node
            if isinstance(node, ast.ClassDef):
                yield from scopes(node.body)

    files = sorted((ROOT / "yupana_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    bad = []
    for f in files:
        if f == ROOT / "yupana_spark" / "memo.py":
            continue
        for node in scopes(ast.parse(f.read_text()).body):
            if (isinstance(node, (ast.Assign, ast.AnnAssign))
                    and node.value is not None and empty(node.value)):
                bad.append(f"{f.relative_to(ROOT)}:{node.lineno}")
    assert not bad, f"memo dicts outside yupana_spark/memo.py: {bad}"
