"""artifacts.ensure: the one build-once protocol behind the registry's
persisted artifacts. Pure local-filesystem tests with fake builds — no
Spark session."""

from __future__ import annotations

import os
import threading
import time
import types

import pytest

from etl_project_gcp_spark import artifacts as A


@pytest.fixture
def cache(tmp_path, monkeypatch):
    root = tmp_path / "cache"
    monkeypatch.setenv("ETL_GCP_SPARK_CACHE_DIR", str(root))
    return root


def test_suite_cache_root_is_per_session(tmp_path_factory):
    """Without a test's own override, artifact entries run by the suite
    build under pytest's basetemp (tests/conftest.py), never in the
    user's ~/.cache/etl_gcp_spark."""
    root = A._cache_root("ivf")
    assert root.startswith(str(tmp_path_factory.getbasetemp()) + os.sep)
    assert not root.startswith(os.path.expanduser("~/.cache/etl_gcp_spark"))


def _write(p, data: bytes) -> None:
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "wb") as f:
        f.write(data)


def test_ensure_builds_once_then_serves(cache, tmp_path):
    """A miss builds into a sibling and installs a _SUCCESS-marked dir at
    path(); a hit serves it without calling build again."""
    src = str(tmp_path / "t.parquet")
    _write(f"{src}/part-0.parquet", b"aaaa")
    calls = []

    def build(tmp, key):
        calls.append(key)
        _write(os.path.join(tmp, "payload"), b"x")

    p = A.ensure("demo", [src], "cfg", build)
    assert p == A.path("demo", [src], "cfg")
    assert p == os.path.join(str(cache), "demo", calls[0])
    assert A.ready(p) and os.path.exists(os.path.join(p, "payload"))
    assert A.ensure("demo", [src], "cfg", build) == p
    assert len(calls) == 1
    assert A.path("demo", [src], "other") != p
    assert os.listdir(os.path.dirname(p)) == [os.path.basename(p)]


def test_ensure_failed_build_leaves_nothing(cache):
    """A build that raises installs nothing and strands no build dir;
    the next call builds afresh."""
    def boom(tmp, key):
        _write(os.path.join(tmp, "half"), b"x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        A.ensure("demo", [], "cfg", boom)
    assert os.listdir(os.path.join(str(cache), "demo")) == []
    p = A.ensure("demo", [], "cfg", lambda tmp, key: None)
    assert A.ready(p)


def test_ensure_two_threads_one_key_private_build_dirs(cache):
    """Two threads of one driver ensuring the same artifact each build
    in their own (pid, thread) build dir: a shared pid-only name let
    one thread's leading rmtree delete the other's build while it was
    being written. The fake build holds both threads inside build at
    once and checks its own file survived."""
    gate = threading.Barrier(2, timeout=10)
    got, errors = [], []

    def build(tmp, key):
        mine = os.path.join(tmp, f"owner-{threading.get_ident()}")
        _write(mine, b"x")
        gate.wait()
        time.sleep(0.2)
        assert os.path.exists(mine), "build dir deleted under its builder"

    def worker():
        try:
            got.append(A.ensure("demo", [], "cfg", build))
        except Exception as exc:  # noqa: BLE001 — collected for the assert
            errors.append(repr(exc))
            gate.abort()

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not errors, errors
    assert len(got) == 2 and got[0] == got[1] and A.ready(got[0])
    left = os.listdir(os.path.dirname(got[0]))
    assert not [f for f in left if ".build-" in f or ".trash-" in f], left


def test_install_build_deadline_is_time_not_attempts(tmp_path, monkeypatch):
    """_install_build retries until a monotonic deadline, whatever the
    attempt count: a frozen clock keeps it trying well past the old
    fixed 50-attempt budget, and a fast clock makes it raise after a
    couple of attempts."""
    tmp, dst = str(tmp_path / "tmp"), str(tmp_path / "dst")
    attempts = []

    def always_fail(src, dst_):
        attempts.append(src)
        raise OSError("simulated ENOTEMPTY")

    monkeypatch.setattr(os, "rename", always_fail)

    def run(clock):
        attempts.clear()
        monkeypatch.setattr(
            A, "time",
            types.SimpleNamespace(monotonic=clock, sleep=lambda s: None),
        )
        with pytest.raises(OSError, match="simulated"):
            A._install_build(tmp, dst, lambda p: False)
        return len(attempts)

    # frozen until the 200th attempt, then far past the deadline
    assert run(lambda: 0.0 if len(attempts) < 200 else 1e6) == 200
    # each reading one second later: deadline passes on the 2nd check
    ticks = iter(range(1000))
    assert run(lambda: float(next(ticks))) == 2


@pytest.mark.parametrize("part", ["part-0.parquet", "year=2024/part-0.parquet"])
def test_ensure_rekeys_on_inplace_part_file_edit(cache, tmp_path, part):
    """An in-place content edit of a part file — at the top of the
    dataset directory, or inside a nested partition subdirectory —
    changes neither directory's own stat. The key folds in every
    descendant's (relpath, size, mtime_ns) (_dir_stat_key, as the _t
    table memo does), so the edit must change the ensure path and
    trigger a rebuild instead of serving the stale artifact."""
    src = str(tmp_path / "t.parquet")
    f = os.path.join(src, part)
    _write(f, b"first-bytes")
    calls = []

    def build(tmp, key):
        calls.append(key)

    before = A.ensure("demo", [src], "cfg", build)
    dirs = [src, os.path.dirname(f)]
    dir_stats = [os.stat(d) for d in dirs]
    time.sleep(0.02)
    with open(f, "r+b") as fh:  # same inode, same size, new bytes
        fh.write(b"other-bytes")
    for d, st in zip(dirs, dir_stats):
        assert os.stat(d).st_mtime_ns == st.st_mtime_ns  # blind spot
    after = A.ensure("demo", [src], "cfg", build)
    assert after != before, "stale artifact served after in-place edit"
    assert len(calls) == 2 and A.ready(after)
