"""Driver-local artifact cache: the one build-once/read-many protocol
behind every persisted registry artifact (IVF index, k-means centroids,
the plain and bucketed LSH indexes, quality models, the binary landing
fixture).

``ensure(kind, sources, cfg, build)`` owns each decision once:

- **Key** — ``sha1(cfg + (path, _dir_stat_key) of each source)``: the
  same content key the ``_t`` table memo uses, so an in-place edit of
  any part file anywhere under a source directory re-keys the artifact
  instead of serving a stale one.
- **Location** — ``_cache_root(kind)/<key>``.
- **Readiness** — a top-level ``_SUCCESS`` file written after ``build``
  returns, in a directory owned by this user.
- **Install** — build into a per-(process, thread) sibling, then an
  atomic rename; an unready directory at the key is cleared by the
  race-safe rename-aside repair, and a lost install race serves the
  winner's build.

A hit runs no Spark job: one ``_dir_stat_key`` walk per source plus the
marker and ownership stats. Everything here is local-filesystem by
contract — the cache is driver-local, never a data path.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat as _stat
import tempfile
import threading
import time
from collections.abc import Callable, Iterable

# Bound on `_install_build`'s wait for a concurrent repairer to put a
# good build back or clear its trash (a monotonic deadline, not an
# attempt count, so a slow filesystem gets the same wall-clock grace).
INSTALL_DEADLINE_S = 2.0


def _dir_stat_key(path: str, st) -> tuple | None:
    """Stat-derived cache key for a parquet dataset path, or None when
    the path vanished mid-scan (the caller falls through to a fresh
    read so Spark raises its normal PATH_NOT_FOUND).

    For a FILE dataset the file's own (ino, size, mtime_ns) suffices.
    For a DIRECTORY dataset (the normal parquet layout) the directory
    entry only changes on add/remove/rename of children — an in-place
    edit of a part-file's CONTENTS updates that file's mtime but not
    the directory's, nor that of a partition subdirectory holding it
    (``year=.../part-0.parquet``). So every DESCENDANT's
    (relative path, size, mtime_ns) is folded into the key via a
    scandir walk — ~10 µs per level for typical part counts, vs the
    ~100 ms footer resolution the table memo saves — and content
    rewrites of any file anywhere in the layout invalidate. The
    descendants land in the key as a blake2b digest, not the raw
    tuple, so a many-part directory does not make every key carry the
    whole listing (exact up to 128-bit collisions). A subdirectory
    vanishing mid-walk is skipped — its disappearance already changed
    the parent listing, so the digest moves anyway; only the TOP path
    vanishing returns None. Symlinked subdirectories are keyed as
    entries but not descended (no cycle risk). The remaining
    undetectable window is an in-place same-inode edit inside one
    mtime tick.
    """
    if not _stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    children: list[tuple] = []
    # explicit worklist, not recursion: a pathologically deep tree
    # would otherwise raise RecursionError, which is NOT the OSError
    # the fallback contract catches
    dirs: list[tuple[str, str]] = [(path, "")]
    top_level = True
    while dirs:
        d, pfx = dirs.pop()
        try:
            with os.scandir(d) as it:
                entries = list(it)
        except OSError:
            if top_level:  # TOP dir removed between stat and scandir
                return None
            continue  # subdir vanished mid-walk: its parent entry
            # already changed the digest
        top_level = False
        for entry in entries:
            try:
                cst = entry.stat()
            except OSError:
                continue
            rel = pfx + entry.name
            children.append((rel, cst.st_size, cst.st_mtime_ns))
            if entry.is_dir(follow_symlinks=False):
                dirs.append((entry.path, rel + "/"))
    children.sort()
    digest = hashlib.blake2b(
        repr(children).encode(), digest_size=16
    ).hexdigest()
    return (st.st_ino, st.st_size, st.st_mtime_ns, digest)


def _cache_root(kind: str) -> str:
    """Per-user artifact cache root: config-overridable, else XDG cache,
    else a uid-suffixed tempdir — never a world-shared fixed path (a
    shared /tmp name lets another user's leftover or adversarially
    pre-created directory be served as cached data, or breaks on
    permissions). ``kind`` namespaces artifact families (ivf indexes,
    quality models)."""
    override = os.environ.get("ETL_GCP_SPARK_CACHE_DIR")
    if override:
        return os.path.join(override, kind)
    xdg = os.environ.get("XDG_CACHE_HOME")
    home = os.path.expanduser("~")
    if xdg:
        return os.path.join(xdg, "etl_gcp_spark", kind)
    if home and home != "/" and os.path.isdir(home):
        return os.path.join(home, ".cache", "etl_gcp_spark", kind)
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(tempfile.gettempdir(), f"etl_gcp_spark_{kind}_{uid}")


def _key(sources: Iterable[str], cfg: str) -> str:
    """sha1 of ``cfg`` plus each source's absolute path and
    ``_dir_stat_key``. A source that cannot be stat'ed keys as None;
    its build then fails the way a read of it would."""
    parts = [cfg]
    for src in sources:
        p = os.path.abspath(src)
        try:
            skey = _dir_stat_key(p, os.stat(p))
        except OSError:
            skey = None
        parts.append(f"{p}|{skey}")
    return hashlib.sha1("\n".join(parts).encode()).hexdigest()[:16]


def path(kind: str, sources: Iterable[str], cfg: str) -> str:
    """Where ``ensure(kind, sources, cfg, ...)`` serves its artifact."""
    return os.path.join(_cache_root(kind), _key(sources, cfg))


def ready(p: str) -> bool:
    """The one readiness rule: the ``_SUCCESS`` marker `ensure` writes
    after a build returns is present AND the directory is owned by this
    user (a foreign-owned directory at our key is never trusted)."""
    if not os.path.exists(os.path.join(p, "_SUCCESS")):
        return False
    if hasattr(os, "getuid"):
        try:
            if os.stat(p).st_uid != os.getuid():
                return False
        except OSError:
            return False
    return True


def _own_sibling(p: str, tag: str) -> str:
    """``{p}.{tag}-{pid}-{thread ident}``: a sibling name private to the
    calling (process, thread). Pid alone is only race-free ACROSS
    processes — two threads in one driver share a pid, so one thread's
    leading rmtree of the shared name could delete the other's
    in-flight build or rescued trash. A stale leftover under a dead
    thread's name is cleared by that same (pid, tid) pair on reuse — a
    LIVE thread always holds a different pair."""
    return f"{p}.{tag}-{os.getpid()}-{threading.get_ident()}"


def _trash_name(p: str) -> str:
    return _own_sibling(p, "trash")


def _repair_unready(p: str, is_ready) -> bool:
    """Clear an unready cache dir WITHOUT racing a concurrent builder: a
    bare rmtree(p) between a failed readiness check and the delete
    could destroy a fresh build another process renamed into place
    during the gap. Rename the dir aside to this thread's trash name
    first — atomic, so a concurrently-installed build is either
    untouched (our rename sees nothing and raises) or moved aside
    INTACT, in which case readiness is re-checked on the trash dir and
    the build is renamed straight back. Returns True when a good build
    is now at `p` and the caller should serve it instead of
    rebuilding."""
    trash = _trash_name(p)
    # clear any stale leftover under OUR trash name first (a crashed
    # earlier repair) — renaming a directory onto a non-empty one fails
    # ENOTEMPTY, which would strand the unready dir at `p` and turn
    # every future install into a rename failure
    shutil.rmtree(trash, ignore_errors=True)
    try:
        os.rename(p, trash)
    except FileNotFoundError:
        # the EXPECTED race: nothing cached at all, or another repairer
        # moved it aside first; if a concurrent builder landed a good
        # build in the gap, serve it. Other OSError kinds (EACCES,
        # EXDEV, ...) mean the unready dir is STILL at `p` — a rebuild
        # would only hit the same wall at install, so fail fast.
        return is_ready(p)
    if is_ready(trash):
        # we grabbed a just-installed GOOD build — put it back
        try:
            os.rename(trash, p)
            return True
        except OSError:
            # yet another builder already filled p; ours is a
            # duplicate — fall through and discard it
            pass
    shutil.rmtree(trash, ignore_errors=True)
    return is_ready(p)


def _install_build(tmp: str, p: str, is_ready) -> None:
    """Install a finished build dir at ``p`` by atomic rename. A failed
    rename can race the transient state where a concurrent repairer
    holds the installed GOOD build renamed aside to its trash name; a
    one-shot ``if not ready: raise`` misreads that instant as permanent
    failure (a spurious ENOTEMPTY under the multithread stress test).
    So re-check readiness and re-attempt until INSTALL_DEADLINE_S
    passes: the repairer either renames the good build straight back
    (→ ready) or clears its trash (→ our next rename lands). Genuinely
    stuck conditions (EACCES, EXDEV, an unready dir nobody clears)
    still raise, after the deadline."""
    deadline = time.monotonic() + INSTALL_DEADLINE_S
    while True:
        try:
            os.rename(tmp, p)
            return
        except OSError:
            if is_ready(p):
                return  # a concurrent builder's good build is in place
            if time.monotonic() >= deadline:
                raise
            time.sleep(0.01)


def ensure(
    kind: str,
    sources: Iterable[str],
    cfg: str,
    build: Callable[[str, str], None],
) -> str:
    """Path of the ready ``kind`` artifact for (sources, cfg), built on
    a miss by ``build(tmp_dir, key)`` into an existing empty sibling
    directory. Concurrent callers — threads or processes — may each
    build; the first install wins and the others serve it."""
    key = _key(sources, cfg)
    p = os.path.join(_cache_root(kind), key)
    if ready(p) or _repair_unready(p, ready):
        return p
    tmp = _own_sibling(p, "build")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp, key)
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
        _install_build(tmp, p, ready)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return p
