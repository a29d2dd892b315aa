"""Deterministic cross-process roots for committed derived-artifact stores.

The stored-artifact pattern (winnowing fingerprints, the AllPairs shingle
base, the IVF/PQ index builds) commits a corpus-scale derivation ONCE
through ``tableformat`` and lets every consumer probe the committed
snapshot. Before r11 those roots lived in ``tempfile.mkdtemp()`` — each
fresh process (every bench rep, test run, driver invocation) rebuilt AND
leaked one committed snapshot plus its catalog-backed parquet in /tmp
(r10 ADVICE). A store root is now a PURE FUNCTION of its inputs: corpus
path + parameters pick a stable prefix, and the package source plus the
corpus freshness pick the suffix — so every process computes the SAME
path, the first builder commits, and later processes (or sessions)
reuse the snapshot straight from disk (``read_version`` re-registers
bucketed catalog entries on a fresh session — see the
catalog-durability note in tableformat.py).

Every builder opens its store through ``open_store``, the only caller of
``store_root``/``corpus_token``/``ensure_store`` in the package
(``tests/test_stores.py`` pins that). The code half of a root's
freshness is ``source_token``: one sha1 over the relative paths and
bytes of every ``*.py`` file in the package, computed once per process.
It is a superset of any per-function walk — a derivation function, a
helper, a loader or a module constant can only change by changing a
file — so a store never outlives the code that built it. Its cost is
coarseness: an edit ANYWHERE in the package (a comment included)
rebuilds each store once, on its next use.

Staleness and bounded storage: a regenerated corpus changes the
freshness token (mtime + size + part-file names, ``corpus_token``) → a
NEW root; the superseded sibling (same name+params prefix, different
suffix) is swept once it is older than SWEEP_GRACE_SECONDS — in-flight
readers drain first — so storage is bounded at one live snapshot per
(corpus, params) plus a short-lived grace tail. A ``force=True`` rebuild
commits a NEW VERSION into the SAME root and vacuums to the last two —
the previous version's files stay on disk until the next rebuild, so a
lazy DataFrame a consumer obtained before the rebuild still collects
correctly (r10 ADVICE: the old eager-drop design broke exactly that).

Concurrency model (r12, was the r11 ADVICE medium): concurrent READERS
of a committed store are always fine — that is the point of the design.
Concurrent BUILDERS of the same root are serialized by an O_EXCL
lockfile (``<root>.lock``): the loser waits for the winner's committed
``_txn.json`` and reuses it (or, for ``force=True``, takes the lock and
commits the next version). tableformat manifests stay read-modify-write
INSIDE the lock, so the documented single-writer constraint is now
enforced rather than assumed. The base dir is per-user and 0700 — a
foreign user on a shared host can neither pre-plant a root we would
trust nor read ours.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import stat as _stat
import tempfile
import time

from . import tableformat

#: Superseded/orphaned sibling roots younger than this are left in place
#: so in-flight cross-process readers drain before deletion (r11 ADVICE);
#: a later build reaps them once aged. In-root force-rebuilds already
#: protect readers via vacuum keep_last=2 — this extends the courtesy to
#: the cross-root sweep.
SWEEP_GRACE_SECONDS = 600.0

#: A build lock older than this is presumed crashed and is stolen.
LOCK_STALE_SECONDS = 1800.0

#: How long a loser waits for the winner's commit before giving up.
LOCK_WAIT_SECONDS = 600.0


def store_base_dir() -> str:
    """The per-user directory for every deterministic store root.
    Per-user (uid suffix) + mode 0700 so that on a multi-user host no
    other user can pre-plant a root with a forged ``_txn.json`` that
    ``ensure_store`` would trust, nor read committed corpus derivations
    (r11 ADVICE medium — the old shared /tmp/spark_graft_stores had no
    ownership story at all)."""
    uid = os.getuid() if hasattr(os, "getuid") else "u"
    return os.path.join(tempfile.gettempdir(), f"spark_graft_stores_{uid}")


def _ensure_base_dir() -> str:
    """Create the base dir 0700 and verify we own it: a symlink, a
    non-directory, or a foreign-uid dir at the well-known path is an
    attack or a misconfiguration — refuse loudly rather than trust it.
    A pre-existing dir with group/other bits (e.g. created by an older
    writer under a permissive umask) is tightened in place."""
    base = store_base_dir()
    os.makedirs(base, mode=0o700, exist_ok=True)
    st = os.lstat(base)
    if _stat.S_ISLNK(st.st_mode) or not _stat.S_ISDIR(st.st_mode):
        raise RuntimeError(f"store base dir {base} is not a real directory")
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise RuntimeError(
            f"store base dir {base} is owned by uid {st.st_uid}, "
            f"not {os.getuid()} — refusing to trust foreign store roots"
        )
    if st.st_mode & 0o077:
        os.chmod(base, 0o700)
    return base


def corpus_token(path: str) -> tuple:
    """The freshness token for a corpus file/directory: mtime + total
    byte size + the sorted entry-name list (for directories — a Spark
    parquet 'file' is a directory of part files whose names embed a
    fresh job UUID on every rewrite). mtime alone (the pre-r12 token)
    silently served a stale snapshot after a timestamp-preserving
    replace (rsync -t, cp -p, tar -x) or a rewrite within the
    filesystem's mtime granularity (r11 ADVICE)."""
    try:
        st = os.stat(path)
    except OSError:
        return (0,)
    if not _stat.S_ISDIR(st.st_mode):
        return (st.st_mtime, st.st_size)
    try:
        names = sorted(os.listdir(path))
    except OSError:
        names = []
    total = 0
    for nm in names:
        try:
            total += os.stat(os.path.join(path, nm)).st_size
        except OSError:
            pass
    return (st.st_mtime, total, tuple(names))


@functools.cache
def source_token() -> str:
    """The code half of every store's freshness: a sha1 over the sorted
    relative paths and bytes of every ``*.py`` file in this package,
    computed once per process. Any edit to a derivation function, a
    helper, a loader or a module constant changes it, so no store can
    outlive the code that built it; the cost is that an edit anywhere in
    the package rebuilds each store once, on its next use. Relative
    paths keep the token independent of where the package is
    installed."""
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rels = []
    for d, _dirs, files in os.walk(pkg):
        rels += [
            os.path.relpath(os.path.join(d, f), pkg)
            for f in files
            if f.endswith(".py")
        ]
    h = hashlib.sha1()
    for rel in sorted(rels):
        with open(os.path.join(pkg, rel), "rb") as f:
            body = f.read()
        h.update(f"{rel.replace(os.sep, '/')}\0{len(body)}\0".encode())
        h.update(body)
    return h.hexdigest()


def store_root(name: str, key_parts: tuple, mtime_token) -> str:
    """The deterministic root for store ``name``: the IDENTITY is
    (name, key_parts) — corpus abspath + params — and the FRESHNESS is
    the package ``source_token`` plus the corpus freshness token
    (``corpus_token``: mtime + size + part names). The path is
    ``<name>_<keyhash>_<dthash>_<mthash>`` and ``sweep_stale`` globs the
    ``<name>_<keyhash>_`` identity prefix, so BOTH a regenerated corpus
    AND a changed package source leave exactly one live root per
    identity — the superseded sibling is swept at the next build. (The
    source token must NOT live inside key_parts: that would change the
    identity prefix and strand the old root forever.)"""
    keyhash = hashlib.sha1(repr(key_parts).encode()).hexdigest()[:12]
    dthash = source_token()[:6]
    mthash = hashlib.sha1(repr(mtime_token).encode()).hexdigest()[:8]
    return os.path.join(
        store_base_dir(), f"{name}_{keyhash}_{dthash}_{mthash}"
    )


def open_store(
    spark, name: str, sf_dir: str, table: str, params: tuple, build_fn,
    force: bool = False,
) -> str:
    """The one way a builder reaches the store layer: the root of store
    ``name`` over ``{sf_dir}/{table}.parquet``, built by
    ``build_fn(root)`` if absent (or always, with ``force=True``).
    Identity is ``(abspath(sf_dir), *params)`` — ``params`` holds the
    builder's call arguments only, never code constants (the package
    ``source_token`` covers those); freshness is the corpus token plus
    the source token; ``ensure_store`` owns the lock, origin record,
    sweep and reap. Returns the root."""
    corpus = os.path.join(sf_dir, f"{table}.parquet")
    root = store_root(
        name, (os.path.abspath(sf_dir), *params), corpus_token(corpus)
    )
    return ensure_store(spark, root, build_fn, force=force, origin=corpus)


def ensure_store(
    spark, root: str, build_fn, force: bool = False, origin: str | None = None
) -> str:
    """Build-if-absent: if ``root`` holds a committed transaction, reuse
    it; otherwise call ``build_fn(root)`` (which must ``commit_atomic``
    into ``root``) and sweep stale siblings. ``force=True`` always
    rebuilds — as a new version in the same root (old version kept for
    in-flight lazy readers), vacuumed to the last 2 so repeated forced
    builds (every bench rep) cannot grow the root unboundedly.
    ``origin`` (the source corpus file) is recorded in the root so
    orphaned stores — snapshots of a corpus that no longer exists, e.g.
    every pytest tmp-dir corpus — are reaped by ANY later build (r11
    review finding: identity-prefix sweeping alone never matches a
    run-unique tmp path again, so those roots leaked forever)."""
    def _reuse() -> str:
        # backfill the origin record on reuse (a crash between
        # commit_atomic and the origin write, or a root committed by an
        # older writer, would otherwise stay invisible to reap_orphans
        # forever — r11 second-review finding)
        if origin is not None and not os.path.exists(
            os.path.join(root, "_origin.json")
        ):
            _write_origin(root, origin)
        return root

    # Ownership check on EVERY path, not just builds: the reuse fast path
    # trusts a committed _txn.json, so it must trust the directory it sits
    # in first — a foreign-owned base dir squatting at the well-known path
    # would otherwise serve pre-planted data to pure readers (r12 review).
    _ensure_base_dir()
    if not force and os.path.exists(tableformat._txn_path(root)):
        return _reuse()
    # Builds are serialized by an O_EXCL lockfile (r11 ADVICE medium:
    # two processes racing past the _txn.json existence check both built
    # into the same root and could corrupt its manifests). A losing
    # non-force builder waits for the winner's commit and reuses it; a
    # losing force builder takes the lock next and commits a new version.
    with _build_lock(root, force=force) as already_committed:
        if already_committed and not force:
            return _reuse()
        build_fn(root)
        if origin is not None:
            _write_origin(root, origin)
        if force:
            _vacuum_members(spark, root, keep_last=2)
        sweep_stale(spark, root)
        reap_orphans(spark)
    return root


class _build_lock:
    """O_EXCL lockfile around a store build. ``__enter__`` returns True
    if the root already holds a committed transaction by the time the
    lock is held (the caller can reuse instead of rebuilding). A lock
    older than LOCK_STALE_SECONDS is presumed crashed and stolen; a
    loser that waits LOCK_WAIT_SECONDS without seeing a commit raises
    rather than silently double-building."""

    def __init__(self, root: str, force: bool = False):
        self.root = root
        self.force = force
        self.path = root + ".lock"
        self._held = False

    def __enter__(self) -> bool:
        deadline = time.monotonic() + LOCK_WAIT_SECONDS
        age = 0.0
        while True:
            try:
                fd = os.open(
                    self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600
                )
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                self._held = True
                return os.path.exists(tableformat._txn_path(self.root))
            except FileExistsError:
                pass
            # someone else is building: a non-force caller is satisfied
            # by their commit the moment it lands
            if not self.force and os.path.exists(
                tableformat._txn_path(self.root)
            ):
                return True
            try:
                age = time.time() - os.stat(self.path).st_mtime
            except OSError:
                age = 0.0  # lock vanished between open and stat — recompete
            else:
                if age > LOCK_STALE_SECONDS:
                    self._steal_stale()
            # EVERY non-acquiring path falls through to the deadline check
            # and the sleep (r12 ADVICE: the vanished-lock and stolen-lock
            # branches used to `continue` past both, so a lock that kept
            # vanishing/reappearing busy-spun forever)
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"store build lock {self.path} held for "
                    f"{age:.0f}s without a commit"
                )
            time.sleep(0.1)

    def _steal_stale(self) -> None:
        """Remove a lock judged stale — under a kernel flock so only one
        stealer acts at a time, and with staleness RE-JUDGED inside the
        critical section (r12 ADVICE: two waiters could both judge the
        lock stale outside any mutual exclusion, and the slower one's
        unlink could then delete the faster one's freshly created lock —
        re-opening the double-build race). The guard file is per-base-dir,
        created once and never unlinked (no inode to race on), and flock
        is released by the kernel on crash, so the steal path needs no
        staleness protocol of its own."""
        guard = os.path.join(os.path.dirname(self.path), "_steal.flock")
        try:
            import fcntl

            gfd = os.open(guard, os.O_CREAT | os.O_RDWR, 0o600)
        except (ImportError, OSError):
            # no flock on this platform/dir: fall back to the best-effort
            # direct unlink (the pre-r13 behavior, racy only across
            # concurrent stealers of an already-crashed builder)
            try:
                os.unlink(self.path)
            except OSError:
                pass
            return
        try:
            fcntl.flock(gfd, fcntl.LOCK_EX)
            try:
                if time.time() - os.stat(self.path).st_mtime > LOCK_STALE_SECONDS:
                    os.unlink(self.path)
            except OSError:
                pass
        finally:
            os.close(gfd)  # closing the fd releases the flock

    def __exit__(self, *exc) -> None:
        if self._held:
            try:
                os.unlink(self.path)
            except OSError:
                pass


def _write_origin(root: str, origin: str) -> None:
    """Atomic (tmp + rename) origin record — a torn write must never
    make reap_orphans misread a live store's corpus path."""
    import json

    path = os.path.join(root, "_origin.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"corpus": os.path.abspath(origin)}, f)
    os.rename(tmp, path)


def reap_orphans(spark) -> None:
    """Drop every store root whose recorded origin corpus no longer
    exists on disk (deleted tmp-dir corpora). Best-effort; roots without
    an origin record are left alone."""
    import json

    base = store_base_dir()
    try:
        roots = os.listdir(base)
    except OSError:
        return
    for d in roots:
        path = os.path.join(base, d)
        origin_file = os.path.join(path, "_origin.json")
        try:
            with open(origin_file) as f:
                corpus = json.load(f).get("corpus")
        except (OSError, ValueError):
            continue
        if not corpus:
            continue
        # only a DEFINITE absence is an orphan: os.path.exists returns
        # False on EACCES/unmounted paths too, and reaping on those
        # would rmtree a live store out from under concurrent readers
        # (r11 second-review finding)
        try:
            os.stat(corpus)
        except (FileNotFoundError, NotADirectoryError):
            if _aged_out(path):  # grace: let in-flight readers drain
                drop_store(spark, path)
        except OSError:
            continue


def _aged_out(path: str) -> bool:
    """True once ``path`` is older than the sweep grace window (r11
    ADVICE: cross-root sweeps used to rmtree a superseded/orphaned root
    the instant a later build noticed it, breaking lazy DataFrames a
    CONCURRENT process was still holding against it; the grace window
    lets those readers drain — a later build reaps the root once aged).
    Age = the root dir's own mtime: committing into or probing a root
    does not touch the top directory after the build, so a just-
    superseded root reads as old as its build."""
    try:
        return time.time() - os.stat(path).st_mtime > SWEEP_GRACE_SECONDS
    except OSError:
        return False


def _vacuum_members(spark, root: str, keep_last: int) -> None:
    """Vacuum every member table of a commit_atomic group root. Best
    effort — a vacuum hiccup must never fail the build that succeeded."""
    try:
        members = [
            d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
        ]
    except OSError:
        return
    for m in members:
        sub = os.path.join(root, m)
        if not os.path.exists(os.path.join(sub, "_manifest.json")):
            continue
        try:
            tableformat.vacuum(sub, keep_last=keep_last, spark=spark)
        except Exception:
            pass


def sweep_stale(spark, keep_root: str) -> None:
    """Remove sibling roots with the same ``<name>_<keyhash>_`` identity
    prefix but a different source-token or freshness suffix — by
    construction snapshots of a corpus/source state that no longer
    exists in that form. Age-gated (``_aged_out``) so a concurrent
    process still lazily reading the superseded root drains before
    deletion; the sibling is reaped by a later build instead.
    Best-effort."""
    base = os.path.dirname(keep_root)
    prefix = os.path.basename(keep_root).rsplit("_", 2)[0] + "_"
    try:
        siblings = os.listdir(base)
    except OSError:
        return
    for d in siblings:
        path = os.path.join(base, d)
        if (
            d.startswith(prefix)
            and path != keep_root
            and not d.endswith(".lock")
            and _aged_out(path)
        ):
            drop_store(spark, path)


def drop_store(spark, root: str) -> None:
    """Remove a superseded store root: catalog entries of every member
    table first (from the member manifests), then the directory tree.
    Best-effort by contract — a vanished directory, a dead session, or a
    foreign-session catalog error must never fail the build that
    replaced the store (r10 ADVICE: the old narrow ``except (OSError,
    ValueError, KeyError)`` let AnalysisException escape ``spark.sql``)."""
    try:
        members = [
            d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
        ]
    except OSError:
        members = []
    for m in members:
        try:
            manifest = tableformat.read_manifest(os.path.join(root, m))
            for e in manifest.get("versions", []):
                if "table" in e:
                    spark.sql(f"DROP TABLE IF EXISTS {e['table']}")
        except Exception:
            pass
    shutil.rmtree(root, ignore_errors=True)
    # a crashed builder's lock on a root that is now gone would otherwise
    # leak in the base dir forever: locks are excluded from sweep_stale's
    # sibling match and only ever stolen if that exact root is rebuilt
    # (r12 ADVICE)
    try:
        os.unlink(root + ".lock")
    except OSError:
        pass


_SCRATCH_DIRS: list = []


def scratch_dir(prefix: str) -> str:
    """mkdtemp with process-exit cleanup — for DEMO/scenario queries that
    build scratch versioned tables as part of their semantics (zorder
    demo, merge-upsert, time travel, RTBF, ...). Unlike store_root these
    are not reusable artifacts: each run's history IS the query, so the
    dir is fresh per call — but it no longer outlives the process (the
    r10 ADVICE leak class: every bench rep/test run left its scenario
    tables in /tmp forever)."""
    import atexit
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(_cleanup_scratch)
    _SCRATCH_DIRS.append(d)
    return d


def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
