"""The derived-artifact store layer (``operators/stores.py``): one owner
of store identity, the package source token, the per-user 0700 base
dir, the O_EXCL build lock (in-process and across real processes), the
age-gated sibling sweep, orphan reaping, and the beyond-mtime corpus
freshness token."""

from __future__ import annotations

import ast
import json
import multiprocessing as mp
import os
import shutil
import subprocess
import sys
import time

import pytest

from data_ingestion_spark.operators import dedup, stores, tableformat

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "data_ingestion_spark")

#: The store-layer calls only ``stores.open_store`` may make.
_OWNED = ("store_root", "corpus_token", "ensure_store", "derivation_token")


def _docs(spark, sf, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))


def _owner_violations() -> list:
    found = []
    for d, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(d, name)
            rel = os.path.relpath(path, PKG)
            if not name.endswith(".py") or rel == os.path.join("operators", "stores.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if called in _OWNED:
                    found.append(f"{rel}:{node.lineno} {called}(")
    return found


def test_open_store_is_the_only_way_in():
    """Every builder reaches the store layer through ``open_store``: no
    package module outside stores.py computes a root, a corpus token or
    calls ``ensure_store`` itself."""
    assert _owner_violations() == []


def _copy_token(tmp_path, name: str, edit=None) -> str:
    """``source_token()`` as a fresh process computes it when it imports
    a copy of the package at ``tmp_path/name``, optionally edited first
    (``edit(pkg_copy)``)."""
    copy = tmp_path / name / "data_ingestion_spark"
    shutil.copytree(PKG, copy, ignore=shutil.ignore_patterns("__pycache__"))
    if edit is not None:
        edit(copy)
    code = (
        "from data_ingestion_spark.operators import stores\n"
        f"assert stores.__file__.startswith({str(copy)!r})\n"
        "print(stores.source_token())"
    )
    return subprocess.run(
        [sys.executable, "-c", code],
        env=dict(os.environ, PYTHONPATH=str(copy.parent)),
        cwd=str(tmp_path), capture_output=True, text=True, check=True,
    ).stdout.strip()


def test_source_token_tracks_package_source(tmp_path):
    """The token hashes every ``*.py`` file's relative path and bytes:
    another process importing an unchanged copy of the package from
    elsewhere on disk computes the live token, and editing a module
    constant changes it."""

    def bump_twin_eps(copy):
        reg = copy / "operators" / "registry.py"
        src = reg.read_text()
        assert "\n_TWIN_EPS = 0.05\n" in src
        reg.write_text(src.replace("\n_TWIN_EPS = 0.05\n", "\n_TWIN_EPS = 0.06\n"))

    live = stores.source_token()
    assert _copy_token(tmp_path, "same") == live
    assert _copy_token(tmp_path, "edited", bump_twin_eps) != live


def test_base_dir_is_per_user_and_0700(tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    base = stores.store_base_dir()
    assert base.endswith(f"spark_graft_stores_{os.getuid()}")
    # a pre-existing dir with loose perms is tightened in place
    os.makedirs(base)
    os.chmod(base, 0o755)
    assert stores._ensure_base_dir() == base
    assert os.stat(base).st_mode & 0o777 == 0o700
    assert os.stat(base).st_uid == os.getuid()


def test_base_dir_refuses_foreign_owner(tmp_path, monkeypatch):
    """A foreign-uid dir squatting at the well-known path must be
    refused, not trusted (pre-planted-root attack). Runs only when the
    test has the privilege to create a foreign-owned dir (uid 0)."""
    import tempfile

    if os.getuid() != 0:
        pytest.skip("needs chown privilege to simulate a foreign owner")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    base = stores.store_base_dir()
    os.makedirs(base, mode=0o700)
    os.chown(base, 12345, 12345)
    with pytest.raises(RuntimeError, match="foreign"):
        stores._ensure_base_dir()


def test_corpus_token_detects_timestamp_preserving_rewrite(spark, tmp_path):
    """mtime alone missed rsync -t / cp -p style replaces (r11 ADVICE);
    the token also folds in total size and the part-file name list, so a
    rewrite pinned to the identical directory mtime still changes it."""
    sf = str(tmp_path)
    _docs(spark, sf, [(1, "alpha beta gamma delta", "en", 22)])
    path = os.path.join(sf, "documents.parquet")
    t0 = os.stat(path).st_mtime
    tok1 = stores.corpus_token(path)
    _docs(spark, sf, [(2, "one two three four five six", "en", 27)])
    os.utime(path, (t0, t0))  # timestamp-preserving replace
    tok2 = stores.corpus_token(path)
    assert tok1 != tok2
    assert tok2 == stores.corpus_token(path)  # and it is stable


def test_build_lock_reuses_winner_commit_and_steals_stale(spark, tmp_path):
    sf = str(tmp_path)
    _docs(spark, sf, [(1, "alpha beta gamma delta epsilon", "en", 30)])
    root = dedup.shingle_base_store(spark, sf)
    # the successful build released its lock
    assert not os.path.exists(root + ".lock")
    # a FRESH foreign lock + an already-committed txn: a non-force
    # builder is satisfied by the existing commit without waiting
    with open(root + ".lock", "w") as f:
        f.write("99999")
    t0 = time.monotonic()
    with stores._build_lock(root, force=False) as committed:
        assert committed is True
    assert time.monotonic() - t0 < 5
    # a STALE lock (crashed builder) is stolen: a forced rebuild goes
    # through rather than deadlocking
    old = time.time() - stores.LOCK_STALE_SECONDS - 60
    os.utime(root + ".lock", (old, old))
    assert dedup.shingle_base_store(spark, sf, force=True) == root
    assert not os.path.exists(root + ".lock")


def test_build_lock_loser_waits_for_winner_commit(tmp_path, monkeypatch):
    """Two concurrent builders of the same root: the loser must block on
    the winner's lock and be satisfied the moment the winner's
    ``_txn.json`` lands — never double-build, never give up early."""
    import threading

    root = str(tmp_path / "r1")
    os.makedirs(root)
    fd = os.open(root + ".lock", os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)

    def winner():
        time.sleep(0.4)
        with open(os.path.join(root, "_txn.json"), "w") as f:
            json.dump({"txn": 0, "tables": {}}, f)
        os.unlink(root + ".lock")

    t = threading.Thread(target=winner)
    t.start()
    t0 = time.monotonic()
    with stores._build_lock(root, force=False) as committed:
        assert committed is True
    waited = time.monotonic() - t0
    t.join()
    assert 0.3 < waited < 10, waited  # blocked on the winner, then served


def test_build_lock_times_out_loudly(tmp_path, monkeypatch):
    """A fresh foreign lock with NO commit: the loser must raise after
    LOCK_WAIT_SECONDS rather than silently double-building into the
    winner's root (the manifest-corruption race the lock exists for)."""
    monkeypatch.setattr(stores, "LOCK_WAIT_SECONDS", 0.5)
    root = str(tmp_path / "r2")
    os.makedirs(root)
    fd = os.open(root + ".lock", os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    with pytest.raises(TimeoutError, match="without a commit"):
        stores._build_lock(root, force=False).__enter__()
    # the foreign lock is left in place (it is not ours to remove)
    assert os.path.exists(root + ".lock")


def test_young_superseded_sibling_survives_sweep(spark, tmp_path):
    """The cross-root sweep is age-gated: a just-superseded sibling (a
    concurrent process may still hold lazy DataFrames against it) is
    left in place; once past SWEEP_GRACE_SECONDS a later build reaps
    it (r11 ADVICE)."""
    sf = str(tmp_path)
    _docs(spark, sf, [(1, "alpha beta gamma delta epsilon", "en", 30)])
    root = dedup.shingle_base_store(spark, sf)
    name, keyhash, _dt, _mt = os.path.basename(root).split("_")
    young = os.path.join(
        os.path.dirname(root), f"{name}_{keyhash}_young0_cafe0000"
    )
    os.makedirs(young, exist_ok=True)
    dedup.shingle_base_store(spark, sf, force=True)
    assert os.path.exists(young), "young sibling must survive the grace window"
    old = time.time() - stores.SWEEP_GRACE_SECONDS - 60
    os.utime(young, (old, old))
    dedup.shingle_base_store(spark, sf, force=True)
    assert not os.path.exists(young), "aged sibling must be reaped"


def test_steal_stale_spares_a_fresh_lock(tmp_path):
    """The two-stealer race regression (r12 ADVICE): staleness is
    re-judged INSIDE the flock critical section, so a stealer that lost
    the race — the winner already stole and re-created the lock — must
    leave the fresh lock alone."""
    root = str(tmp_path / "r")
    lock = root + ".lock"
    lk = stores._build_lock(root, force=True)
    # stale lock: stolen
    with open(lock, "w") as f:
        f.write("999999")
    old = time.time() - stores.LOCK_STALE_SECONDS - 60
    os.utime(lock, (old, old))
    lk._steal_stale()
    assert not os.path.exists(lock)
    # fresh lock (what the slower stealer sees after the faster one
    # re-created it): spared
    with open(lock, "w") as f:
        f.write("1")
    lk._steal_stale()
    assert os.path.exists(lock)


def test_vanishing_lock_wait_is_bounded(tmp_path, monkeypatch):
    """The busy-spin regression (r12 ADVICE): a lock that perpetually
    vanishes between the open and the stat used to `continue` past both
    the deadline check and the sleep — the loop now raises TimeoutError
    within the (shrunken) wait window instead of spinning forever."""
    root = str(tmp_path / "r")
    lock = root + ".lock"
    monkeypatch.setattr(stores, "LOCK_WAIT_SECONDS", 0.6)
    real_open, real_stat = os.open, os.stat

    def fake_open(path, flags, *a, **k):
        if path == lock and (flags & os.O_EXCL):
            raise FileExistsError(path)
        return real_open(path, flags, *a, **k)

    def fake_stat(path, *a, **k):
        if path == lock:
            raise FileNotFoundError(path)
        return real_stat(path, *a, **k)

    monkeypatch.setattr(os, "open", fake_open)
    monkeypatch.setattr(os, "stat", fake_stat)
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        stores._build_lock(root, force=True).__enter__()
    assert time.monotonic() - t0 < 5


def test_drop_store_removes_sibling_lock(spark, tmp_path):
    """A crashed builder's lock on a root that is later dropped must go
    with the root (r12 ADVICE: locks are excluded from sweep_stale's
    sibling match, so a superseded root's lock leaked forever)."""
    root = str(tmp_path / "doomed_ab_cd_ef")
    os.makedirs(root)
    with open(root + ".lock", "w") as f:
        f.write("42")
    stores.drop_store(spark, root)
    assert not os.path.exists(root)
    assert not os.path.exists(root + ".lock")


def test_store_orphan_reaping_and_derivation_token(spark, tmp_path):
    """r11 review findings: (1) a store whose source corpus was deleted
    (every pytest tmp corpus) is reaped by the next build — the shared
    store dir does not grow without bound across runs; (2) the store
    root's freshness includes the package source token, so a code
    change invalidates committed snapshots automatically."""
    sf_a = str(tmp_path / "a")
    os.makedirs(sf_a)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", 22)],
        "doc_id long, text string, lang string, n_chars long",
    ).write.parquet(os.path.join(sf_a, "documents.parquet"))
    root_a = dedup.shingle_base_store(spark, sf_a)
    assert os.path.exists(os.path.join(root_a, "_origin.json"))
    # delete the corpus, then build a DIFFERENT corpus's store: the
    # orphaned root must be reaped by that unrelated build — once aged
    # past the r12 sweep grace window (backdated here; a young orphan is
    # deliberately left so in-flight readers drain first)
    shutil.rmtree(sf_a)
    _old = time.time() - stores.SWEEP_GRACE_SECONDS - 60
    os.utime(root_a, (_old, _old))
    sf_b = str(tmp_path / "b")
    os.makedirs(sf_b)
    spark.createDataFrame(
        [(1, "one two three four five", "en", 23)],
        "doc_id long, text string, lang string, n_chars long",
    ).write.parquet(os.path.join(sf_b, "documents.parquet"))
    dedup.shingle_base_store(spark, sf_b)
    assert not os.path.exists(root_a), "orphaned store must be reaped"
    # the root's <dthash> segment is the package source token
    assert os.path.basename(root_a).split("_")[2] == stores.source_token()[:6]
    # and a CHANGED derivation sweeps the old root rather than stranding
    # it: the token is a path segment INSIDE the swept identity prefix
    # (second review pass), so an old-token sibling of the same
    # (corpus, params) identity is removed at the next build
    root_b = dedup.shingle_base_store(spark, sf_b)
    name, keyhash, _dt, _mt = os.path.basename(root_b).split("_")
    stale_sibling = os.path.join(
        os.path.dirname(root_b), f"{name}_{keyhash}_oldtok_deadbeef"
    )
    os.makedirs(stale_sibling, exist_ok=True)
    os.utime(stale_sibling, (_old, _old))  # past the sweep grace window
    dedup.shingle_base_store(spark, sf_b, force=True)
    assert not os.path.exists(stale_sibling), (
        "old-derivation sibling must be swept"
    )
    assert os.path.exists(root_b)


def _worker(root: str, ledger: str, delay: float, force: bool) -> None:
    def build(r):
        os.makedirs(r, exist_ok=True)
        time.sleep(delay)  # widen the race window
        # record WHO built (O_APPEND is atomic for small writes)
        fd = os.open(ledger, os.O_CREAT | os.O_WRONLY | os.O_APPEND, 0o600)
        os.write(fd, f"{os.getpid()}\n".encode())
        os.close(fd)
        with open(tableformat._txn_path(r), "w") as f:
            json.dump({"by": os.getpid()}, f)

    got = stores.ensure_store(None, root, build, force=force)
    assert got == root


def _run_racers(root, ledger, n, delay=0.4, force=False, stale_lock=False):
    if stale_lock:
        with open(root + ".lock", "w") as f:
            f.write("999999")
        old = time.time() - stores.LOCK_STALE_SECONDS - 120
        os.utime(root + ".lock", (old, old))
    ctx = mp.get_context("fork")
    procs = [
        ctx.Process(target=_worker, args=(root, ledger, delay, force))
        for _ in range(n)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0, p.exitcode


def test_concurrent_builders_build_exactly_once(tmp_path):
    """N processes race ensure_store on the same absent root: exactly ONE
    build runs (the O_EXCL winner), every loser waits for the winner's
    commit and reuses it, and the lock is gone afterwards."""
    root = str(tmp_path / "race_ab_cd_ef")
    ledger = str(tmp_path / "ledger")
    _run_racers(root, ledger, n=4)
    with open(ledger) as f:
        builders = f.read().split()
    assert len(builders) == 1, builders
    assert os.path.exists(os.path.join(root, "_txn.json"))
    assert not os.path.exists(root + ".lock")


def test_concurrent_stale_steal_builds_exactly_once(tmp_path):
    """The advisory's exact scenario, cross-process: a crashed builder's
    STALE lock sits on the root and two processes race to steal it. The
    flock-guarded steal admits exactly one builder; the other reuses the
    commit — never a double build, never a deleted fresh lock."""
    root = str(tmp_path / "steal_ab_cd_ef")
    ledger = str(tmp_path / "ledger2")
    _run_racers(root, ledger, n=2, delay=0.2, stale_lock=True)
    with open(ledger) as f:
        builders = f.read().split()
    assert len(builders) == 1, builders
    assert os.path.exists(os.path.join(root, "_txn.json"))
    assert not os.path.exists(root + ".lock")


def test_concurrent_force_builders_serialize(tmp_path):
    """force=True racers must ALL build (each commits a new version by
    contract) but strictly one at a time — the ledger shows every pid,
    and the committed txn is whole (valid JSON) because no two builders
    ever overlapped inside the root."""
    root = str(tmp_path / "force_ab_cd_ef")
    ledger = str(tmp_path / "ledger3")
    _run_racers(root, ledger, n=3, delay=0.15, force=True)
    with open(ledger) as f:
        builders = f.read().split()
    assert len(builders) == 3, builders
    with open(tableformat._txn_path(root)) as f:
        assert "by" in json.load(f)
    assert not os.path.exists(root + ".lock")
