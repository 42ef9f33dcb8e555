"""Derived-store security + completeness guarantees (r9 ADVICE).

Covers sources/store_root.py (per-user 0700 root, ownership verified
— a predictable world-shared path would let another local user plant
a pre-built store the fingerprinted path would trust) and the one
store protocol: ``store_path`` keying, and ``ensure_store``'s
interrupted-build healing (the reuse gate keys on a DONE marker
written strictly after every table, so a crash between the cells/
and codes/ writes can never persist a half-built store).
"""

from __future__ import annotations

import os
import re
import stat
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark.sources.store_root import (
    store_complete,
    store_root,
)


def test_store_root_is_per_user_and_private(monkeypatch):
    # An ambient override would make this assert uid/mode properties
    # of an arbitrary directory (and fail on hosts that set it) —
    # the test targets the DEFAULT per-user root.
    monkeypatch.delenv("SPARK_GRAFT_STORE_ROOT", raising=False)
    root = store_root()
    st = os.stat(root)
    assert st.st_uid == os.getuid()
    assert not (st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)), oct(st.st_mode)
    assert str(os.getuid()) in os.path.basename(root)


def test_store_root_env_override(tmp_path, monkeypatch):
    override = str(tmp_path / "custom_root")
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", override)
    assert store_root() == override
    assert os.path.isdir(override)


def test_store_root_refuses_other_writable(tmp_path, monkeypatch):
    """A pre-created group/other-writable root must be refused — that
    is exactly the planted-store scenario."""
    monkeypatch.delenv("SPARK_GRAFT_STORE_ROOT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    root = os.path.join(str(tmp_path), f"spark_graft_stores_{os.getuid()}")
    os.makedirs(root, mode=0o700)
    os.chmod(root, 0o777)
    with pytest.raises(RuntimeError, match="writable"):
        store_root()


def test_store_root_refuses_symlink(tmp_path, monkeypatch):
    """A pre-created SYMLINK at the predictable path must be refused —
    os.stat would follow it to a victim-owned 0700 target (passing the
    uid/mode checks) and redirect store writes into that directory."""
    monkeypatch.delenv("SPARK_GRAFT_STORE_ROOT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    victim = tmp_path / "victim_private"
    victim.mkdir(mode=0o700)
    root = os.path.join(str(tmp_path), f"spark_graft_stores_{os.getuid()}")
    os.symlink(str(victim), root)
    with pytest.raises(RuntimeError, match="not a real directory"):
        store_root()


def test_default_root_avoids_system_tmpdir(monkeypatch):
    """tmp cleaners recurse into /tmp subdirectories and evict by
    age/atime regardless of ownership, so the DEFAULT root must live
    under the user cache dir whenever a home exists — the tmpdir is a
    last-resort fallback only (no-home containers)."""
    import tempfile

    monkeypatch.delenv("SPARK_GRAFT_STORE_ROOT", raising=False)
    monkeypatch.delenv("XDG_CACHE_HOME", raising=False)
    root = store_root()
    tmp = os.path.realpath(tempfile.gettempdir())
    assert not os.path.realpath(root).startswith(tmp + os.sep)
    assert os.path.realpath(root).startswith(
        os.path.realpath(os.path.join(os.path.expanduser("~"), ".cache"))
    )


def test_default_root_honors_xdg_cache_home(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STORE_ROOT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    root = store_root()
    assert root == str(tmp_path / "xdg" / f"spark_graft_stores_{os.getuid()}")
    st = os.stat(root)
    assert not (st.st_mode & (stat.S_IWGRP | stat.S_IWOTH))


def test_legacy_tmpdir_root_is_evicted(tmp_path, monkeypatch):
    """The default root moved from <tmpdir>/spark_graft_stores_<uid>
    to the user cache dir (r12 ADVICE); a store directory lingering at
    the OLD path must be swept on resolve — otherwise it sits orphaned
    in /tmp until a tmp cleaner evicts it (r13 ADVICE)."""
    import tempfile

    fake_tmp = tmp_path / "faketmp"
    fake_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(fake_tmp))
    monkeypatch.delenv("SPARK_GRAFT_STORE_ROOT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    legacy = fake_tmp / f"spark_graft_stores_{os.getuid()}"
    legacy.mkdir(mode=0o700)
    (legacy / "stale_store").mkdir()
    root = store_root()
    assert root == str(
        tmp_path / "cache" / f"spark_graft_stores_{os.getuid()}"
    )
    assert not legacy.exists(), "stale tmpdir store root must be swept"


def test_legacy_eviction_skips_foreign_dir(tmp_path, monkeypatch):
    """Never rmtree a path another uid owns (or a non-dir): the sweep
    must be as conservative as the root checks themselves. Simulated
    with a symlink at the legacy path — lstat sees a non-dir."""
    import tempfile

    fake_tmp = tmp_path / "faketmp"
    fake_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(fake_tmp))
    monkeypatch.delenv("SPARK_GRAFT_STORE_ROOT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    target = tmp_path / "victim"
    target.mkdir()
    (target / "keep").write_text("x")
    legacy = fake_tmp / f"spark_graft_stores_{os.getuid()}"
    os.symlink(str(target), str(legacy))
    store_root()
    assert (target / "keep").exists(), "sweep must not follow symlinks"


def test_pq_store_gate_requires_done_marker(tmp_path):
    """A store left by an interrupted build — per-table _SUCCESS
    present but no store-level DONE marker — must FAIL the reuse gate
    (the r9 half-built-store hazard: codes/ written, cells/ missing)."""
    store = str(tmp_path / "store")
    os.makedirs(os.path.join(store, "codes"))
    open(os.path.join(store, "codes", "_SUCCESS"), "w").close()
    assert not store_complete(store)
    open(os.path.join(store, "_STORE_COMPLETE"), "w").close()
    assert store_complete(store)


def test_publish_build_loser_discards_and_winner_stands(tmp_path):
    """Two sessions building the same store: the second publish finds
    a COMPLETE final dir and must discard its own build, leaving the
    winner's files untouched."""
    from smart_contract_database_builder_spark.sources.store_root import (
        build_tmp,
        publish_build,
    )

    final = str(tmp_path / "store")
    t1 = build_tmp(final)
    open(os.path.join(t1, "data"), "w").write("winner")
    open(os.path.join(t1, "_STORE_COMPLETE"), "w").close()
    publish_build(t1, final)
    t2 = build_tmp(final)
    open(os.path.join(t2, "data"), "w").write("loser")
    open(os.path.join(t2, "_STORE_COMPLETE"), "w").close()
    publish_build(t2, final)
    assert open(os.path.join(final, "data")).read() == "winner"
    assert not os.path.exists(t2)


def test_publish_build_replaces_incomplete_final(tmp_path):
    """An INCOMPLETE dir at the final path (older layout / pre-tmp
    crash) must be replaced by a finished build, never shadow it."""
    from smart_contract_database_builder_spark.sources.store_root import (
        build_tmp,
        publish_build,
    )

    final = str(tmp_path / "store")
    os.makedirs(final)
    open(os.path.join(final, "partial"), "w").close()  # no marker
    t = build_tmp(final)
    open(os.path.join(t, "data"), "w").write("fresh")
    open(os.path.join(t, "_STORE_COMPLETE"), "w").close()
    publish_build(t, final)
    assert open(os.path.join(final, "data")).read() == "fresh"
    assert os.path.exists(os.path.join(final, "_STORE_COMPLETE"))
    assert not os.path.exists(os.path.join(final, "partial"))


def test_ensure_store_builds_once_and_marks_after_the_build(tmp_path):
    """``ensure_store`` runs the build in a sibling dir, writes the
    marker only after the build returned, publishes, and skips the
    build entirely once the store is complete."""
    from smart_contract_database_builder_spark.sources.store_root import (
        ensure_store,
    )

    final = str(tmp_path / "store")
    calls = []

    def build(tmp):
        assert tmp != final and not store_complete(tmp)
        calls.append(tmp)
        os.makedirs(os.path.join(tmp, "rows"))

    assert ensure_store(final, build) == final
    assert store_complete(final) and os.path.isdir(os.path.join(final, "rows"))
    assert not os.path.exists(calls[0]), "build dir was not published"
    assert ensure_store(final, build) == final
    assert len(calls) == 1, "complete store was rebuilt"


def test_ensure_store_failed_build_publishes_nothing(tmp_path):
    """A build that raises leaves no store at the final path and no
    build dir behind."""
    from smart_contract_database_builder_spark.sources.store_root import (
        ensure_store,
    )

    final = str(tmp_path / "store")

    def build(tmp):
        os.makedirs(os.path.join(tmp, "rows"))
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        ensure_store(final, build)
    assert os.listdir(tmp_path) == []


def test_store_path_keys_on_kind_sources_and_geometry(tmp_path, monkeypatch):
    """``<root>/<kind>/<sf tag>_<fingerprint>_<geom>``: a different
    kind, geometry or source set is a different store."""
    from smart_contract_database_builder_spark.sources.store_root import (
        source_fingerprint,
        store_path,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "a.parquet").write_bytes(b"a")
    (sf / "b.parquet").write_bytes(b"b")
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path / "root"))
    p = store_path("k", str(sf), ("a",), "v1")
    fp = source_fingerprint(str(sf / "a.parquet"))
    tag = re.sub(r"\W+", "_", str(sf).strip("/"))
    assert p == os.path.join(str(tmp_path / "root"), "k", f"{tag}_{fp}_v1")
    assert store_path("k", str(sf), ("a",), "v2") != p
    assert store_path("j", str(sf), ("a",), "v1") != p
    assert store_path("k", str(sf), ("a", "b"), "v1") != p
