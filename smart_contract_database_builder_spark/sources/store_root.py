"""Per-user store root and the one protocol every derived store uses.

The engine persists derived layouts across sessions: the bucketed fact
tables, the IVF-PQ codes (``pq_store.py``), the MinHash bands+sigs
(``minhash_store.py``), the verified-Jaccard pairs
(``jaccard_store.py``), the SimHash prints (``simhash_store.py``), the
hyperplane buckets (``annbucket_store.py``) and the near-dup cluster
maps (``cluster_store.py``). Each of them goes through three functions
and nothing else:

- ``store_path(kind, sf_dir, sources, geom)`` — the one location:
  ``<root>/<kind>/<sf tag>_<source fingerprint>_<geom>``. The
  fingerprint (size+mtime of every source table) and ``geom`` (the
  writer's geometry and codec version) are in the path, so a
  regenerated corpus or a changed encoder resolves to a new path whose
  gate is closed instead of serving stale rows.
- ``ensure_store(path, build)`` — the one gate: a complete store
  returns at once; otherwise ``build(tmp)`` writes every table into a
  sibling build dir, the ``_STORE_COMPLETE`` marker lands strictly
  after them, and ``publish_build`` moves the dir into place with one
  atomic rename. A crash mid-build never leaves a store that passes
  the gate, and concurrent builders never interleave part-files.
- ``bucketing.register_bucketed`` — the one catalog attach for the
  bucketed stores, named after the store location, so a session never
  reads a table that points at another root's files.

The per-store modules keep only what differs: the encode and the
bucket keys.

A world-shared location under ``tempfile.gettempdir()`` would let any
other local user PRE-CREATE a store path with planted parquet and
markers: the fingerprint is embedded in the path, never re-verified
against content, so the query would trust planted rows as answers.
Rooting every store in a per-user 0700 directory (ownership and
permissions VERIFIED, not assumed, on every resolve) closes that hole
without changing any store's keying.

``SPARK_GRAFT_STORE_ROOT`` overrides the location (e.g. to point at
cluster-local scratch or a shared team cache on hosts where that is
the right trade); the ownership/permission check still runs unless
the override is used, since an explicit root is an explicit trust
decision.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import stat
import tempfile
from typing import Callable

#: Store-level completeness marker, written strictly after every table
#: of a build (per-table ``_SUCCESS`` files never pass the gate).
_MARKER = "_STORE_COMPLETE"


def _default_base() -> str:
    """Base directory for the default store root: the user cache dir
    (``$XDG_CACHE_HOME`` or ``~/.cache``), NOT the system tmpdir.

    Rooting under the tmpdir — even in an owned 0700 subdirectory —
    leaves stores and shuffle scratch exposed to systemd-tmpfiles /
    tmpwatch-style cleaners, which recurse into /tmp subdirectories
    and evict by age/atime regardless of ownership (the round-11
    driver bench died exactly this way). The cache dir is outside
    every standard tmp-cleaner's sweep. Falls back to the tmpdir only
    when no writable home/cache location exists (containerized
    no-home environments).
    """
    cache = os.environ.get("XDG_CACHE_HOME")
    if not cache:
        home = os.path.expanduser("~")
        if home and home != "~" and os.path.isdir(home):
            cache = os.path.join(home, ".cache")
    if cache:
        try:
            os.makedirs(cache, exist_ok=True)
        except OSError:
            cache = None
        else:
            if not os.access(cache, os.W_OK):
                cache = None
    return cache or tempfile.gettempdir()


def _evict_legacy_tmpdir_root(new_root: str) -> None:
    """Remove the pre-relocation store root at
    ``<tmpdir>/spark_graft_stores_<uid>`` if one lingers.

    The default root moved from the system tmpdir to the user cache
    dir (see ``_default_base``); without this sweep an old tmpdir copy
    is silently orphaned — rebuilt from scratch at the new location
    while the stale bytes sit in /tmp until a tmp cleaner evicts them.
    Stores are rebuildable caches keyed by content fingerprint, so the
    safe migration is deletion, not adoption: trusting parquet found
    in the world-writable tmpdir is exactly the attack the relocation
    closed. Only sweeps a real directory owned by the current uid;
    any failure is non-fatal (a tmp cleaner will finish the job).
    """
    legacy = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stores_{os.getuid()}"
    )
    if os.path.realpath(legacy) == os.path.realpath(new_root):
        return  # tmpdir fallback in effect — the "legacy" path IS the root
    try:
        st = os.lstat(legacy)
    except OSError:
        return
    if stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid():
        shutil.rmtree(legacy, ignore_errors=True)


def store_root() -> str:
    """Resolve (creating if needed) the per-user derived-store root.

    Default: ``<cache-dir>/spark_graft_stores_<uid>`` created with
    mode 0700 (tmpdir fallback only when no home — see
    ``_default_base``). Refuses to use a directory owned by another
    uid or writable by group/other — a pre-created path fails loudly
    instead of silently serving planted store files.
    """
    override = os.environ.get("SPARK_GRAFT_STORE_ROOT")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    root = os.path.join(_default_base(), f"spark_graft_stores_{os.getuid()}")
    _evict_legacy_tmpdir_root(root)
    os.makedirs(root, mode=0o700, exist_ok=True)
    # lstat, NOT stat: stat follows symlinks, so an attacker in the
    # shared tmpdir could pre-create a SYMLINK at the predictable path
    # pointing at a victim-owned 0700 directory (e.g. ~/.ssh) — the
    # uid/mode checks would pass on the TARGET and store writes would
    # be redirected into it. Reject any non-directory (symlink, file,
    # fifo) at the path outright.
    st = os.lstat(root)
    if not stat.S_ISDIR(st.st_mode):
        raise RuntimeError(
            f"derived-store root {root} is not a real directory "
            f"(mode {oct(st.st_mode)}) — a pre-created symlink or "
            "special file at this predictable path would redirect "
            "store writes; refusing"
        )
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"derived-store root {root} is owned by uid {st.st_uid}, "
            f"not the current user ({os.getuid()}) — refusing to trust "
            "a directory another user controls"
        )
    if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
        raise RuntimeError(
            f"derived-store root {root} is group/other-writable "
            f"(mode {oct(st.st_mode & 0o777)}) — refusing: another "
            "user could plant store files"
        )
    return root


def scratch_dir() -> str:
    """Durable per-user scratch directory for Spark's ``spark.local.dir``
    (shuffle spill, block-manager temp files, broadcast scratch).

    The default ``/tmp`` is subject to tmpwatch/systemd-tmpfiles-style
    eviction, which deletes ``temp_shuffle_*`` files out from under a
    long-running job (the round-11 driver bench died exactly this way:
    ``blockmgr-*/temp_shuffle_* (No such file or directory)`` mid-stage).
    The scratch lives under the verified per-user store root, which
    itself defaults to the user CACHE dir (``~/.cache``), outside the
    tmp cleaners' recursive sweep — ownership of a /tmp subdirectory
    does not exempt it from age/atime-based eviction.
    ``SPARK_GRAFT_SCRATCH`` overrides (e.g. to point at instance-local
    NVMe on a real cluster node).
    """
    override = os.environ.get("SPARK_GRAFT_SCRATCH")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    scratch = os.path.join(store_root(), "spark_local")
    os.makedirs(scratch, mode=0o700, exist_ok=True)
    return scratch


def build_tmp(final: str) -> str:
    """Unique sibling build directory for ``final``: stores are built
    HERE and published by one atomic rename, so a concurrent session
    building the same store can never interleave its part-files with
    ours at the shared final path, and a crashed build never leaves
    anything at the final path at all (its ``.build-*`` droppings are
    invisible to the reuse gate and reaped by the next builder)."""
    parent = os.path.dirname(final)
    os.makedirs(parent, exist_ok=True)
    # reap stale siblings from crashed builds of THIS store (> 1 day
    # old — a live concurrent build is minutes old and must survive)
    import time

    prefix = os.path.basename(final) + ".build-"
    for entry in os.listdir(parent):
        if entry.startswith(prefix):
            p = os.path.join(parent, entry)
            try:
                if time.time() - os.lstat(p).st_mtime > 86400:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    tmp = f"{final}.build-{os.getpid()}-{os.urandom(4).hex()}"
    os.makedirs(tmp)
    return tmp


def publish_build(tmp: str, final: str) -> None:
    """Atomically publish a COMPLETED build dir (marker already
    inside): one rename on the same filesystem. If ``final`` already
    exists COMPLETE, another session won the race — discard ours and
    use the winner's (both builds are deterministic functions of the
    same fingerprinted inputs, so either result is correct). If it
    exists INCOMPLETE — a leftover from an older layout or a pre-
    tmp-discipline crash — replace it: an incomplete final dir must
    never shadow a finished build."""
    try:
        os.rename(tmp, final)
        return
    except OSError:
        pass
    if store_complete(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    shutil.rmtree(final, ignore_errors=True)
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    # The fallback rename can lose to a THIRD outcome: a concurrent
    # builder re-created `final` between our rmtree and our rename, but
    # its build is incomplete (or the rename failed for another reason
    # entirely). Returning silently would leave callers reading a path
    # with no complete store and failing later with an opaque parquet
    # error — verify the invariant this function exists to provide.
    if not store_complete(final):
        raise RuntimeError(
            f"store publish failed: no complete store at {final} after "
            "rename fallback (concurrent incomplete build or rename "
            "error) — retry the build"
        )


def source_fingerprint(*paths: str) -> str:
    """Cheap content fingerprint of source parquet files: (size, mtime)
    per file, hashed. Keying a derived store by row count alone is not
    enough — a REGENERATED corpus with the same cardinality but
    different content would silently serve stale derived data; size+
    mtime changes on any rewrite."""
    parts = []
    for p in paths:
        st = os.stat(p)
        parts.append(f"{p}:{st.st_size}:{int(st.st_mtime_ns)}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def store_path(kind: str, sf_dir: str, sources: tuple[str, ...], geom: str) -> str:
    """Location of the ``kind`` store derived from the ``sources``
    tables of ``sf_dir``: keyed by the sf dir, the fingerprint of every
    source table, and ``geom`` (the writer's geometry and codec
    version — bump it whenever the stored arithmetic changes)."""
    tag = re.sub(r"\W+", "_", sf_dir.strip("/"))
    fp = source_fingerprint(
        *(os.path.join(sf_dir, f"{s}.parquet") for s in sources)
    )
    return os.path.join(store_root(), kind, f"{tag}_{fp}_{geom}")


def store_complete(path: str) -> bool:
    """True iff a build of the store at ``path`` ran to completion."""
    return os.path.exists(os.path.join(path, _MARKER))


def ensure_store(path: str, build: Callable[[str], None]) -> str:
    """Build-once gate for the store at ``path``; returns ``path``.

    A complete store returns at once. Otherwise ``build(tmp)`` writes
    every table under a fresh sibling build dir, the marker (listing
    what the build wrote) lands strictly after them, and the dir is
    published with one atomic rename."""
    if store_complete(path):
        return path
    tmp = build_tmp(path)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    with open(os.path.join(tmp, _MARKER), "w") as fh:
        fh.write("+".join(sorted(os.listdir(tmp))) + "\n")
    publish_build(tmp, path)
    return path
