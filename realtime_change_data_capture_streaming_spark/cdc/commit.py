"""Atomic table commits over plain files: versioned dirs + pointer manifest.

Round-1 design did ``shutil.rmtree(table) + os.rename(tmp, table)`` on the
driver for compaction and view rewrites.  That is not atomic for concurrent
readers (a reader between the two calls sees no table at all) and does not
port to object stores, which have no rename.  The scale-safe pattern — the
one Delta/Iceberg/Hudi all reduce to — is:

    <root>/v00000000/...data files...   (immutable once committed)
    <root>/v00000001/...
    <root>/_CURRENT                     (small JSON manifest: which version
                                         is live + table metadata)

Writers stage a complete new version directory, then publish it with ONE
atomic pointer update (``os.replace`` of the manifest on POSIX; a single
conditional PUT on an object store).  Readers resolve the pointer once and
then read an immutable directory — a concurrent publish cannot make their
files disappear, because GC retains the previous ``keep`` versions as a
grace window.

The manifest carries arbitrary table metadata (e.g. the sink's bucket
count), so metadata and data flip together in the same atomic commit.

Bucket-mapped stores (the sink and the streaming state stores) keep a
``buckets`` map in the manifest: bucket id -> the version dir serving
it, so a commit rewrites only the buckets it touched.  This module owns
that format: which ids a staging write produced (:func:`staged_ids`),
the map after a publish (:func:`next_bucket_map`), the oldest-first
bucket order a partial compaction rewrites in (:func:`oldest_buckets`),
the one chain bound every bucket-mapped writer asks
(:func:`chain_collapse`), and the refusal of a manifest
without a map (:func:`bucket_map`).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections import Counter
from collections.abc import Iterable

MANIFEST = "_CURRENT"
_HISTORY = "_history"
_LOCKFILE = "_COMMIT_LOCK"
_VPREFIX = "v"
_VDIGITS = 8

#: default for commit(expect_prev=...): CAS against seq-1 (the begin-time
#: allocation), the single-writer fast path
_AUTO = object()


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this writer's snapshot/begin and
    its commit.  The losing writer's staged version dir is removed and
    NOTHING was published — the caller's correct move is to retry from a
    fresh snapshot (for a streaming merge: let the micro-batch fail and
    replay; the merge is idempotent)."""


def _vname(seq: int) -> str:
    return f"{_VPREFIX}{seq:0{_VDIGITS}d}"


def read_manifest(root: str) -> dict | None:
    """The live manifest, or None if the table does not exist yet.

    A manifest that EXISTS but does not parse is corruption, not absence
    — the publish path fsyncs and ``os.replace``s, so readers never see a
    torn write.  Treating it as absence would send the next merge down
    the table-CREATION path and silently replace the whole table with one
    micro-batch; raise instead."""
    try:
        with open(os.path.join(root, MANIFEST)) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None
    except json.JSONDecodeError as e:
        raise ValueError(
            f"corrupt table manifest {os.path.join(root, MANIFEST)!r}: {e}. "
            "Refusing to treat the table as nonexistent — restore the "
            "manifest from _history/ or repair it manually."
        ) from e


def resolve(root: str) -> str | None:
    """Absolute path of the live version directory, or None."""
    m = read_manifest(root)
    return os.path.join(root, m["version"]) if m else None


_STAGED_PREFIX = ".staged-"

#: staged-GC age bound (default for ``commit(staged_ttl_seconds=...)``):
#: a staging dir whose seq can no longer commit (the live manifest reached
#: or passed it) and whose newest tree mtime is older than this is a dead
#: writer's leftover — reclaim it even before the seq-margin horizon
#: passes it.  In-flight writers at a still-committable seq (> live) are
#: never age-swept.  SAME-CLOCK ASSUMPTION: the sweep compares file
#: mtimes (set by whichever host wrote the staged files) against THIS
#: process's ``time.time()``; on a shared filesystem the writers and the
#: committer must be NTP-synced to well within the TTL, or a skewed
#: committer can reclaim a live-but-doomed slow writer's staged dir
#: mid-write (the writer still fails its CAS loudly, but its in-progress
#: work is lost).  Deployments with loose clocks should raise the TTL via
#: the commit() parameter rather than patching this module default
#: (ADVICE r14).
_STAGED_TTL_SECONDS = 3600.0


def _staged_name(seq: int) -> str:
    return f"{_STAGED_PREFIX}{_vname(seq)}-{uuid.uuid4().hex[:12]}"


def _tree_max_mtime(path: str, floor: float) -> float:
    """Newest mtime across the whole tree under ``path`` (start at
    ``floor``) — the liveness signal for staged-GC's age rule."""
    newest = floor
    for dirpath, dirnames, filenames in os.walk(path):
        for name in dirnames + filenames:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, name)))
            except OSError:
                continue
    return newest


def _staged_seq(entry: str) -> int | None:
    """Embedded seq of a staging-dir name, or None if not one."""
    if not entry.startswith(_STAGED_PREFIX):
        return None
    core = entry[len(_STAGED_PREFIX) :].split("-", 1)[0]
    if core.startswith(_VPREFIX) and core[len(_VPREFIX) :].isdigit():
        return int(core[len(_VPREFIX) :])
    return None


def begin(root: str) -> tuple[str, int]:
    """Allocate a staging directory for the next version; returns
    (staging_dir, seq).  Nothing is visible to readers until commit().

    The staging dir is UNIQUELY named (``.staged-v<seq>-<uuid>``), not
    ``v<seq>`` itself: two writers racing from the same snapshot both
    allocate the same seq, and if they shared the dir their overwrite
    writes would clobber each other — worse, the loser's cleanup after
    the CAS failure would rmtree the winner's just-PUBLISHED version dir
    (ADVICE r12, high).  commit() renames the staging dir to its final
    ``v<seq>`` name under the commit lock, after the CAS passes."""
    m = read_manifest(root)
    seq = (m["seq"] + 1) if m else 0
    vdir = os.path.join(root, _staged_name(seq))
    os.makedirs(vdir, exist_ok=True)
    return vdir, seq


def commit(
    root: str,
    seq: int,
    meta: dict | None = None,
    keep: int = 1,
    expect_prev: int | None | object = _AUTO,
    *,
    staged: str,
    staged_ttl_seconds: float = _STAGED_TTL_SECONDS,
) -> None:
    """Atomically publish version ``seq`` and GC unreferenced versions
    older than the previous ``keep`` (the retained ones are the
    concurrent-reader grace window; in production the grace is
    time-based, here count-based).

    Writer-writer safety (optimistic concurrency): the publish is a
    CONDITIONAL swap under an exclusive file lock — the POSIX analog of
    the object-store conditional PUT the module docstring promises.
    ``expect_prev`` is the manifest seq this writer's work was based on
    (``None`` = table creation); the default CAS-es against ``seq - 1``
    (the begin-time allocation — right for single-writer stores).  A
    writer whose table changed underneath raises
    :class:`ConcurrentCommitError` with its staged version dir removed,
    instead of silently overwriting the other writer's commit (and
    instead of publishing a bucket map computed against a superseded
    layout — the merge-vs-re-bucketing race).

    When the manifest carries a ``buckets`` map (bucket id -> version
    name, see ``BucketedParquetSink``), every version it references stays
    live regardless of age — a merge commit only supersedes the bucket
    files it rewrote, so older versions keep serving their untouched
    buckets until a compaction collapses the chain.

    The grace window is manifest-based, not just sequence-number-based:
    every superseded manifest is archived under ``_history/`` before the
    new one is published, and GC retains the UNION of
    ``referenced_versions()`` over the new manifest plus the archived
    manifests of the last ``keep`` commits.  A bucket-map manifest can
    reference arbitrarily old version dirs (v0 may still serve untouched
    buckets), so a reader holding the previous snapshot must keep every
    dir that snapshot points into — a numeric ``seq - keep`` cutoff alone
    would delete them mid-scan.

    ``staged`` is the staging dir begin() returned.  The final
    ``v<seq>`` dir only comes into existence HERE, by renaming the
    uniquely-named staging dir under the lock after the CAS passes — so
    a loser's cleanup can only ever touch its OWN staging dir, never a
    winner's published version (the ADVICE r12 interleaving: two
    begin()s from the same snapshot, winner publishes, loser's failure
    cleanup must not delete the winner's data).  A ``buckets`` map built
    before the commit names written buckets by the staging dir's name;
    they are pointed at ``v<seq>`` here."""
    import fcntl

    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, _LOCKFILE), "w") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        prev = read_manifest(root)
        want_prev = (seq - 1 if seq > 0 else None) if expect_prev is _AUTO else expect_prev
        prev_seq = None if prev is None else prev["seq"]
        if prev_seq != want_prev:
            # lost the race: remove this writer's own staged
            # (never-published) dir, then fail loudly
            shutil.rmtree(staged, ignore_errors=True)
            raise ConcurrentCommitError(
                f"{root}: commit of seq {seq} expected live manifest seq "
                f"{want_prev!r} but found {prev_seq!r} — another writer "
                "committed in between; retry from a fresh snapshot"
            )
        final = os.path.join(root, _vname(seq))
        # CAS passed => no manifest at `seq` exists, so a leftover final
        # dir is unpublished garbage (e.g. a pre-rename-scheme crash);
        # clear it and take the name.
        if os.path.lexists(final):
            shutil.rmtree(final, ignore_errors=True)
        os.rename(staged, final)
        sbase = os.path.basename(staged)
        if meta and isinstance(meta.get("buckets"), dict):
            meta = {
                **meta,
                "buckets": {
                    b: (_vname(seq) if v == sbase else v) for b, v in meta["buckets"].items()
                },
            }
        if prev is not None:
            _archive_manifest(root, prev)
        manifest = {"version": _vname(seq), "seq": seq, **(meta or {})}
        tmp = os.path.join(root, f".{MANIFEST}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(root, MANIFEST))  # the atomic publish
        referenced = referenced_versions(manifest)
        for old in _archived_manifests(root, lo=seq - keep):
            referenced |= referenced_versions(old)
        for entry in os.listdir(root):
            if entry.startswith(_VPREFIX) and entry[len(_VPREFIX) :].isdigit():
                if entry not in referenced and int(entry[len(_VPREFIX) :]) < seq - keep:
                    shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
            else:
                # abandoned staging dirs (crashed/never-committed writers):
                # anything staged at a seq <= the one just published can no
                # longer commit (its CAS must fail).  Reclaim it once it is
                # EITHER far behind the live seq (the wide margin spares
                # slow in-flight writers from losing their dir mid-write)
                # OR doomed and untouched for a whole TTL — without the
                # mtime rule, a writer that died pre-commit on a low seq
                # parked its dir until the seq horizon happened to pass it,
                # which on a slow-moving table is never (VERDICT r13
                # task 7).
                sseq = _staged_seq(entry)
                if sseq is None:
                    continue
                old_by_seq = sseq < seq - max(keep, 4)
                stale_by_age = False
                if not old_by_seq and sseq <= seq:
                    # age = newest mtime ANYWHERE in the tree, not the top
                    # level: a long Spark write lands files under nested
                    # _temporary/ dirs while the top-level mtime goes
                    # stale, and a doomed-but-still-writing slow writer
                    # must fail its CAS loudly, not lose its dir mid-job.
                    # The walk is cheap: it only runs for doomed dirs
                    # whose top level already looks stale.
                    try:
                        top = os.path.getmtime(os.path.join(root, entry))
                    except OSError:
                        top = time.time()
                    now = time.time()
                    if now - top > staged_ttl_seconds:
                        stale_by_age = now - _tree_max_mtime(
                            os.path.join(root, entry), top
                        ) > staged_ttl_seconds
                if old_by_seq or stale_by_age:
                    shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
        _prune_history(root, lo=seq - keep)


def _history_path(root: str, seq: int) -> str:
    return os.path.join(root, _HISTORY, f"manifest.{seq:0{_VDIGITS}d}.json")


def _archive_manifest(root: str, manifest: dict) -> None:
    """Persist a superseded manifest (atomic, idempotent) so later GC can
    honor the version dirs its snapshot still references."""
    path = _history_path(root, manifest["seq"])
    if os.path.exists(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _archived_manifests(root: str, lo: int) -> list[dict]:
    """Archived manifests with seq >= ``lo`` (the grace window)."""
    hist = os.path.join(root, _HISTORY)
    out: list[dict] = []
    try:
        entries = os.listdir(hist)
    except FileNotFoundError:
        return out
    for name in entries:
        parts = name.split(".")
        if len(parts) == 3 and parts[0] == "manifest" and parts[1].isdigit():
            if int(parts[1]) >= lo:
                try:
                    with open(os.path.join(hist, name)) as f:
                        out.append(json.load(f))
                except (OSError, json.JSONDecodeError):
                    continue
    return out


def _prune_history(root: str, lo: int) -> None:
    """Drop archive entries older than the grace window (tiny JSON files,
    but unbounded growth is unbounded growth)."""
    hist = os.path.join(root, _HISTORY)
    try:
        entries = os.listdir(hist)
    except FileNotFoundError:
        return
    for name in entries:
        parts = name.split(".")
        if len(parts) == 3 and parts[0] == "manifest" and parts[1].isdigit():
            if int(parts[1]) < lo:
                try:
                    os.remove(os.path.join(hist, name))
                except OSError:
                    pass


def available_seqs(root: str) -> list[int]:
    """Sequence numbers whose snapshots are still readable: the live
    manifest plus every archived manifest inside the GC grace window.
    This is the table's time-travel horizon — snapshots older than the
    grace window have had their manifests pruned (and possibly their
    version dirs GC'd)."""
    out = set()
    m = read_manifest(root)
    if m is not None:
        out.add(m["seq"])
    for am in _archived_manifests(root, lo=0):
        out.add(am["seq"])
    return sorted(out)


def manifest_at(root: str, seq: int) -> dict:
    """The manifest published at commit ``seq`` — live or archived.
    Raises KeyError when the snapshot has aged out of the grace window."""
    m = read_manifest(root)
    if m is not None and m["seq"] == seq:
        return m
    for am in _archived_manifests(root, lo=seq):
        if am["seq"] == seq:
            return am
    raise KeyError(
        f"snapshot seq={seq} is not readable (available: {available_seqs(root)}); "
        "it aged out of the GC grace window"
    )


def referenced_versions(manifest: dict) -> set[str]:
    """Version-dir names the manifest keeps live: the committed version
    itself, every version a bucket entry still points into, and any
    versions the store explicitly pinned (``pinned_versions`` — e.g. a
    version dir carrying model sidecars that outlive its data files)."""
    return {
        manifest["version"],
        *manifest.get("buckets", {}).values(),
        *manifest.get("pinned_versions", []),
    }


def bucket_map(root: str, manifest: dict | None) -> dict[str, str]:
    """The manifest's ``buckets`` map; empty before the table exists.  A
    live version without one is the earlier flat layout: reading through
    the absent map would serve the table as empty and silently drop every
    row it holds, so raise."""
    if manifest is None:
        return {}
    if "buckets" not in manifest:
        raise ValueError(
            f"store {root!r} (manifest seq {manifest.get('seq')}) has no 'buckets' map: "
            "it was written in the flat pre-bucket-map layout; rebuild it "
            "in the bucket-mapped layout"
        )
    return manifest["buckets"]


def bucket_paths(root: str, manifest: dict) -> dict[str, list[int]]:
    """Group the manifest's bucket map by version dir: absolute version
    path -> sorted bucket ids served from it."""
    groups: dict[str, list[int]] = {}
    for bucket, vname in bucket_map(root, manifest).items():
        groups.setdefault(os.path.join(root, vname), []).append(int(bucket))
    return {v: sorted(bs) for v, bs in groups.items()}


def staged_ids(staged: str, col: str) -> set[int]:
    """Bucket ids a partitioned write into ``staged`` produced: its
    ``<col>=<id>`` dirs (an id with no rows writes no dir)."""
    prefix = f"{col}="
    return {int(e[len(prefix) :]) for e in os.listdir(staged) if e.startswith(prefix)}


def next_bucket_map(
    buckets: dict[str, str], staged: str, written: set[int], touched: Iterable[int]
) -> dict[str, str]:
    """The bucket map after publishing ``staged``: ``written`` ids are
    served from it, ids the write ``touched`` but left empty leave the
    map (no dir would serve them), and every other id keeps its
    version.  Written ids carry the staging name; commit() renames it."""
    gone = {int(b) for b in touched} | set(written)
    out = {b: v for b, v in buckets.items() if int(b) not in gone}
    out.update({str(b): os.path.basename(staged) for b in sorted(written)})
    return out


def oldest_buckets(buckets: dict[str, str]) -> list[int]:
    """Bucket ids oldest version first (ties by id): the order in which
    rewriting buckets into ONE new version shortens the version chain (a
    caller rewriting the k oldest buckets takes a prefix)."""
    ranked = sorted(buckets.items(), key=lambda kv: (kv[1], int(kv[0])))
    return [int(b) for b, _v in ranked]


#: version-chain bound for every bucket-mapped table: each publish adds
#: a version dir that untouched buckets keep alive, so without a bound
#: the listing, the per-read manifest resolution and the GC scan grow
#: with the table's lifetime.
MAX_CHAIN_VERSIONS = 8


def chain_collapse(buckets: dict[str, str]) -> list[int]:
    """The bucket ids due for collapse: empty while the map spans at most
    :data:`MAX_CHAIN_VERSIONS` version dirs; above it, the buckets of the
    versions serving the FEWEST buckets (oldest first among equals), so
    rewriting them into ONE new version leaves the map spanning half the
    bound.  The half-bound watermark is the hysteresis: collapsing back
    to exactly the bound would re-trip on the very next publish (every
    publish adds a version) and turn compaction into a per-batch
    rewrite.  Fewest-first, not oldest-first: a collapse's output is a
    large version that every later publish is newer than, so an
    oldest-first pick takes it again at each trip, and a table whose
    buckets are mostly written once (CUSUM's day partitions, a sink fed
    small batches) would rewrite its whole history every few publishes.
    Fewest-first leaves the large versions alone and merges the small
    recent ones."""
    versions = set(buckets.values())
    if len(versions) <= MAX_CHAIN_VERSIONS:
        return []
    served = Counter(buckets.values())
    ranked = sorted(versions, key=lambda v: (served[v], v))
    due = set(ranked[: len(versions) - MAX_CHAIN_VERSIONS // 2 + 1])
    return [b for b in oldest_buckets(buckets) if buckets[str(b)] in due]


def dir_bytes(path: str) -> int:
    """Total bytes of data files under ``path`` (planning input for
    compaction-time re-bucketing)."""
    total = 0
    for dirpath, _dirnames, filenames in os.walk(path):
        for name in filenames:
            if not name.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total
