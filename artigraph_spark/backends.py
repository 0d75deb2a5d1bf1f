"""Metadata backends: the engine's catalog of graphs, snapshots, partitions,
and tags — metadata only, never data (parity with
/root/reference/src/arti/backends/__init__.py:27-147 and the memory
implementation backends/memory.py:62-138).

Two implementations: in-process MemoryBackend (tests / ephemeral runs) and
JsonFileBackend (a single JSON file; cross-process memoization). On a real
cluster the same 8-method interface fronts a Delta table or a database —
the catalog is tiny (O(partitions) rows of fingerprints+paths), never a
scaling concern next to the 100 TB data plane.

Write cost: a mutating call rewrites the JsonFileBackend file only when it
changes the catalog's state, and a build makes one memo probe and one link
call per producer output — so a no-op rebuild leaves the file untouched.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
import threading
from typing import Any

try:  # POSIX cross-process lock; absent on some platforms (then in-process only)
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX
    fcntl = None  # type: ignore[assignment]

from artigraph_spark.fingerprint import Fingerprint
from artigraph_spark.partitions import PartitionKey
from artigraph_spark.storage import StoragePartition


def _key_to_jsonable(key: PartitionKey) -> list[list[str]]:
    return [[name, type(f).__name__, str(f.components[f.default_component])] for name, f in sorted(key.fields.items())]


def _partition_to_json(p: StoragePartition) -> dict[str, Any]:
    out = {
        "path": p.path,
        "key": _key_to_jsonable(p.partition_key),
        "input_fp": p.input_fingerprint.key,
        "content_fp": p.content_fingerprint.key,
    }
    if p.value is not None:  # literal payload rides in the catalog
        out["value"] = p.value
    return out


def _upsert(table: dict[str, Any], key: str, partitions: list[StoragePartition]) -> bool:
    """Upsert ``partitions`` by path into ``table[key]``; True if any entry
    was new or different."""
    store = table.setdefault(key, {})
    changed = False
    for p in partitions:
        entry = _partition_to_json(p)
        if store.get(p.path) != entry:
            store[p.path] = entry
            changed = True
    return changed


def _partition_from_json(d: dict[str, Any]) -> StoragePartition:
    from artigraph_spark.partitions import PartitionField

    fields = {}
    for name, cls_name, text in d["key"]:
        # Registry lookup (not getattr on the partitions module) so
        # user-defined PartitionField subclasses round-trip; unknown names
        # raise a targeted LookupError instead of bricking the catalog.
        fcls = PartitionField.by_name(cls_name)
        fields[name] = fcls.parse(fcls.default_component, text)
    return StoragePartition(
        path=d["path"],
        partition_key=PartitionKey(fields=fields),
        input_fingerprint=Fingerprint(key=d["input_fp"]),
        content_fingerprint=Fingerprint(key=d["content_fp"]),
        value=d.get("value"),
    )


class Backend:
    """Catalog interface. Artifacts are addressed by fingerprint; snapshots
    by snapshot id."""

    def connect(self) -> Backend:
        return self

    # graphs / snapshots
    def write_snapshot(self, snapshot_id: Fingerprint, graph_name: str) -> None:
        raise NotImplementedError

    def has_snapshot(self, snapshot_id: Fingerprint) -> bool:
        raise NotImplementedError

    # artifact partitions
    def write_artifact_partitions(
        self, artifact_fp: Fingerprint, partitions: list[StoragePartition]
    ) -> None:
        raise NotImplementedError

    def read_artifact_partitions(
        self,
        artifact_fp: Fingerprint,
        input_fingerprints: set[int | None] | None = None,
    ) -> list[StoragePartition]:
        """Partitions for an artifact, optionally filtered to given input
        fingerprints (the memoization probe, memory.py:75-82)."""
        raise NotImplementedError

    def delete_partitions_by_path(self, paths: set[str]) -> None:
        """Drop catalog entries for these paths under EVERY artifact
        fingerprint (gc support): a stale entry whose data was deleted would
        otherwise re-memoize against a dead path, and an artifact definition
        change alters its fingerprint without moving its storage paths, so
        deletion must be path-keyed, not fingerprint-keyed. Snapshot links
        are NOT touched — reading a pruned snapshot raises FileNotFoundError
        by design."""
        raise NotImplementedError

    def read_all_snapshot_partitions(
        self, snapshot_id: Fingerprint
    ) -> list[StoragePartition]:
        """Every partition linked to this snapshot across ALL artifact
        fingerprints (gc support): links are keyed by the artifact
        fingerprint AT LINK TIME, which a later definition change cannot be
        expected to reproduce."""
        raise NotImplementedError

    # snapshot <-> partition links
    def link_snapshot_partitions(
        self, snapshot_id: Fingerprint, artifact_fp: Fingerprint, partitions: list[StoragePartition]
    ) -> None:
        raise NotImplementedError

    def read_snapshot_partitions(
        self, snapshot_id: Fingerprint, artifact_fp: Fingerprint
    ) -> list[StoragePartition]:
        raise NotImplementedError

    # tags
    def write_tag(self, graph_name: str, tag: str, snapshot_id: Fingerprint, *, overwrite: bool = False) -> None:
        raise NotImplementedError

    def read_tag(self, graph_name: str, tag: str) -> Fingerprint:
        raise NotImplementedError


class MemoryBackend(Backend):
    def __init__(self) -> None:
        self._snapshots: dict[int | None, str] = {}
        self._partitions: dict[int | None, dict[str, StoragePartition]] = {}
        self._links: dict[tuple[int | None, int | None], dict[str, StoragePartition]] = {}
        self._tags: dict[tuple[str, str], Fingerprint] = {}

    def write_snapshot(self, snapshot_id: Fingerprint, graph_name: str) -> None:
        self._snapshots[snapshot_id.key] = graph_name

    def has_snapshot(self, snapshot_id: Fingerprint) -> bool:
        return snapshot_id.key in self._snapshots

    def write_artifact_partitions(
        self, artifact_fp: Fingerprint, partitions: list[StoragePartition]
    ) -> None:
        store = self._partitions.setdefault(artifact_fp.key, {})
        for p in partitions:
            store[p.path] = p

    def read_artifact_partitions(
        self,
        artifact_fp: Fingerprint,
        input_fingerprints: set[int | None] | None = None,
    ) -> list[StoragePartition]:
        parts = list(self._partitions.get(artifact_fp.key, {}).values())
        if input_fingerprints is not None:
            parts = [p for p in parts if p.input_fingerprint.key in input_fingerprints]
        return parts

    def delete_partitions_by_path(self, paths: set[str]) -> None:
        for store in self._partitions.values():
            for path in paths:
                store.pop(path, None)

    def read_all_snapshot_partitions(
        self, snapshot_id: Fingerprint
    ) -> list[StoragePartition]:
        out: list[StoragePartition] = []
        for (sid, _afp), store in self._links.items():
            if sid == snapshot_id.key:
                out.extend(store.values())
        return out

    def link_snapshot_partitions(
        self, snapshot_id: Fingerprint, artifact_fp: Fingerprint, partitions: list[StoragePartition]
    ) -> None:
        store = self._links.setdefault((snapshot_id.key, artifact_fp.key), {})
        for p in partitions:
            store[p.path] = p

    def read_snapshot_partitions(
        self, snapshot_id: Fingerprint, artifact_fp: Fingerprint
    ) -> list[StoragePartition]:
        return list(self._links.get((snapshot_id.key, artifact_fp.key), {}).values())

    def write_tag(self, graph_name: str, tag: str, snapshot_id: Fingerprint, *, overwrite: bool = False) -> None:
        key = (graph_name, tag)
        if key in self._tags and not overwrite:
            raise ValueError(f"tag {tag!r} already exists for graph {graph_name!r}")
        self._tags[key] = snapshot_id

    def read_tag(self, graph_name: str, tag: str) -> Fingerprint:
        try:
            return self._tags[(graph_name, tag)]
        except KeyError:
            raise LookupError(f"no tag {tag!r} for graph {graph_name!r}") from None


class JsonFileBackend(Backend):
    """Single-JSON-file catalog safe for concurrent processes on one host.

    Every operation takes an OS-level lock (``flock`` on a sidecar ``.lock``
    file — the data file itself is swapped by ``os.replace`` so its inode
    cannot be the lock) and re-reads the file before acting, so writers merge
    instead of clobbering each other and readers never serve a stale
    construction-time snapshot. Mutations are add-only upserts, so
    reload-then-apply IS the merge. A mutation compares each entry with the
    reloaded state and rewrites the file only if something is new or
    different: skipping a write that changes nothing cannot drop another
    writer's entries, and a memoized rebuild writes nothing. Swap for
    Delta/DB at multi-host scale.
    """

    def __init__(self, path: str) -> None:
        self.path = path
        self._lock = threading.RLock()  # in-process; flock guards cross-process
        self._state: dict[str, Any] = self._empty_state()
        self._reload()

    @staticmethod
    def _empty_state() -> dict[str, Any]:
        return {"snapshots": {}, "partitions": {}, "links": {}, "tags": {}}

    def _reload(self) -> None:
        # Reload only when the file changed (os.replace updates mtime/inode):
        # repeated reads — e.g. has_snapshot polled per-artifact during an
        # incremental build — skip re-parsing an unchanged catalog.
        try:
            st = os.stat(self.path)
            stamp = (st.st_mtime_ns, st.st_ino, st.st_size)
        except FileNotFoundError:
            self._state = self._empty_state()
            self._stamp = None
            return
        if getattr(self, "_stamp", None) == stamp:
            return
        with open(self.path) as f:
            self._state = json.load(f)
        self._migrate_legacy_tag_keys()
        self._stamp = stamp

    def _migrate_legacy_tag_keys(self) -> None:
        # Tag keys were ':'-joined ("graph:tag") before the JSON-array
        # format; loading an old catalog through the new keying would make
        # every persisted tag invisible (read_tag LookupError, write_tag
        # silently re-creating duplicates). Migrate in memory on load:
        # a single-colon key splits unambiguously; a multi-colon key could
        # be ('a:b', 'c') or ('a', 'b:c'), so fail loudly rather than
        # guess. New-format keys are JSON arrays and always start with '['
        # — a character the legacy format never produced first unless the
        # graph name itself started with '[', which the same dump would
        # have json-escaped, so the discriminator is exact.
        tags = self._state.get("tags", {})
        legacy = [k for k in tags if not k.startswith("[")]
        for k in legacy:
            if k.count(":") != 1:
                raise ValueError(
                    f"catalog {self.path!r} holds legacy tag key {k!r} that"
                    " cannot be split unambiguously into (graph, tag);"
                    " migrate it manually to the JSON-array key format"
                )
            graph_name, tag = k.split(":", 1)
            new_key = self._tag_key(graph_name, tag)
            if new_key in tags and tags[new_key] != tags[k]:
                raise ValueError(
                    f"catalog {self.path!r}: legacy tag key {k!r} conflicts"
                    f" with migrated key {new_key!r} pointing at a different"
                    " snapshot; resolve manually"
                )
            tags[new_key] = tags.pop(k)

    @contextlib.contextmanager
    def _locked(self, *, exclusive: bool = True):
        # Readers take a SHARED flock (concurrent cross-process reads don't
        # serialize); mutators take EXCLUSIVE. The in-process RLock stays
        # exclusive either way — cheap next to the JSON parse it guards.
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        with self._lock, open(self.path + ".lock", "a+") as lf:
            if fcntl is not None:
                fcntl.flock(lf, fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH)
            try:
                self._reload()
                yield
            finally:
                if fcntl is not None:
                    fcntl.flock(lf, fcntl.LOCK_UN)

    def _flush(self) -> None:
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(self._state, f)
        os.replace(tmp, self.path)
        st = os.stat(self.path)
        self._stamp = (st.st_mtime_ns, st.st_ino, st.st_size)

    def write_snapshot(self, snapshot_id: Fingerprint, graph_name: str) -> None:
        key = str(snapshot_id.key)
        with self._locked():
            if self._state["snapshots"].get(key) != graph_name:
                self._state["snapshots"][key] = graph_name
                self._flush()

    def has_snapshot(self, snapshot_id: Fingerprint) -> bool:
        with self._locked(exclusive=False):
            return str(snapshot_id.key) in self._state["snapshots"]

    def write_artifact_partitions(
        self, artifact_fp: Fingerprint, partitions: list[StoragePartition]
    ) -> None:
        with self._locked():
            if _upsert(self._state["partitions"], str(artifact_fp.key), partitions):
                self._flush()

    def read_artifact_partitions(
        self,
        artifact_fp: Fingerprint,
        input_fingerprints: set[int | None] | None = None,
    ) -> list[StoragePartition]:
        with self._locked(exclusive=False):
            entries = list(self._state["partitions"].get(str(artifact_fp.key), {}).values())
        if input_fingerprints is not None:
            entries = [d for d in entries if d["input_fp"] in input_fingerprints]
        return [_partition_from_json(d) for d in entries]

    def delete_partitions_by_path(self, paths: set[str]) -> None:
        with self._locked():
            removed = False
            for store in self._state["partitions"].values():
                for path in paths & store.keys():
                    del store[path]
                    removed = True
            if removed:
                self._flush()

    def read_all_snapshot_partitions(
        self, snapshot_id: Fingerprint
    ) -> list[StoragePartition]:
        prefix = f"{snapshot_id.key}:"
        with self._locked(exclusive=False):
            out: list[StoragePartition] = []
            for link_key, store in self._state["links"].items():
                if link_key.startswith(prefix):
                    out.extend(_partition_from_json(d) for d in store.values())
            return out

    def link_snapshot_partitions(
        self, snapshot_id: Fingerprint, artifact_fp: Fingerprint, partitions: list[StoragePartition]
    ) -> None:
        with self._locked():
            if _upsert(self._state["links"], f"{snapshot_id.key}:{artifact_fp.key}", partitions):
                self._flush()

    def read_snapshot_partitions(
        self, snapshot_id: Fingerprint, artifact_fp: Fingerprint
    ) -> list[StoragePartition]:
        with self._locked(exclusive=False):
            return [
                _partition_from_json(d)
                for d in self._state["links"].get(f"{snapshot_id.key}:{artifact_fp.key}", {}).values()
            ]

    @staticmethod
    def _tag_key(graph_name: str, tag: str) -> str:
        # JSON-array key, not ':'-joined text: ('pipeline:eu', 'prod') and
        # ('pipeline', 'eu:prod') must stay distinct tags, matching
        # MemoryBackend's tuple keying.
        return json.dumps([graph_name, tag])

    def write_tag(self, graph_name: str, tag: str, snapshot_id: Fingerprint, *, overwrite: bool = False) -> None:
        key = self._tag_key(graph_name, tag)
        with self._locked():
            if key in self._state["tags"] and not overwrite:
                raise ValueError(f"tag {tag!r} already exists for graph {graph_name!r}")
            tags = self._state["tags"]
            if key not in tags or tags[key] != snapshot_id.key:
                tags[key] = snapshot_id.key
                self._flush()

    def read_tag(self, graph_name: str, tag: str) -> Fingerprint:
        key = self._tag_key(graph_name, tag)
        with self._locked(exclusive=False):
            if key not in self._state["tags"]:
                raise LookupError(f"no tag {tag!r} for graph {graph_name!r}")
            return Fingerprint(key=self._state["tags"][key])
