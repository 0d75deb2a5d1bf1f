"""Catalog-backend edge cases: key-collision hygiene, PartitionField
registry round-trips, older catalog layouts, and link references (a link
stores ``0`` for the ``partitions`` entry it equals; the main backend
contract is exercised through test_graph.py's build/memoization
scenarios)."""

import pytest


def test_json_backend_tag_keys_do_not_collide(tmp_path):
    """('pipeline:eu', 'prod') and ('pipeline', 'eu:prod') are distinct tags
    — a ':'-joined key collided them (diverging from MemoryBackend)."""
    from artigraph_spark.backends import JsonFileBackend
    from artigraph_spark.fingerprint import Fingerprint

    b = JsonFileBackend(str(tmp_path / "cat.json"))
    b.write_tag("pipeline:eu", "prod", Fingerprint.from_int(1))
    b.write_tag("pipeline", "eu:prod", Fingerprint.from_int(2))
    assert b.read_tag("pipeline:eu", "prod") == Fingerprint.from_int(1)
    assert b.read_tag("pipeline", "eu:prod") == Fingerprint.from_int(2)


def test_json_backend_roundtrips_custom_partition_field(tmp_path):
    """User-defined PartitionField subclasses resolve through the registry
    on deserialization; unknown names raise a targeted LookupError."""
    import pytest

    from artigraph_spark.backends import JsonFileBackend, _partition_from_json
    from artigraph_spark.fingerprint import Fingerprint
    from artigraph_spark.partitions import PartitionField, PartitionKey
    from artigraph_spark.storage import StoragePartition

    class HexField(PartitionField):
        key: int = 0
        default_component = "hexv"

        @property
        def components(self):
            return {"hexv": format(self.key, "x")}

        @property
        def value(self):
            return self.key

        @classmethod
        def from_components(cls, **components):
            return cls(key=int(components["hexv"], 16))

    b = JsonFileBackend(str(tmp_path / "cat.json"))
    p = StoragePartition(
        path="/d/h=ff",
        partition_key=PartitionKey(fields={"h": HexField(key=255)}),
        content_fingerprint=Fingerprint.from_int(9),
    )
    b.write_artifact_partitions(Fingerprint.from_int(5), [p])
    b2 = JsonFileBackend(str(tmp_path / "cat.json"))
    (q,) = b2.read_artifact_partitions(Fingerprint.from_int(5))
    assert q.partition_key.fields["h"].value == 255
    with pytest.raises(LookupError, match="NoSuchField"):
        _partition_from_json(
            "/x", {"key": [["k", "NoSuchField", "1"]], "input_fp": None, "content_fp": None}
        )


def test_json_backend_migrates_legacy_colon_tag_keys(tmp_path):
    """Catalogs written before the JSON-array tag keying used 'graph:tag'
    keys; loading one must surface the tag (not LookupError) and block a
    silent duplicate re-create."""
    import json as _json

    import pytest

    from artigraph_spark.backends import JsonFileBackend
    from artigraph_spark.fingerprint import Fingerprint

    path = tmp_path / "cat.json"
    fp = Fingerprint.from_int(7)
    path.write_text(_json.dumps({
        "snapshots": {}, "partitions": {}, "links": {},
        "tags": {"pipeline:prod": fp.key},
    }))
    b = JsonFileBackend(str(path))
    assert b.read_tag("pipeline", "prod") == fp
    with pytest.raises(ValueError, match="already exists"):
        b.write_tag("pipeline", "prod", Fingerprint.from_int(8))

    # Ambiguous multi-colon legacy keys fail loudly instead of guessing.
    bad = tmp_path / "bad.json"
    bad.write_text(_json.dumps({
        "snapshots": {}, "partitions": {}, "links": {},
        "tags": {"a:b:c": fp.key},
    }))
    with pytest.raises(ValueError, match="unambiguously"):
        JsonFileBackend(str(bad))


def _part(path: str, input_fp: int):
    from artigraph_spark.fingerprint import Fingerprint
    from artigraph_spark.partitions import IntField, PartitionKey
    from artigraph_spark.storage import StoragePartition

    return StoragePartition(
        path=path,
        partition_key=PartitionKey(fields={"n": IntField(key=input_fp)}),
        input_fingerprint=Fingerprint.from_int(input_fp),
        content_fingerprint=Fingerprint.from_int(100 + input_fp),
    )


def _child_upsert(catalog: str) -> None:
    from artigraph_spark.backends import JsonFileBackend
    from artigraph_spark.fingerprint import Fingerprint

    b = JsonFileBackend(catalog)
    b.write_artifact_partitions(Fingerprint.from_int(5), [_part("/d/n=3", 3)])
    b.link_snapshot_partitions(Fingerprint.from_int(1), Fingerprint.from_int(5), [_part("/d/n=3", 3)])


def test_json_backend_merges_across_instances_and_processes(tmp_path):
    """Writers on one catalog file merge: a stale instance re-upserting
    entries it never loaded leaves the file alone (it compares against the
    reloaded file, not its own stale state), adding an entry keeps every
    other writer's entries, and a fresh instance sees them all."""
    import multiprocessing
    import os

    from artigraph_spark.backends import JsonFileBackend
    from artigraph_spark.fingerprint import Fingerprint

    catalog = str(tmp_path / "cat.json")
    snap, afp = Fingerprint.from_int(1), Fingerprint.from_int(5)
    a, b = JsonFileBackend(catalog), JsonFileBackend(catalog)  # b goes stale
    ours = [_part("/d/n=1", 1), _part("/d/n=2", 2)]
    a.write_snapshot(snap, "g")
    a.write_artifact_partitions(afp, ours)
    a.link_snapshot_partitions(snap, afp, ours)
    a.write_tag("g", "prod", snap)

    child = multiprocessing.get_context("spawn").Process(target=_child_upsert, args=(catalog,))
    child.start()
    child.join(60)
    assert child.exitcode == 0

    def stamp():
        st = os.stat(catalog)
        with open(catalog, "rb") as f:
            return f.read(), st.st_ino, st.st_mtime_ns

    before = stamp()
    b.write_snapshot(snap, "g")
    b.write_artifact_partitions(afp, ours)
    b.link_snapshot_partitions(snap, afp, ours)
    b.write_tag("g", "prod", snap, overwrite=True)
    b.delete_partitions_by_path({"/d/n=9"})
    assert stamp() == before

    b.write_artifact_partitions(afp, [_part("/d/n=4", 4)])
    fresh = JsonFileBackend(catalog)
    assert fresh.has_snapshot(snap)
    assert fresh.read_tag("g", "prod") == snap
    assert sorted(p.path for p in fresh.read_artifact_partitions(afp)) == [
        "/d/n=1", "/d/n=2", "/d/n=3", "/d/n=4",
    ]
    assert sorted(p.path for p in fresh.read_snapshot_partitions(snap, afp)) == [
        "/d/n=1", "/d/n=2", "/d/n=3",
    ]
    (hit,) = fresh.read_artifact_partitions(afp, input_fingerprints={Fingerprint.from_int(2).key})
    assert hit == _part("/d/n=2", 2)


def _full_links(state: dict) -> dict:
    """``state`` with every link reference ``0`` expanded into the
    ``partitions`` entry it points at, as links stored it before
    references."""
    parts = state["partitions"]
    return {
        **state,
        "links": {
            key: {path: parts[key.rpartition(":")[2]][path] if e == 0 else e for path, e in store.items()}
            for key, store in state["links"].items()
        },
    }


def _legacy_layout(state: dict) -> dict:
    """``state`` as the older layout stored it: every link holding its full
    entry, and every partition and link entry repeating its dict key as a
    ``"path"`` field."""
    full = _full_links(state)
    return {
        **full,
        **{
            table: {
                key: {path: {"path": path, **entry} for path, entry in store.items()}
                for key, store in full[table].items()
            }
            for table in ("partitions", "links")
        },
    }


def test_json_backend_reads_legacy_layout_catalog(tmp_path):
    """A catalog in the older layout (spaced separators, entries carrying
    ``"path"``) reads back the same partitions through every reader, and
    its first mutation rewrites it compact with no inner ``"path"``."""
    import json as _json

    from artigraph_spark.backends import JsonFileBackend
    from artigraph_spark.fingerprint import Fingerprint

    snap, afp = Fingerprint.from_int(1), Fingerprint.from_int(5)
    one, two = _part("/d/n=1", 1), _part("/d/n=2", 2).model_copy(update={"value": "7"})
    entries = {
        "/d/n=1": {"path": "/d/n=1", "key": [["n", "IntField", "1"]], "input_fp": 1, "content_fp": 101},
        "/d/n=2": {
            "path": "/d/n=2", "key": [["n", "IntField", "2"]], "input_fp": 2, "content_fp": 102, "value": "7",
        },
    }
    catalog = tmp_path / "cat.json"
    catalog.write_text(_json.dumps({
        "snapshots": {"1": "g"},
        "partitions": {"5": entries},
        "links": {"1:5": entries},
        "tags": {_json.dumps(["g", "prod"]): snap.key},
    }))
    b = JsonFileBackend(str(catalog))
    assert b.read_artifact_partitions(afp) == [one, two]
    assert b.read_artifact_partitions(afp, input_fingerprints={2}) == [two]
    assert b.read_snapshot_partitions(snap, afp) == [one, two]
    assert b.read_all_snapshot_partitions(snap) == [one, two]
    assert b.read_tag("g", "prod") == snap

    b.write_artifact_partitions(afp, [_part("/d/n=3", 3)])
    text = catalog.read_text()
    state = _json.loads(text)
    assert '"path"' not in text
    assert text == _json.dumps(state, separators=(",", ":"))
    assert _legacy_layout(state)["links"] == {"1:5": entries}
    assert JsonFileBackend(str(catalog)).read_snapshot_partitions(snap, afp) == [one, two]


def test_noop_build_over_legacy_catalog_writes_nothing(tmp_root, spark):
    """A no-op Graph.build over a catalog in the older layout leaves its
    bytes, inode and mtime alone; the next real build rewrites it without
    any inner ``"path"``."""
    import json as _json
    import os

    from artigraph_spark.backends import JsonFileBackend
    from artigraph_spark.executors import LocalSparkExecutor
    from tests.test_graph import DAYS, make_day_graph, seed_days

    catalog = os.path.join(tmp_root, "catalog.json")
    seed_days(tmp_root, {d: [d] for d in DAYS})
    snap = make_day_graph(tmp_root, JsonFileBackend(catalog), spark).snapshot(strict_fingerprints=True)
    snap.build(LocalSparkExecutor(strict_fingerprints=True)).tag("prod")
    with open(catalog) as f:
        state = _json.load(f)
    with open(catalog, "w") as f:
        _json.dump(_legacy_layout(state), f)

    def file_state():
        st = os.stat(catalog)
        with open(catalog, "rb") as f:
            return f.read(), st.st_ino, st.st_mtime_ns

    def build():
        ex = LocalSparkExecutor(strict_fingerprints=True)
        g = make_day_graph(tmp_root, JsonFileBackend(catalog), spark)
        g.snapshot(strict_fingerprints=True).build(ex)
        return ex.built_partitions, ex.skipped_partitions

    before = file_state()
    assert b'"path"' in before[0]
    assert build() == (0, 2 * len(DAYS))
    assert file_state() == before

    seed_days(tmp_root, {1: [5]})
    assert build() == (2, 2 * len(DAYS) - 2)
    with open(catalog) as f:
        text = f.read()
    assert '"path"' not in text
    assert _json.loads(text)["tags"] == state["tags"]


def _day_build(tmp_root, catalog, spark):
    """Build the day graph over ``catalog``: (graph, snapshot, built, skipped)."""
    from artigraph_spark.backends import JsonFileBackend
    from artigraph_spark.executors import LocalSparkExecutor
    from tests.test_graph import make_day_graph

    ex = LocalSparkExecutor(strict_fingerprints=True)
    g = make_day_graph(tmp_root, JsonFileBackend(catalog), spark)
    snap = g.snapshot(strict_fingerprints=True).build(ex)
    return g, snap, ex.built_partitions, ex.skipped_partitions


def _every_read(backend, graph, snaps) -> list:
    """Every answer the catalog gives about ``graph``'s artifacts and
    ``snaps``, in reader order."""
    reads = []
    for _, artifact in sorted(graph._artifacts.items()):
        reads.append(backend.read_artifact_partitions(artifact.fingerprint))
        reads.extend(backend.read_snapshot_partitions(s.snapshot_id, artifact.fingerprint) for s in snaps)
    reads.extend(backend.read_all_snapshot_partitions(s.snapshot_id) for s in snaps)
    return reads


def test_fresh_build_stores_a_reference_for_every_link(tmp_root, spark):
    """Every link of a fresh build equals its ``partitions`` entry, so each
    is stored as ``0`` and reads back as that entry."""
    import json as _json
    import os

    from tests.test_graph import DAYS, seed_days

    catalog = os.path.join(tmp_root, "catalog.json")
    seed_days(tmp_root, {d: [d] for d in DAYS})
    g, snap, built, _ = _day_build(tmp_root, catalog, spark)
    assert built == 2 * len(DAYS)
    with open(catalog) as f:
        state = _json.load(f)
    links = [e for store in state["links"].values() for e in store.values()]
    assert len(links) == 3 * len(DAYS) and set(links) == {0}
    for _, artifact in sorted(g._artifacts.items()):
        linked = g.backend.read_snapshot_partitions(snap.snapshot_id, artifact.fingerprint)
        stored = g.backend.read_artifact_partitions(artifact.fingerprint)
        assert sorted(linked, key=str) == sorted(stored, key=str)


def test_overwritten_raw_partition_keeps_the_old_snapshots_entry(tmp_root, spark):
    """Rebuilding after one raw partition changed overwrites its
    ``partitions`` entry; the older snapshot's link first takes a copy of
    the old entry, so each snapshot reads its own content fingerprint."""
    import json as _json
    import os

    from tests.test_graph import DAYS, seed_days

    catalog = os.path.join(tmp_root, "catalog.json")
    seed_days(tmp_root, {d: [d] for d in DAYS})
    g, old, _, _ = _day_build(tmp_root, catalog, spark)
    nums = g.artifacts.nums.fingerprint

    def content(snap):
        return {p.path: p.content_fingerprint for p in g.backend.read_snapshot_partitions(snap.snapshot_id, nums)}

    before = content(old)
    seed_days(tmp_root, {1: [5]})
    g, new, built, _ = _day_build(tmp_root, catalog, spark)
    assert built == 2
    assert content(old) == before
    (changed,) = [path for path, fp in content(new).items() if fp != before[path]]
    assert {p.path: p.content_fingerprint for p in g.backend.read_artifact_partitions(nums)} == content(new)
    with open(catalog) as f:
        links = _json.load(f)["links"]
    assert links[f"{old.snapshot_id.key}:{nums.key}"][changed] != 0
    assert links[f"{new.snapshot_id.key}:{nums.key}"][changed] == 0


def test_pruned_partitions_still_read_through_the_old_snapshot(tmp_root, spark):
    """``delete_partitions_by_path`` copies each deleted entry into the
    links that reference it: the snapshot still lists its partitions."""
    import os

    from artigraph_spark.backends import JsonFileBackend
    from tests.test_graph import DAYS, seed_days

    catalog = os.path.join(tmp_root, "catalog.json")
    seed_days(tmp_root, {d: [d] for d in DAYS})
    g, snap, _, _ = _day_build(tmp_root, catalog, spark)
    total = g.artifacts.total.fingerprint
    linked = g.backend.read_all_snapshot_partitions(snap.snapshot_id)
    pruned = {p.path for p in g.backend.read_artifact_partitions(total)}
    assert len(pruned) == len(DAYS)

    g.backend.delete_partitions_by_path(pruned)
    fresh = JsonFileBackend(catalog)
    assert fresh.read_artifact_partitions(total) == []
    assert fresh.read_all_snapshot_partitions(snap.snapshot_id) == linked
    assert {p.path for p in fresh.read_snapshot_partitions(snap.snapshot_id, total)} == pruned


def test_reference_sequence_reads_the_same_on_both_backends(tmp_path):
    """Links, overwrites, re-links and deletes read the same from
    ``MemoryBackend`` and ``JsonFileBackend`` (and from a fresh instance
    over the JSON file) after every step."""
    from artigraph_spark.backends import JsonFileBackend, MemoryBackend
    from artigraph_spark.fingerprint import Fingerprint

    catalog = str(tmp_path / "cat.json")
    s1, s2, s3 = (Fingerprint.from_int(i) for i in (1, 2, 3))
    a, b = Fingerprint.from_int(5), Fingerprint.from_int(6)
    one, two, three = _part("/d/n=1", 1), _part("/d/n=2", 2), _part("/d/n=3", 3)
    one_v2 = _part("/d/n=1", 11)
    steps = [
        ("write_artifact_partitions", a, [one, two]),
        ("link_snapshot_partitions", s1, a, [one, two]),
        ("write_artifact_partitions", b, [three]),
        ("link_snapshot_partitions", s1, b, [three]),
        ("write_artifact_partitions", a, [one_v2]),
        ("link_snapshot_partitions", s2, a, [one_v2, two]),
        ("link_snapshot_partitions", s3, a, [one]),
        ("write_artifact_partitions", a, [one]),
        ("delete_partitions_by_path", {"/d/n=2", "/d/n=3"}),
        ("write_artifact_partitions", a, [two]),
        ("link_snapshot_partitions", s3, a, [two]),
    ]
    mem, js = MemoryBackend(), JsonFileBackend(catalog)

    def reads(backend):
        out = [backend.read_artifact_partitions(fp) for fp in (a, b)]
        out += [backend.read_snapshot_partitions(s, fp) for s in (s1, s2, s3) for fp in (a, b)]
        return out + [backend.read_all_snapshot_partitions(s) for s in (s1, s2, s3)]

    for name, *args in steps:
        getattr(mem, name)(*args)
        getattr(js, name)(*args)
        assert reads(js) == reads(mem), name
        assert reads(JsonFileBackend(catalog)) == reads(mem), name
    assert reads(mem)[2:4] == [[one, two], [three]]
    assert reads(mem)[4] == [one_v2, two]


@pytest.mark.parametrize("with_path", [False, True])
def test_full_link_entries_read_the_same_and_noop_build_writes_nothing(tmp_root, spark, with_path):
    """A catalog whose links hold their full entries (with or without the
    older ``"path"`` field) reads the same through every reader as the
    reference layout, a no-op build over it leaves its bytes, inode and
    mtime alone, and its first real build stores every link equal to its
    ``partitions`` entry as a reference."""
    import json as _json
    import os

    from artigraph_spark.backends import JsonFileBackend
    from tests.test_graph import DAYS, seed_days

    catalog = os.path.join(tmp_root, "catalog.json")
    seed_days(tmp_root, {d: [d] for d in DAYS})
    _, old, _, _ = _day_build(tmp_root, catalog, spark)
    seed_days(tmp_root, {2: [7]})
    g, new, _, _ = _day_build(tmp_root, catalog, spark)
    snaps = [old, new]
    want = _every_read(JsonFileBackend(catalog), g, snaps)
    with open(catalog) as f:
        state = _json.load(f)
    older = _legacy_layout(state) if with_path else _full_links(state)
    assert older != state
    with open(catalog, "w") as f:
        _json.dump(older, f)

    assert _every_read(JsonFileBackend(catalog), g, snaps) == want

    def file_state():
        st = os.stat(catalog)
        with open(catalog, "rb") as f:
            return f.read(), st.st_ino, st.st_mtime_ns

    before = file_state()
    assert _day_build(tmp_root, catalog, spark)[2:] == (0, 2 * len(DAYS))
    assert file_state() == before

    seed_days(tmp_root, {3: [9]})
    _day_build(tmp_root, catalog, spark)
    with open(catalog) as f:
        state = _json.load(f)
    parts = state["partitions"]
    assert all(
        e == 0 or e != parts[key.rpartition(":")[2]].get(path)
        for key, store in state["links"].items()
        for path, e in store.items()
    )
