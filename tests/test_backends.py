"""Catalog-backend edge cases: key-collision hygiene and PartitionField
registry round-trips (the main backend contract is exercised through
test_graph.py's build/memoization scenarios)."""


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
            {"path": "/x", "key": [["k", "NoSuchField", "1"]], "input_fp": None, "content_fp": None}
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
