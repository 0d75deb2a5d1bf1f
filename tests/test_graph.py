"""Graph semantics: the incremental-build/memoization contract, snapshot
identity, tagging, validation gates, read/write round-trips (mirrors
/root/reference/tests/arti/graphs/test_graph.py — especially the
build → no-op → mutate → rebuild → revert → cache-hit scenario :259-327)."""

import json
import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from artigraph_spark import types as at
from artigraph_spark.artifacts import Artifact
from artigraph_spark.backends import JsonFileBackend, MemoryBackend
from artigraph_spark.executors import BuildError, LocalSparkExecutor, ThreadedSparkExecutor
from artigraph_spark.formats import JSON
from artigraph_spark.graphs import Graph, GraphSnapshot
from artigraph_spark.producers import Producer
from artigraph_spark.storage import LocalFile
from artigraph_spark.versions import SemVer

NUM_TYPE = at.Collection(element=at.Struct(fields={"value": at.Int64()}))


class Num(Artifact):
    pass


class Total(Artifact):
    pass


class SumNums(Producer):
    version = SemVer(major=1)

    nums: Num

    def build(self, nums: DataFrame) -> int:
        return nums.agg(F.sum("value")).collect()[0][0]


def seed_nums(root: str, values: list[int]) -> str:
    d = os.path.join(root, "g/nums/nums")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "part-0.json")
    with open(path, "w") as f:
        f.write("\n".join(json.dumps({"value": v}) for v in values))
    return path


def make_graph(root: str, backend) -> tuple[Graph, Artifact, Artifact]:
    with Graph("g", backend=backend) as g:
        g.artifacts.nums = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=root))
        p = SumNums(nums=g.artifacts.nums)
        g.artifacts.total = p.out(
            Total(type=at.Int64(), format=JSON(), storage=LocalFile(root=root))
        )
    return g, g.artifacts.nums, g.artifacts.total


def test_incremental_build_and_memoization(tmp_root, spark):
    """The reference's core scenario: build → no-op rebuild → mutate input →
    rebuild → revert input → cache hit with zero builds.

    Uses strict (sha256) fingerprints: the revert-cache-hit property is
    content-addressing, which the fast file-status mode deliberately trades
    away (BASELINE.md: fast fp for 100 TB, strict optional)."""
    backend = JsonFileBackend(os.path.join(tmp_root, "catalog.json"))
    seed_nums(tmp_root, [1, 2, 3])

    g, nums, total = make_graph(tmp_root, backend)
    ex = LocalSparkExecutor()
    snap1 = g.snapshot(strict_fingerprints=True).build(ex)
    assert ex.built_partitions == 1
    assert snap1.read(total, annotation=int) == 6

    # no-op rebuild
    ex2 = LocalSparkExecutor()
    snap2 = make_graph(tmp_root, backend)[0].snapshot(strict_fingerprints=True).build(ex2)
    assert snap2.snapshot_id == snap1.snapshot_id
    assert (ex2.built_partitions, ex2.skipped_partitions) == (0, 1)

    # mutate input -> new snapshot id, one rebuild
    seed_nums(tmp_root, [1, 2, 3, 4])
    g3, _, total3 = make_graph(tmp_root, backend)
    ex3 = LocalSparkExecutor()
    snap3 = g3.snapshot(strict_fingerprints=True).build(ex3)
    assert snap3.snapshot_id != snap1.snapshot_id
    assert ex3.built_partitions == 1
    assert snap3.read(total3, annotation=int) == 10

    # revert input -> original snapshot id, zero builds (content-addressed)
    seed_nums(tmp_root, [1, 2, 3])
    g4, _, total4 = make_graph(tmp_root, backend)
    ex4 = LocalSparkExecutor()
    snap4 = g4.snapshot(strict_fingerprints=True).build(ex4)
    assert ex4.built_partitions == 0
    assert snap4.read(total4, annotation=int) == 6


def test_unrelated_input_change_does_not_rebuild(tmp_root, spark):
    """Reference contract (tests/arti/graphs/test_graph.py:151-169): changing
    an input that is NOT consumed by a producer yields a NEW snapshot id but
    must not rebuild that producer — memoization is keyed by the producer's
    own (inputs ⊕ code ⊕ version) fingerprint, not by the snapshot."""
    backend = JsonFileBackend(os.path.join(tmp_root, "catalog.json"))
    seed_nums(tmp_root, [1, 2, 3])

    def make(phase_values):
        d = os.path.join(tmp_root, "g/phase/phase")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.json"), "w") as f:
            f.write("\n".join(json.dumps({"value": v}) for v in phase_values))
        with Graph("g", backend=backend) as g:
            g.artifacts.nums = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=tmp_root))
            g.artifacts.phase = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=tmp_root))
            p = SumNums(nums=g.artifacts.nums)
            g.artifacts.total = p.out(
                Total(type=at.Int64(), format=JSON(), storage=LocalFile(root=tmp_root))
            )
        return g

    ex1 = LocalSparkExecutor()
    snap1 = make([0]).snapshot(strict_fingerprints=True).build(ex1)
    assert ex1.built_partitions == 1

    # Change ONLY phase: new snapshot id, but total is served from the cache.
    ex2 = LocalSparkExecutor()
    g2 = make([9])
    snap2 = g2.snapshot(strict_fingerprints=True).build(ex2)
    assert snap2.snapshot_id != snap1.snapshot_id
    assert (ex2.built_partitions, ex2.skipped_partitions) == (0, 1)
    assert snap2.read(g2.artifacts.total, annotation=int) == 6


def test_strict_vs_fast_fingerprints(tmp_root):
    """Fast (file-status) fingerprints change when bytes change because mtime
    moves; strict mode hashes contents. Both detect the mutation."""
    backend = MemoryBackend()
    path = seed_nums(tmp_root, [5])
    g, *_ = make_graph(tmp_root, backend)
    id1 = g.snapshot().snapshot_id
    os.utime(path, ns=(1, 1))  # same bytes, different mtime
    id2 = make_graph(tmp_root, backend)[0].snapshot().snapshot_id
    assert id1 != id2  # fast mode is mtime-sensitive (documented)
    id3 = make_graph(tmp_root, backend)[0].snapshot(strict_fingerprints=True).snapshot_id
    os.utime(path, ns=(2, 2))
    id4 = make_graph(tmp_root, backend)[0].snapshot(strict_fingerprints=True).snapshot_id
    assert id3 == id4  # strict mode is content-only


def test_snapshot_requires_raw_data(tmp_root):
    g, *_ = make_graph(tmp_root, MemoryBackend())
    with pytest.raises(FileNotFoundError, match="no data"):
        g.snapshot()


def test_failed_validation_aborts_write(tmp_root, spark):
    class NeverValid(SumNums):
        def validate_outputs(self, *outputs):
            return False, "always bad"

    seed_nums(tmp_root, [1])
    backend = MemoryBackend()
    with Graph("g", backend=backend) as g:
        g.artifacts.nums = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=tmp_root))
        g.artifacts.total = NeverValid(nums=g.artifacts.nums).out(
            Total(type=at.Int64(), format=JSON(), storage=LocalFile(root=tmp_root))
        )
    with pytest.raises(BuildError, match="always bad"):
        g.build()
    # nothing checkpointed
    snap = g.snapshot()
    assert g.backend.read_snapshot_partitions(snap.snapshot_id, g.artifacts.total.fingerprint) == []


def test_dependencies_and_cycle_check(tmp_root):
    g, nums, total = make_graph(tmp_root, MemoryBackend())
    deps = g.dependencies()
    assert deps["nums"] == set()
    producer_nodes = [n for n in deps if n.startswith("producer:")]
    assert len(producer_nodes) == 1
    assert deps["total"] == {producer_nodes[0]}
    assert deps[producer_nodes[0]] == {"nums"}


def test_sealed_graph_rejects_assignment(tmp_root):
    g, *_ = make_graph(tmp_root, MemoryBackend())
    with pytest.raises(RuntimeError, match="sealed"):
        g.artifacts.other = Num(type=NUM_TYPE, storage=LocalFile(root=tmp_root))


def test_tagging(tmp_root):
    backend = MemoryBackend()
    seed_nums(tmp_root, [1])
    g, *_ = make_graph(tmp_root, backend)
    snap = g.snapshot()
    snap.tag("v1")
    assert GraphSnapshot.from_tag(g, "v1").snapshot_id == snap.snapshot_id
    with pytest.raises(ValueError, match="already exists"):
        snap.tag("v1")
    snap.tag("v1", overwrite=True)
    with pytest.raises(LookupError):
        GraphSnapshot.from_tag(g, "nope")


def test_snapshot_id_ignores_definition_order(tmp_root):
    """Same artifacts assigned in different order -> same snapshot id."""
    seed_nums(tmp_root, [1, 2])
    b1, b2 = MemoryBackend(), MemoryBackend()
    with Graph("g", backend=b1) as ga:
        ga.artifacts.nums = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=tmp_root))
        ga.artifacts.other = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=tmp_root))
    with Graph("g", backend=b2) as gb:
        gb.artifacts.other = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=tmp_root))
        gb.artifacts.nums = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=tmp_root))
    # 'other' discovers the same files via its own template dir; seed both
    os.makedirs(os.path.join(tmp_root, "g/other/other"), exist_ok=True)
    import shutil

    shutil.copy(
        os.path.join(tmp_root, "g/nums/nums/part-0.json"),
        os.path.join(tmp_root, "g/other/other/part-0.json"),
    )
    assert ga.snapshot().snapshot_id == gb.snapshot().snapshot_id


def test_dataframe_roundtrip_collection(tmp_root, spark):
    """Produced Collection output written as parquet and read back as a
    DataFrame through the snapshot."""

    class Wide(Producer):
        nums: Num

        def build(self, nums: DataFrame) -> DataFrame:
            return nums.withColumn("value", F.col("value") * 2)

    seed_nums(tmp_root, [1, 2, 3])
    with Graph("g", backend=MemoryBackend()) as g:
        g.artifacts.nums = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=tmp_root))
        g.artifacts.doubled = Wide(nums=g.artifacts.nums).out(
            Artifact(type=NUM_TYPE, storage=LocalFile(root=tmp_root))
        )
    snap = g.build()
    df = snap.read(g.artifacts.doubled)
    assert sorted(r["value"] for r in df.collect()) == [2, 4, 6]


class DivNums(Producer):
    """Two same-typed inputs — identity must track WHICH artifact binds to
    which parameter (reference test_Graph_snapshot_id_producer_arg_order)."""

    version = SemVer(major=1)

    a: Num
    b: Num

    def build(self, a: int, b: int) -> int:
        return a // b


def test_snapshot_id_distinguishes_producer_arg_order(tmp_root):
    """div(a=x, b=y) and div(a=y, b=x) are different computations: their
    graph definition fingerprints AND memoization keys must differ."""
    from artigraph_spark.fingerprint import Fingerprint
    from artigraph_spark.storage import StoragePartition

    def scalar(name: str, value: int) -> Num:
        d = os.path.join(tmp_root, f"g2/{name}/{name}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.json"), "w") as f:
            f.write(json.dumps(value))
        return Num(type=at.Int64(), format=JSON(), storage=LocalFile(root=tmp_root))

    def make(order: str) -> Graph:
        with Graph("g2") as g:
            g.artifacts.x = scalar("x", 10)
            g.artifacts.y = scalar("y", 5)
            first, second = (
                (g.artifacts.x, g.artifacts.y) if order == "xy" else (g.artifacts.y, g.artifacts.x)
            )
            g.artifacts.q = DivNums(a=first, b=second).out()
        return g

    assert make("xy").definition_fingerprint() != make("yx").definition_fingerprint()

    pa = StoragePartition(path="/a", content_fingerprint=Fingerprint.from_int(111))
    pb = StoragePartition(path="/b", content_fingerprint=Fingerprint.from_int(222))
    f_ab = DivNums.compute_input_fingerprint({"a": (pa,), "b": (pb,)})
    f_ba = DivNums.compute_input_fingerprint({"a": (pb,), "b": (pa,)})
    assert f_ab != f_ba


def test_snapshot_id_counts_duplicate_content_partitions(tmp_root):
    """Two partitions holding byte-identical files must NOT cancel out of the
    snapshot id: snapshot({d1=X, d2=X, d3=Y}) != snapshot({d3=Y}). A per-term
    XOR combine had exactly this collision (identical content fps at distinct
    partition keys produced identical terms), which would let distinct
    raw-data states share a snapshot id and serve each other's memoized
    outputs."""
    import shutil

    part_type = at.Collection(
        element=at.Struct(fields={"d": at.Date(), "value": at.Int64()}),
        partition_by=("d",),
    )

    def seed(root: str, dates: list[str]) -> None:
        for d in dates:
            dirpath = os.path.join(root, f"g3/nums/nums/d={d}")
            os.makedirs(dirpath, exist_ok=True)
            with open(os.path.join(dirpath, "part-0.json"), "w") as f:
                # d1/d2 byte-identical on purpose; d3 differs.
                f.write('{"value": 1}' if d != "2021-01-03" else '{"value": 9}')

    def snap(root: str) -> GraphSnapshot:
        with Graph("g3", backend=MemoryBackend()) as g:
            g.artifacts.nums = Num(
                type=part_type, format=JSON(), storage=LocalFile(root=root)
            )
        return g.snapshot(strict_fingerprints=True)

    root_all = os.path.join(tmp_root, "all")
    root_one = os.path.join(tmp_root, "one")
    seed(root_all, ["2021-01-01", "2021-01-02", "2021-01-03"])
    seed(root_one, ["2021-01-03"])
    assert snap(root_all).snapshot_id != snap(root_one).snapshot_id
    shutil.rmtree(root_all)
    shutil.rmtree(root_one)


def test_input_fingerprint_counts_duplicate_content_partitions():
    """Memoization keys must distinguish an input of two byte-identical
    partitions from an empty/one-partition input (same XOR-cancel hazard as
    the snapshot id), and must bind content to its partition key."""
    import datetime

    from artigraph_spark.fingerprint import Fingerprint
    from artigraph_spark.partitions import DateField, PartitionKey
    from artigraph_spark.storage import StoragePartition

    def part(day: int, content: int) -> StoragePartition:
        return StoragePartition(
            path=f"/data/d=2021-01-0{day}",
            partition_key=PartitionKey(
                fields={"d": DateField(key=datetime.date(2021, 1, day))}
            ),
            content_fingerprint=Fingerprint.from_int(content),
        )

    dup_a, dup_b, other = part(1, 111), part(2, 111), part(3, 222)
    f_all = SumNums.compute_input_fingerprint({"nums": (dup_a, dup_b, other)})
    f_one = SumNums.compute_input_fingerprint({"nums": (other,)})
    f_two = SumNums.compute_input_fingerprint({"nums": (dup_a, other)})
    assert len({f_all, f_one, f_two}) == 3
    # Same content at a DIFFERENT partition key is a different input state.
    f_moved = SumNums.compute_input_fingerprint({"nums": (dup_b, other)})
    assert f_moved != f_two
    # Order within the tuple stays irrelevant (path/order independence).
    assert f_all == SumNums.compute_input_fingerprint({"nums": (other, dup_b, dup_a)})


def test_literal_storage_producer_output(tmp_root, spark):
    """A producer output bound to StringLiteral storage builds end-to-end:
    the serialized value rides on the partition through the catalog (the
    reference's StringLiteralPartition.value contract), reads back, and
    memoizes — no filesystem involved for the output."""
    from artigraph_spark.storage import StringLiteral

    backend = JsonFileBackend(os.path.join(tmp_root, "catalog.json"))
    seed_nums(tmp_root, [1, 2, 3])
    with Graph("g", backend=backend) as g:
        g.artifacts.nums = Num(type=NUM_TYPE, format=JSON(), storage=LocalFile(root=tmp_root))
        g.artifacts.total = SumNums(nums=g.artifacts.nums).out(
            Total(type=at.Int64(), format=JSON(), storage=StringLiteral())
        )
    ex = LocalSparkExecutor(strict_fingerprints=True)
    snap = g.snapshot(strict_fingerprints=True).build(ex)
    assert snap.read(g.artifacts.total, annotation=int) == 6
    # Second build memoizes off the catalog-carried value.
    ex2 = LocalSparkExecutor(strict_fingerprints=True)
    snap2 = g.snapshot(strict_fingerprints=True).build(ex2)
    assert ex2.built_partitions == 0 and ex2.skipped_partitions == 1
    assert snap2.read(g.artifacts.total, annotation=int) == 6


def test_literal_preset_value_cannot_be_written(tmp_root, spark):
    """Reference contract: a literal with a preset value cannot be written —
    discovery would still surface the ORIGINAL value."""
    from artigraph_spark import io
    from artigraph_spark.fingerprint import Fingerprint
    from artigraph_spark.partitions import PartitionKey
    from artigraph_spark.storage import StringLiteral
    from artigraph_spark.views import PythonScalarView

    storage = StringLiteral(value="1")
    part = storage.generate_partition(PartitionKey.not_partitioned(), Fingerprint.empty())
    with pytest.raises(ValueError, match="already set"):
        io.write(2, at.Int64(), JSON(), part, PythonScalarView, spark, storage=storage)


DAY_TYPE = at.Collection(
    element=at.Struct(fields={"value": at.Int64(), "d": at.Int64()}),
    partition_by=("d",),
)
DOC_TYPE = at.Struct(fields={"total": at.Int64()})
DAYS = (1, 2, 3, 4)


class DayTotal(Producer):
    """Sums one day's values into a JSON document; a negative value
    fails the build (the stand-in for a producer bug)."""

    version = SemVer(major=1)

    nums: Num

    def build(self, nums: list) -> dict:
        if any(r["value"] < 0 for r in nums):
            raise ValueError("negative value")
        return {"total": sum(r["value"] for r in nums)}

    def map(self, nums: tuple) -> dict:
        return {p.partition_key: {"nums": (p,)} for p in nums}


class DayDouble(Producer):
    version = SemVer(major=1)

    total: Total

    def build(self, total: dict) -> dict:
        return {"total": 2 * total["total"]}

    def map(self, total: tuple) -> dict:
        return {p.partition_key: {"total": (p,)} for p in total}


def seed_days(root: str, values: dict[int, list[int]]) -> None:
    for d, vals in values.items():
        dirpath = os.path.join(root, f"days/nums/nums/d={d}")
        os.makedirs(dirpath, exist_ok=True)
        with open(os.path.join(dirpath, "part-0.json"), "w") as f:
            json.dump([{"value": v, "d": d} for v in vals], f)


def make_day_graph(root: str, backend, spark) -> Graph:
    storage = LocalFile(root=root)
    with Graph("days", backend=backend, spark=spark) as g:
        g.artifacts.nums = Num(type=DAY_TYPE, format=JSON(), storage=storage)
        g.artifacts.total = DayTotal(nums=g.artifacts.nums).out(
            Total(type=DOC_TYPE, format=JSON(), storage=storage)
        )
        g.artifacts.double = DayDouble(total=g.artifacts.total).out(
            Total(type=DOC_TYPE, format=JSON(), storage=storage)
        )
    return g


def _links(backend, snap: GraphSnapshot, artifact: Artifact) -> set:
    return set(backend.read_snapshot_partitions(snap.snapshot_id, artifact.fingerprint))


def _day_totals(backend, snap: GraphSnapshot, artifact: Artifact) -> dict[int, int]:
    from artigraph_spark import io
    from artigraph_spark.views import PythonScalarView

    return {
        p.partition_key.values()["d"]: io.read(
            artifact.type, artifact.format, artifact.storage, [p], PythonScalarView, None
        )["total"]
        for p in _links(backend, snap, artifact)
    }


def test_noop_rebuild_leaves_catalog_file_alone(tmp_root, spark):
    """A memoized rebuild writes nothing: the catalog file keeps its bytes,
    inode and mtime, and MemoryBackend gives the same counts and links."""
    seed_days(tmp_root, {d: [d, 10 * d] for d in DAYS})
    catalog = os.path.join(tmp_root, "catalog.json")

    def build(backend):
        g = make_day_graph(tmp_root, backend, spark)
        ex = LocalSparkExecutor(strict_fingerprints=True)
        snap = g.snapshot(strict_fingerprints=True).build(ex)
        assert _day_totals(backend, snap, g.artifacts.double) == {d: 22 * d for d in DAYS}
        links = {a: _links(backend, snap, getattr(g.artifacts, a)) for a in ("total", "double")}
        return snap.snapshot_id, (ex.built_partitions, ex.skipped_partitions), links

    def file_state():
        st = os.stat(catalog)
        with open(catalog, "rb") as f:
            return f.read(), st.st_ino, st.st_mtime_ns

    on_file, in_memory = JsonFileBackend(catalog), MemoryBackend()
    assert build(on_file)[1] == (2 * len(DAYS), 0)
    before = file_state()
    rebuilt = build(on_file)
    assert file_state() == before
    assert rebuilt[1] == (0, 2 * len(DAYS))
    assert all(len(parts) == len(DAYS) for parts in rebuilt[2].values())
    assert build(in_memory)[1] == (2 * len(DAYS), 0)
    assert build(in_memory) == rebuilt


def test_catalog_stores_each_path_once_and_noop_rebuild_parses_once(tmp_root, spark, monkeypatch):
    """Each partition path is on disk once per table entry holding it (as
    that entry's key), and a no-op rebuild through a fresh backend parses
    the catalog file at most once."""
    from collections import Counter

    seed_days(tmp_root, {d: [d] for d in DAYS})
    catalog = os.path.join(tmp_root, "catalog.json")
    g = make_day_graph(tmp_root, JsonFileBackend(catalog), spark)
    g.snapshot(strict_fingerprints=True).build(LocalSparkExecutor(strict_fingerprints=True))
    with open(catalog) as f:
        text = f.read()
    state = json.loads(text)
    held = Counter(
        path for table in ("partitions", "links") for store in state[table].values() for path in store
    )
    assert len(held) == 3 * len(DAYS)  # raw, total and double partitions
    assert {path: text.count(json.dumps(path)) for path in held} == held

    loads = []
    real_load = json.load

    def counting_load(f, *args, **kwargs):
        if getattr(f, "name", None) == catalog:
            loads.append(f.name)
        return real_load(f, *args, **kwargs)

    monkeypatch.setattr(json, "load", counting_load)
    ex = LocalSparkExecutor(strict_fingerprints=True)
    make_day_graph(tmp_root, JsonFileBackend(catalog), spark).snapshot(strict_fingerprints=True).build(ex)
    assert (ex.built_partitions, ex.skipped_partitions) == (0, 2 * len(DAYS))
    assert len(loads) <= 1


@pytest.mark.parametrize("executor", [LocalSparkExecutor, ThreadedSparkExecutor])
def test_memoized_partitions_link_before_a_failed_build(tmp_root, spark, executor):
    """Memoized partitions are linked before any partition is built, so a
    producer failing on one key still leaves the others linked to the
    snapshot; the rerun after the fix builds exactly that key."""
    backend = JsonFileBackend(os.path.join(tmp_root, "catalog.json"))
    values = {d: [d, 10 * d] for d in DAYS}
    seed_days(tmp_root, values)
    g = make_day_graph(tmp_root, backend, spark)
    g.snapshot(strict_fingerprints=True).build(executor(strict_fingerprints=True))

    seed_days(tmp_root, {3: [-1]})
    snap = g.snapshot(strict_fingerprints=True)
    ex = executor(strict_fingerprints=True)
    with pytest.raises(ValueError, match="negative value"):
        snap.build(ex)
    assert (ex.built_partitions, ex.skipped_partitions) == (0, len(DAYS) - 1)
    linked = _links(backend, snap, g.artifacts.total)
    assert sorted(p.partition_key.values()["d"] for p in linked) == [1, 2, 4]

    values[3] = [7]
    seed_days(tmp_root, {3: values[3]})
    ex = executor(strict_fingerprints=True)
    snap = g.snapshot(strict_fingerprints=True).build(ex)
    assert (ex.built_partitions, ex.skipped_partitions) == (2, 2 * len(DAYS) - 2)
    assert _day_totals(backend, snap, g.artifacts.double) == {
        d: 2 * sum(vals) for d, vals in values.items()
    }
