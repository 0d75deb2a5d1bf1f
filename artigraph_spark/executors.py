"""Executor: topo-ordered incremental build with partition memoization.

Parity with /root/reference/src/arti/executors/: the build loop walks
producers in topological order; for each output PartitionKey it computes the
input fingerprint (code ⊕ version ⊕ input contents) and SKIPS the build if
an output partition with that (key, input_fingerprint) already exists in the
backend — the content-addressed memoization that is the engine's core
value-add (executors/__init__.py:34-105, proven by
tests/arti/graphs/test_graph.py:259-327).

Spark-native: producer bodies receive lazy DataFrames (or driver-local
scalars per their declared views); each build/write is a Spark job. The
loop itself is driver-side metadata work — at 100 TB the data plane never
transits the driver.
"""

from __future__ import annotations

import inspect
import threading
from typing import Any, get_type_hints

from artigraph_spark import io
from artigraph_spark.graphs import GraphSnapshot
from artigraph_spark.partitions import PartitionKey
from artigraph_spark.producers import Producer
from artigraph_spark.storage import StoragePartition
from artigraph_spark.views import View, view_for_annotation


class BuildError(RuntimeError):
    pass


class LocalSparkExecutor:
    """Sequential driver loop (parallelizable across independent producers
    later; each producer body is already cluster-parallel)."""

    def __init__(self, *, strict_fingerprints: bool = False) -> None:
        self.strict = strict_fingerprints
        self.built_partitions = 0
        self.skipped_partitions = 0
        self._lock = threading.Lock()  # counter safety for threaded subclass

    def build(self, snapshot: GraphSnapshot) -> None:
        graph = snapshot.graph
        for producer, outputs in graph.build_order():
            self._build_producer(snapshot, producer, outputs)

    def _build_producer(
        self, snapshot: GraphSnapshot, producer: Producer, outputs: dict[int, str]
    ) -> None:
        graph = snapshot.graph
        backend = graph.backend
        input_partitions = {
            name: tuple(
                backend.read_snapshot_partitions(snapshot.snapshot_id, artifact.fingerprint)
            )
            for name, artifact in producer.inputs().items()
        }
        for name, parts in input_partitions.items():
            if not parts:
                raise BuildError(
                    f"{type(producer).__name__} input {name!r} has no partitions "
                    f"for this snapshot — upstream build missing?"
                )
        dependencies = producer.map(**input_partitions)
        output_artifacts = {
            pos: graph._artifacts[key] for pos, key in sorted(outputs.items())
        }
        # One memo probe per output, indexed by (partition key, input
        # fingerprint): a probe per key would parse every partition of the
        # artifact each time, quadratic in partitions.
        memo: dict[int, dict[tuple[PartitionKey, int | None], list[StoragePartition]]] = {}
        for pos, artifact in output_artifacts.items():
            index = memo[pos] = {}
            for p in backend.read_artifact_partitions(artifact.fingerprint):
                index.setdefault((p.partition_key, p.input_fingerprint.key), []).append(p)
        memoized: dict[int, list[StoragePartition]] = {pos: [] for pos in output_artifacts}
        to_build = []
        for partition_key, dep_inputs in dependencies.items():
            input_fp = producer.compute_input_fingerprint(dep_inputs)
            hits = {pos: index.get((partition_key, input_fp.key)) for pos, index in memo.items()}
            if all(hits.values()):
                for pos, parts in hits.items():
                    memoized[pos].extend(parts)
            else:
                to_build.append((partition_key, dep_inputs, input_fp))
        # Memoized: link every existing partition to this snapshot in one
        # call per output, before any build can fail, and skip them.
        for pos, artifact in output_artifacts.items():
            if memoized[pos]:
                backend.link_snapshot_partitions(
                    snapshot.snapshot_id, artifact.fingerprint, memoized[pos]
                )
        with self._lock:
            self.skipped_partitions += len(dependencies) - len(to_build)
        for partition_key, dep_inputs, input_fp in to_build:
            self._build_partition(
                snapshot, producer, dep_inputs, partition_key, input_fp, output_artifacts
            )
            with self._lock:
                self.built_partitions += 1

    def _build_partition(
        self,
        snapshot: GraphSnapshot,
        producer: Producer,
        dep_inputs: dict[str, tuple[StoragePartition, ...]],
        partition_key: PartitionKey,
        input_fp: Any,
        output_artifacts: dict[int, Any],
    ) -> None:
        graph = snapshot.graph
        views = _build_param_views(producer)
        inputs = {}
        for name, parts in dep_inputs.items():
            artifact = producer.inputs()[name]
            inputs[name] = io.read(
                artifact.type,
                artifact.format,
                artifact.storage,
                list(parts),
                views[name],
                graph.spark,
            )
        result = producer.build(**inputs)
        results = result if isinstance(result, tuple) else (result,)
        if len(results) != len(output_artifacts):
            raise BuildError(
                f"{type(producer).__name__} returned {len(results)} outputs, "
                f"expected {len(output_artifacts)}"
            )
        ok, msg = producer.validate_outputs(*results)
        if not ok:
            raise BuildError(f"{type(producer).__name__} validate_outputs failed: {msg}")
        # A statistics gate is an extra full action over the result's lazy
        # plan; persist such results so the gate and the write share one
        # lineage computation instead of running it twice.
        from pyspark.sql import DataFrame

        results = list(results)
        persisted = []
        for pos, artifact in output_artifacts.items():
            if artifact.statistics and isinstance(results[pos], DataFrame):
                results[pos] = results[pos].persist()
                persisted.append(results[pos])
        try:
            for pos, artifact in output_artifacts.items():
                self._check_statistics(artifact, results[pos], producer)
                snapshot.write(
                    results[pos],
                    artifact,
                    partition_key=partition_key,
                    input_fingerprint=input_fp,
                    strict_fingerprint=self.strict,
                )
        finally:
            for df in persisted:
                df.unpersist()

    def _check_statistics(self, artifact: Any, result: Any, producer: Producer) -> None:
        """The reference's stubbed statistics/threshold hook
        (executors/local.py:26-29), for real: one agg pass, gate the write."""
        from pyspark.sql import DataFrame

        from artigraph_spark import statistics as st

        if not artifact.statistics or not isinstance(result, DataFrame):
            return
        res = st.evaluate(result, tuple(artifact.statistics))
        if not res.ok:
            raise BuildError(
                f"{type(producer).__name__} output failed statistics thresholds: "
                + "; ".join(res.failures)
            )


class ThreadedSparkExecutor(LocalSparkExecutor):
    """Topological executor running INDEPENDENT producers concurrently.

    The reference's sequential loop is an acknowledged TODO
    (/root/reference/src/arti/executors/local.py:14-16); here ready
    producers are submitted to a thread pool — each thread drives its own
    Spark jobs (Spark's scheduler interleaves them across the cluster), so
    a wide graph keeps the cluster busy instead of serializing whole
    subtrees. Counters and backend mutations are lock-protected; partition
    memoization semantics are identical to the sequential executor.
    """

    def __init__(self, *, strict_fingerprints: bool = False, max_workers: int = 4) -> None:
        super().__init__(strict_fingerprints=strict_fingerprints)
        self.max_workers = max_workers

    def build(self, snapshot: GraphSnapshot) -> None:
        import graphlib
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        graph = snapshot.graph
        deps = graph.dependencies()
        # Collapse the artifact nodes: producer -> set of upstream producers.
        # Memoized per node — the graph is sealed and acyclic, and without
        # the memo a diamond-dense DAG re-walks every root-to-node path
        # (exponential planning time before any build starts).
        memo: dict[str, set[str]] = {}

        def upstream_producers(node: str) -> set[str]:
            cached = memo.get(node)
            if cached is not None:
                return cached
            out: set[str] = set()
            for dep in deps.get(node, ()):
                if dep.startswith("producer:"):
                    out.add(dep)
                else:
                    out |= upstream_producers(dep)
            memo[node] = out
            return out

        producer_nodes = {n for n in deps if n.startswith("producer:")}
        pgraph = {n: upstream_producers(n) for n in producer_nodes}
        by_node = {
            f"producer:{fp}": entry for fp, entry in graph._producers.items()
        }

        ts = graphlib.TopologicalSorter(pgraph)
        ts.prepare()
        errors: list[Exception] = []
        with ThreadPoolExecutor(max_workers=self.max_workers) as pool:
            futures = {}
            while ts.is_active():
                for node in ts.get_ready():
                    producer, outputs = by_node[node]
                    futures[pool.submit(self._build_producer, snapshot, producer, outputs)] = node
                if not futures:
                    break
                done, _ = wait(futures, return_when=FIRST_COMPLETED)
                for f in done:
                    node = futures.pop(f)
                    exc = f.exception()
                    if exc is not None:
                        errors.append(exc)
                    ts.done(node)
                if errors:
                    for f in futures:
                        f.cancel()
                    break
        if errors:
            raise errors[0]


def _build_param_views(producer: Producer) -> dict[str, type[View]]:
    build = type(producer).build
    try:
        hints = get_type_hints(build)
    except NameError:
        # PEP 563 strings evaluated against the wrong globals (e.g. a
        # @producer-wrapped function): fall back to the raw annotations —
        # view_for_annotation handles live types; strings fail loudly below.
        hints = dict(getattr(build, "__annotations__", {}))
    views = {}
    for name in producer._input_names:
        ann = hints.get(name, inspect.Parameter.empty)
        views[name] = view_for_annotation(ann)
    return views
