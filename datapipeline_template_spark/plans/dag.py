"""Tiny deterministic DAG runner.

The reference relies on two implicit mechanisms: lexicographic file
ordering (`00_config_loader.py:8-11`) and SDP's dependency resolution
from decorator registrations (`01_bronze_ingestion.py:68-74`). We make
the graph explicit: each dataset is a node with declared dependencies.
Like SDP, ``run`` builds nodes that do not depend on each other
concurrently: a node starts on a driver thread as soon as every one of
its dependencies has finished, so independent entity flows overlap
their Spark jobs instead of queueing behind each other. ``topo_order``
stays the stable sequential order (insertion order among ready nodes).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

__all__ = ["Dataset", "Dag"]


@dataclass
class Dataset:
    name: str
    build: Callable[[], object]
    deps: tuple[str, ...] = ()
    kind: str = "batch"  # batch | stream | view


def _inheriting_spark_context(fn: Callable[[], object]) -> Callable[[], object]:
    """``fn`` wrapped to run with the calling thread's Spark local
    properties (job group, job description, scheduler pool) and session
    tags; ``fn`` itself when no SparkContext is active."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    if SparkContext._active_spark_context is None:
        return fn
    session = SparkSession.getActiveSession()
    if session is None:
        return inheritable_thread_target(fn)
    return inheritable_thread_target(session)(fn)


@dataclass
class Dag:
    nodes: dict[str, Dataset] = field(default_factory=dict)

    def add(self, dataset: Dataset) -> None:
        if dataset.name in self.nodes:
            raise ValueError(f"duplicate dataset {dataset.name!r}")
        self.nodes[dataset.name] = dataset

    def topo_order(self) -> list[Dataset]:
        order: list[Dataset] = []
        done: set[str] = set()
        pending = list(self.nodes.values())
        while pending:
            ready = [d for d in pending if all(dep in done for dep in d.deps)]
            if not ready:
                cyc = [d.name for d in pending]
                raise ValueError(f"dependency cycle or missing dep among {cyc}")
            for d in ready:
                order.append(d)
                done.add(d.name)
            pending = [d for d in pending if d.name not in done]
        return order

    def run(self) -> dict[str, object]:
        """Build every node; returns ``{name: build result}`` in topo order.

        A node is submitted to a driver thread pool only once all its
        dependencies have finished, so no thread ever waits on another
        and the pool grows only while more nodes are ready than threads
        are idle. Each build runs with the caller's Spark local
        properties, so a job group or description set around ``run``
        tags the nodes' jobs.

        Failure: a failed node's dependents (transitively) never build;
        nodes on independent branches still run to completion; then
        ``run`` re-raises the first failure's original exception.
        """
        order = self.topo_order()  # validates: no cycle, no missing dep
        waiting = {d.name: set(d.deps) for d in order}
        dependents: dict[str, list[Dataset]] = {d.name: [] for d in order}
        for d in order:
            for dep in d.deps:
                dependents[dep].append(d)
        results: dict[str, object] = {}
        first_error: BaseException | None = None
        with ThreadPoolExecutor(max_workers=max(1, len(order)),
                                thread_name_prefix="dag") as pool:
            running: dict[Future, Dataset] = {}

            def submit(d: Dataset) -> None:
                running[pool.submit(_inheriting_spark_context(d.build))] = d

            for d in order:
                if not d.deps:
                    submit(d)
            while running:
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    d = running.pop(fut)
                    if fut.exception() is not None:
                        first_error = first_error or fut.exception()
                        continue
                    results[d.name] = fut.result()
                    for child in dependents[d.name]:
                        waiting[child.name].discard(d.name)
                        if not waiting[child.name]:
                            submit(child)
        if first_error is not None:
            raise first_error
        return {d.name: results[d.name] for d in order}
