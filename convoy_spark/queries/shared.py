"""Session-shared builds: one expensive frame (or tuple of frames)
built once per (session, sf_dir) and read by many catalog queries —
the tree descendant pairs, the verified LSH pair graph, the PQ/IVF
indexes, the LPA label frames and the k-NN graph.

Each build's getter is declared once with :func:`shared_build`, next
to its definition; importing ``convoy_spark.queries`` fills
:data:`SHARED_BUILDS`. ``bench.py`` times each build and totals its
family from that table, and ``tests/test_shared_builds.py`` checks the
declared consumers against the getter calls in the query code.

Eviction is by applicationId: entries from STOPPED sessions hold
localCheckpointed DataFrames whose blocks are gone, so on every miss
we drop every entry whose applicationId differs from the live
session's — the current session's frames are never evicted (they are
exactly the ones amortizing the build), and nothing from a dead
session outlives the first build in a new one.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")
Getter = Callable[[SparkSession, str], object]


@dataclass(frozen=True)
class SharedBuild:
    name: str
    family: str  # the bench family subtotal this build is counted in
    getter: Getter
    consumers: frozenset[str]  # catalog queries that read the build

    def materialize(self, spark: SparkSession, sf_dir: str) -> None:
        """Build (or fetch) and noop-write the frame, or each frame of
        a tuple, so consumers read materialized blocks."""
        built = self.getter(spark, sf_dir)
        for frame in built if isinstance(built, tuple) else (built,):
            frame.write.format("noop").mode("overwrite").save()


SHARED_BUILDS: dict[str, SharedBuild] = {}


def shared_build(
    name: str, family: str, consumers: set[str]
) -> Callable[[Getter], Getter]:
    """Register ``getter(spark, sf_dir)`` as a shared build; the getter
    itself is returned unchanged."""

    def deco(getter: Getter) -> Getter:
        if name in SHARED_BUILDS:
            raise ValueError(f"duplicate shared build: {name}")
        SHARED_BUILDS[name] = SharedBuild(name, family, getter, frozenset(consumers))
        return getter

    return deco


def session_cached(
    cache: dict,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], T],
) -> T:
    """``build()``'s result, built once per (applicationId, sf_dir).
    The build checkpoints its own frames."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir)
    if key not in cache:
        for stale in [k for k in cache if k[0] != app]:
            del cache[stale]
        cache[key] = build()
    return cache[key]


# perfbench/trace.py looks the cache up under this name as well.
session_cached_obj = session_cached

__all__ = ["SHARED_BUILDS", "SharedBuild", "session_cached", "shared_build"]
