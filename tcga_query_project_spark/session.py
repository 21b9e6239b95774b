"""SparkSession builder.

Single-JVM local mode for tests/bench, but every config here is chosen
for cluster-scale behavior: AQE (runtime partition coalescing + skew-join
splitting), explicit shuffle partition count sized to cores, UTC session
timezone (all timestamp semantics in the engine are timezone-proof — see
catalog conventions), and Arrow for any Python boundary crossing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: ceiling of the default driver heap
MAX_DRIVER_MEMORY_MB = 16 * 1024

#: idle poll of py4j's object-release thread, in seconds (py4j's own is 1)
PY4J_RELEASE_POLL_S = 0.02


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half the
    host's physical memory, capped at 16g. In local mode the driver JVM
    holds every executor too, and a heap ceiling above what the host can
    back lets the JVM grow until the kernel OOM-kills it. Falls back to
    the cap where ``/proc/meminfo`` is unavailable (non-Linux hosts)."""
    try:
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    except OSError:
        return f"{MAX_DRIVER_MEMORY_MB}m"
    total_kb = int(meminfo.split("MemTotal:", 1)[1].split()[0])
    return f"{min(MAX_DRIVER_MEMORY_MB, total_kb // 2048)}m"


def prompt_py4j_release() -> None:
    """Release a JVM object as soon as Python drops its handle.

    py4j caches each bound ``JavaMember`` on its ``JavaObject``, and the
    member points back, so every handle that had a method called sits
    in a reference cycle. A finished query's ``Dataset`` handle then
    waits for Python's cycle collector (for a long-lived handle, the
    rare full collection), and until then its plan pins the broadcast
    relations of its joins in the driver heap. After that, PySpark's
    pinned-thread gateway (py4j ``ClientServer``) sends the release
    from a worker thread that sleeps a whole second whenever its queue
    is empty. Left alone, finished plans are freed in bursts, seconds
    or minutes late. Building the member on each access (one small
    object next to a socket round trip) removes the cycle, and a short
    poll removes the second. Both settings are process-wide; the worker
    reads the poll constant on every sleep, so they also hold for a
    gateway that is already running."""
    from py4j import clientserver, java_gateway

    clientserver.DEFAULT_WORKER_SLEEP_TIME = PY4J_RELEASE_POLL_S
    cls = java_gateway.JavaObject
    if getattr(cls.__getattr__, "uncached", False):
        return
    cached = cls.__getattr__

    def __getattr__(self, name):
        member = cached(self, name)
        self._methods.pop(name, None)
        return member

    __getattr__.uncached = True
    cls.__getattr__ = __getattr__


def get_spark(
    app_name: str = "tcga-query-project-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``spark.sql.shuffle.partitions`` defaults to the core count: at test
    scale anything larger just adds scheduling overhead, and at cluster
    scale AQE coalesces post-shuffle partitions anyway.

    ``extra_conf``: per-tool overrides applied last (e.g. bench_stress
    enables the UI to scrape stage spill metrics).
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the engine's catalog spans ~50 distinct plans, each with several
        # codegen units; the default 100-entry generated-class cache
        # thrashes across them (measured 3-12 s re-compile per evicted
        # plan at sf0.1 — compilation, not execution, dominated the
        # bench until the cache was sized to the workload).
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    prompt_py4j_release()
    return builder.getOrCreate()
