"""SparkSession factory with scale-oriented defaults.

Defaults mirror what we would deploy on a real cluster (AQE on,
adaptive coalescing, skew-join handling, Arrow for the few Python
stages); only ``master``/parallelism differ between local tests and a
1000-executor deployment.
"""

from __future__ import annotations

import os
import re
import warnings

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: Local mode runs every executor thread inside the driver JVM, so its
#: heap is the whole "cluster's" memory. The default takes this share
#: of the host's physical memory: the rest is left to the JVM's own
#: off-heap use, the Python workers and the OS. A fixed heap larger than
#: the host lets the JVM grow past physical memory instead of
#: collecting garbage, and the kernel kills it.
DRIVER_MEM_SHARE = 0.5
DRIVER_MEM_FLOOR_MB = 1024

#: A JVM ``-Xmx`` size: a positive integer with a k/m/g/t unit.
_JVM_SIZE = re.compile(r"[1-9][0-9]*[kKmMgGtT]")


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``DRIVER_MEM_SHARE`` of the host's ``MemTotal``, in MiB, at least
    ``DRIVER_MEM_FLOOR_MB``. Hosts without ``/proc/meminfo`` fall back
    to the physical page count."""
    try:
        with open(meminfo) as fh:
            kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        kib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return f"{max(DRIVER_MEM_FLOOR_MB, int(kib * DRIVER_MEM_SHARE) // 1024)}m"


def _positive_int_env(name: str) -> int | None:
    """The value of env var ``name`` as a positive int, ``None`` when
    unset or empty; raise ``ValueError`` naming the variable otherwise."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return None
    if not (raw.isascii() and raw.isdigit()) or int(raw) < 1:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return int(raw)


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` when set (validated as a JVM size),
    else :func:`default_driver_memory`."""
    raw = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "").strip()
    if not raw:
        return default_driver_memory()
    if not _JVM_SIZE.fullmatch(raw):
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM must be a JVM size such as 8g or 4096m, got {raw!r}"
        )
    return raw


def get_spark(
    app_name: str = "data-ingestion-task-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all
    cores). Shuffle partitions default to ~2x local cores, bounded to
    [8, 64] locally; on a real cluster this is instead sized to
    data volume / target partition size (~128 MB) and AQE coalesces.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides the driver heap (default:
    :func:`default_driver_memory`), ``SPARK_GRAFT_CODEGEN_CACHE`` the
    generated-class cache size. Every knob is validated before the
    session is built: a bad value raises ``ValueError`` naming it.

    When a SparkContext is already running in this process,
    ``getOrCreate`` attaches to it and the static confs (driver memory,
    codegen cache) keep the values that context started with; a warning
    says so.
    """
    cpus = _positive_int_env("SPARK_GRAFT_CPUS")
    codegen_cache = _positive_int_env("SPARK_GRAFT_CODEGEN_CACHE") or 8192
    driver_mem = _driver_memory()
    if master is None:
        master = f"local[{cpus or '*'}]"
    if shuffle_partitions is None:
        ncpu = cpus or os.cpu_count() or 8
        shuffle_partitions = max(8, min(64, 2 * ncpu))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Generated-class cache (default 100 entries): several single
        # queries here emit MORE codegen units than that by themselves
        # (measured: dedup_cluster_star 198, ivfpq_recall_audit 145,
        # curated_corpus_audit 104 — AQE materializes one unit per
        # query stage), so identical generated code is Janino-compiled
        # over and over within one session — measured 1329 recompiles
        # vs 50 on a 20-query pass, 116-120s vs 90-101s wall
        # (order-reversed A/B, plans/r13/codegen_cache_ab.json). Any
        # long-lived session running many plans (a 100 TB pipeline's
        # driver as much as this bench) wants the cache to cover its
        # working set; entries are compiled classes, not data. This is a
        # STATIC conf: a getOrCreate that attaches to a running session
        # keeps that session's value (see the warning below).
        .config("spark.sql.codegen.cache.maxEntries", str(codegen_cache))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Quieter local runs; harmless on a cluster.
        .config("spark.ui.enabled", "false")
        # Local mode runs every executor thread in the driver JVM, so
        # the heap is sized from the host (DRIVER_MEM_SHARE); on a real
        # cluster this is per-executor memory instead.
        .config("spark.driver.memory", driver_mem)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if SparkContext._active_spark_context is not None:
        warnings.warn(
            "get_spark attached to a running SparkContext: static confs "
            "(spark.driver.memory, spark.sql.codegen.cache.maxEntries) keep "
            "the values that context started with",
            stacklevel=2,
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
