"""SparkSession factory tuned for the sandbox (local[N]) and for scale.

At 100 TB on a real cluster the same builder applies minus ``local`` master:
AQE handles runtime coalescing + skew joins, shuffle partitions are sized by
the driver submit script, and Arrow is on for every pandas-UDF stage.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

#: the largest share of physical RAM the driver heap may claim. In local
#: mode the executors run inside the driver JVM, and the JVM's off-heap
#: memory, the Python workers and their Arrow buffers need the rest.
MAX_HEAP_FRACTION = 0.6

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def capped_driver_memory(requested: str, phys_bytes: int) -> str:
    """``requested`` (a ``spark.driver.memory`` value: ``16g``, ``4096m``,
    a bare number of MiB) if it fits in :data:`MAX_HEAP_FRACTION` of
    ``phys_bytes``, else that cap in whole MiB."""
    s = requested.strip().lower().removesuffix("b")
    if s[-1:] in _UNITS:
        want = int(s[:-1]) * _UNITS[s[-1]]
    else:
        want = int(s) << 20
    cap_mib = int(phys_bytes * MAX_HEAP_FRACTION) >> 20
    return requested if want <= cap_mib << 20 else f"{cap_mib}m"


def get_spark(
    app_name: str = "bop-consus-importing-rdf-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to
    1× the core count: re-measured round 2 on the KG pipeline at 32 cores,
    parts=32 beats parts=96 (9.5s vs 11.9s) and split_datasets prefers it
    even more (~25s vs ~35s) — per-exchange file/stream overhead outweighs
    straggler smoothing at these volumes, and AQE's skew-join splitting
    covers the hot keys that the 3× rule was guarding against. On a real
    cluster the submit script sizes this by data volume instead.

    The driver heap is ``SPARK_DRIVER_MEM`` (default ``8g``), capped at
    :data:`MAX_HEAP_FRACTION` of physical RAM; a cap that binds is logged.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    requested = os.environ.get("SPARK_DRIVER_MEM", "8g")
    heap = capped_driver_memory(
        requested, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    if heap != requested:
        logging.getLogger(__name__).warning(
            "spark.driver.memory %s exceeds %.0f%% of physical RAM; "
            "capped at %s", requested, MAX_HEAP_FRACTION * 100, heap,
        )
    n_shuffle = shuffle_partitions or (cores or os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    return builder.getOrCreate()
