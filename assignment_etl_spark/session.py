"""SparkSession factory with the engine's scale-oriented defaults.

Design notes (100 TB target, tested on local[*]):
- Session timezone is pinned to UTC: the engine normalizes all timestamps to
  UTC at parse time (reference keeps mixed-tz python objects,
  /root/reference/etl.py:115-119 — documented deviation, SURVEY §1.3).
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting are
  the first line of defense at scale; local shuffle reader avoids needless
  exchanges for broadcast-converted joins.
- Arrow on: every pandas_udf / mapInPandas / toPandas crossing is
  Arrow-batched.
- spark.sql.shuffle.partitions: a *local* default only. On a real cluster
  AQE's coalesceShufflePartitions makes the static number mostly irrelevant
  (set initialPartitionNum high and let AQE shrink).
- DataFrame call-site tracking off
  (``spark.python.sql.dataFrameDebugging.enabled=false``, a static conf,
  so it is fixed when the session is built). When on, every PySpark
  Column/DataFrame call asks the JVM for the active session and sets and
  clears a Python call site around the call: one ``run_etl(ri_audit=True)``
  build made 9,087 py4j commands with it on and 4,357 with it off
  (5k rows per source, 4-core host, counted by wrapping py4j's
  ``ClientServerConnection.send_command``, not counting the object-release
  messages py4j sends as Python frees proxies), and its build time fell
  from 1.6-2.2 s to 1.0-1.6 s. PySpark also latches the setting
  process-wide on first use, reading it as off when that first use is on
  a thread with no active session (``run_etl``'s build threads): fixing it
  here keeps the behaviour the same whichever thread comes first.
  Trade-off: an error raised by a DataFrame no longer names the Python
  file and line in its query context, only the JVM-side plan fragment. A
  debugging session can turn it back on by passing
  ``{"spark.python.sql.dataFrameDebugging.enabled": "true"}`` as
  ``extra_conf`` to the first ``get_spark`` call of the process and
  building one Column expression (``F.col("x") + 1``) on that thread
  before ``run_etl``, so the latch reads the conf.
- Spark's codegen cache holds 1,000 classes
  (``spark.sql.codegen.cache.maxEntries``, a static conf; Spark's default
  is 100), a constant because the size follows from the ETL, not from the
  host or the data size: ten times what one ETL run needs, leaving room
  for the other queries a long-lived session runs. ``CodeGenerator`` keys
  each compiled class on (context class loader, source) in a size-bounded
  Guava cache, which may evict before it is full. A whole-stage class
  compiles once on the driver and again under the executor tasks' class
  loader, so it can take two entries. A cold ``run_etl(ri_audit=True)`` +
  ``write_parquet_store`` run compiles 100 classes; a debug-logged one
  showed 74 distinct sources, 26 of them compiled twice (25 whole-stage
  iterators and one projection). At the default size every warm run in a
  long-lived session recompiled classes it had compiled before, none of
  them new; at 1,000 a warm run compiles none
  (``tests/test_codegen_reuse.py`` counts them through
  ``internals.codegen_compiles``; CHANGES.md records the counts). A cached
  class stays loaded, so Metaspace grows with the cache: after the
  110-query headline bench at sf0.1 (``bench.py``, 4-core host) it held
  210-213 MB against 201-202 MB at the default size, while the run
  compiled 1,736-1,752 classes instead of 2,889-2,956.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _mem_bytes(spec: str) -> int:
    """'2g' / '512m' / '24g' → bytes (JVM -Xmx spec subset)."""
    spec = spec.strip().lower()
    mult = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}.get(spec[-1], 1)
    return int(spec[:-1] if spec[-1] in "kmgt" else spec) * mult


def broadcast_threshold_bytes(heap_spec: str) -> int:
    """Broadcast budget scaled to the executor heap: min(64 MB, heap/100).

    A broadcast-hash relation expands ~5-10× over its on-wire estimate
    (boxed rows + hash table), is pinned on-heap per executor, and is the
    ONE join input Spark cannot spill — so the threshold must be a
    function of the heap, not a constant. 64 MB (the engine's historical
    setting) is right for the default 24 g sandbox heap but lethal at
    2 g: the r12 memory-pressure sweep measured `negative_sample_parts`
    OOM at sf10/2g because a 2M-row item index estimated at ~32 MB
    (< 64 MB → static BHJ) hashed into hundreds of on-heap MB. heap/100
    keeps the expanded relation ~a few percent of the heap: 2 g → ~21 MB
    (the index shuffle-joins and spills instead), ≥ 6.4 g → the 64 MB
    cap (plans unchanged on the default config, bench unaffected)."""
    return min(64 * 2**20, _mem_bytes(heap_spec) // 100)


def get_spark(
    app_name: str = "assignment-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]``; on a cluster, pass
    ``master=None`` with an external cluster manager config.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    parts = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            str(broadcast_threshold_bytes(
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
            )),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # parquet timestamp policy (mirrors __spark_entry__._prep): µs-NTZ
        # columns read as instants; TIMESTAMP(NANOS) surfaces as a long
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # static: no Python call site per Column call (design notes)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # static: one ETL run's generated classes stay cached (design notes)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()

