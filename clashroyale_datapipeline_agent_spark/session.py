"""SparkSession factory.

Single place where session-level scale knobs live. Tests and the driver both
go through :func:`get_spark` so plans behave identically everywhere.

Scale notes (100 TB design target):
- AQE is on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast decisions replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a real
  cluster set it ~2-3x total cores and let AQE coalesce.
- Arrow is enabled for the few driver-boundary conversions (plots, LLM
  context) and for pandas UDFs (vectorized batch transfer).

Concurrent legs: :func:`run_legs` is the one way the engine overlaps
independent driver-blocking Spark work (staging writes, census collects).
Its contract:

- ``run_legs(spark, {label: thunk})`` returns the thunks' results in the
  dict's order; ``{}`` returns ``[]``.
- One leg runs inline on the caller's thread; two or more run on a pool
  of ``min(8, n)`` threads.
- Every leg's jobs carry the caller's job group (each pooled leg is
  wrapped separately in ``pyspark.inheritable_thread_target``) and the
  job description ``label``, by convention ``query: step``. The
  description the thread had before is restored afterwards.
- Every leg is awaited before anything is raised. One failure re-raises
  that leg's exception unchanged; several raise one ``RuntimeError``
  naming each ``label: repr(error)``, chained from the first.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "clashroyale-datapipeline-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Local test default: ``local[$SPARK_GRAFT_CPUS or *]`` with 32 shuffle
    partitions (matches the 32-thread harness). On a cluster, pass
    ``master=None`` with externally-managed deploy config; the conf below is
    still what we want.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- shuffle & adaptivity -------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- scans ----------------------------------------------------
        # 128 MiB split targets keep ~800k input partitions at 100 TB —
        # fine for a 1000-executor cluster; raise for fewer, larger tasks.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- joins ----------------------------------------------------
        # dimensions (region/nation/part/card metadata) broadcast freely
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python boundary ------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet ships TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read nanos as long session-wide (readers
        # convert with integer `div 1000`)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # quiet local runs
        .config("spark.ui.enabled", "false")
        # in local mode the driver JVM IS the executor: 32 task threads
        # share this heap. 8g caused old-gen pressure once a long-lived
        # session accumulated ~100 queries of broadcasts (10x GC-pause
        # inflation on the shingle-heavy self-joins, measured in bench);
        # the box has 128 GiB, so size the single JVM like the executor
        # fleet it stands in for.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_legs(spark: SparkSession, legs: dict[str, Callable[[], Any]]) -> list:
    """Run independent legs concurrently and return their results in
    ``legs`` order (contract in the module docstring)."""
    sc = spark.sparkContext

    def labelled(label: str, thunk: Callable[[], Any]) -> Callable[[], Any]:
        def leg():
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(label)
            try:
                return thunk()
            finally:
                sc.setJobDescription(prev)

        return leg

    if len(legs) <= 1:
        return [labelled(label, thunk)() for label, thunk in legs.items()]
    # one wrap per leg: a wrap clones the caller's local properties once,
    # so a wrapper shared across threads would share one properties
    # object and the legs' descriptions would overwrite each other
    with ThreadPoolExecutor(max_workers=min(8, len(legs))) as pool:
        futs = [
            pool.submit(inheritable_thread_target(spark)(labelled(label, thunk)))
            for label, thunk in legs.items()
        ]
    # leaving the pool awaited every leg, so no failure is raised while a
    # sibling is still running
    errors = [
        (label, e)
        for label, f in zip(legs, futs)
        if (e := f.exception()) is not None
    ]
    if len(errors) == 1:
        raise errors[0][1]
    if errors:
        raise RuntimeError(
            f"{len(errors)} of {len(legs)} legs failed: "
            + "; ".join(f"{label}: {e!r}" for label, e in errors)
        ) from errors[0][1]
    return [f.result() for f in futs]
