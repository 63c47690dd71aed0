"""SparkSession factory for the engine.

Replaces the reference's connection/resource factory
(``/root/reference/dagster_repository/resources.py:11-26``): one configured
handle injected into every operator, rather than a per-run engine. All
engine-wide physical-execution knobs live here so every entry point (tests,
bench, driver harness, streaming jobs) runs with the same, deliberate
configuration.

Scale notes (targeting a multi-executor cluster even though we test on
``local[N]``):

* AQE is on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast selection replace hand-tuned shuffle sizing.
* ``spark.sql.shuffle.partitions`` defaults to a small value locally but
  should be left to AQE + cluster defaults (or set ~2-3x total cores) on a
  real deployment; callers can override.
* Parquet filter pushdown + vectorized reads stay enabled - the operators
  in this package are written declaratively precisely so Catalyst can use
  them.
* Runtime Bloom-filter join reduction (``spark.sql.optimizer.runtime.
  bloomFilter.*``) is left at defaults: it only engages when the
  application-side scan exceeds 10 GiB, i.e. never at test scale but
  automatically on the 100 TB deployment, where it prunes the probe side
  of large joins (e.g. lineitem rows whose orderkey misses the filtered
  orders set) before the shuffle. Verified to fire and stay correct with
  the threshold lowered at a 24M-row fixture; not lowered by default
  because local same-JVM shuffles are memory-speed and the measured local
  gain is noise.
* ``spark.sql.legacy.parquet.nanosAsLong`` is required because the driver
  testdata's ``events.ts`` column is parquet TIMESTAMP(NANOS), which Spark
  otherwise refuses to read; :mod:`reactive_data_pipeline_spark.sources`
  normalizes the long nanoseconds back to a timestamp column.
* Python workers fork from :mod:`reactive_data_pipeline_spark.daemon`
  (``spark.python.daemon.module``) instead of ``pyspark.daemon``. Every
  Python task calls ``importlib.invalidate_caches()``, and on CPython
  3.11 that re-reads the central directory of each zip archive on the
  worker's path - 16 cached importers over ``pyspark.zip``, py4j and the
  spark-core jar, 26,672 entries, 0.27-0.44 s per task. The engine's
  daemon re-reads an archive only when its mtime or size changed (pinned
  by ``tests/test_engine_assumptions.py``, assumption 5).
  Workers already import this package to unpickle the engine's pandas
  UDFs, so this adds no import requirement: the package must be
  importable by the executors' Python at daemon start. The daemon starts
  with ``python -m`` before any ``addPyFile`` path reaches ``sys.path``,
  so local sessions put the package's parent directory on the workers'
  ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), which makes them
  independent of the working directory. On a cluster master the package
  must be installed on every executor (ENGINEERING.md).
* Local sessions read and write ``file:`` paths through
  :mod:`reactive_data_pipeline_spark.jvm`'s Hadoop filesystems
  (``fs.file.impl`` and ``fs.AbstractFileSystem.file.impl``, classes on
  ``spark.driver.extraClassPath``). Without the native Hadoop library
  (not loaded by this Spark build; ``tests/test_engine_assumptions.py``
  assumption 6) the stock local filesystem forks ``chmod`` for every
  file create and mkdir and ``readlink`` for every FileContext rename,
  3-4 ms each on a 4-vCPU host: a streaming
  trigger's offset log, commit log, state-store files and sink parquet
  parts all pay it. The engine's classes set permissions through
  ``java.nio`` and skip ``readlink`` for paths that are not symlinks;
  ``.crc`` sidecars, umask-applied modes and rename semantics are
  Hadoop's own. The classes are compiled from source with ``javac`` on
  first use; without ``javac`` the session keeps the stock filesystem
  (correct, slower) and logs one warning. Vanilla sessions, cluster
  masters and ``local-cluster`` (separate executor JVMs) are untouched.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import jvm

#: The directory holding this package, on local workers' PYTHONPATH.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Engine-wide defaults; applied by :func:`get_spark`.
ENGINE_CONF: dict[str, str] = {
    # Deterministic wall-clock semantics: all naive timestamps in the
    # testdata are treated as UTC; Asia/Bangkok day bucketing (the
    # reference's partition timezone, dagster_repository/schedules.py:10)
    # is applied explicitly by functions.datetime_ops.bangkok_day.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: coalesce post-shuffle partitions, split skewed
    # joins, convert to broadcast when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Scan efficiency.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # events.parquet stores TIMESTAMP(NANOS); see module docstring.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for the few pandas-UDF operators (multimodal,
    # fingerprints, the dense similarity kernel); everything else stays
    # JVM-side.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python workers skip the per-task zip re-read; see module docstring.
    "spark.python.daemon.module": "reactive_data_pipeline_spark.daemon",
    # Streaming: allow stateful operators to be chained after aggregations.
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
}


def get_spark(
    app_name: str = "reactive-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured - on a real cluster, submit with
    ``--master`` and pass ``master=None``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    if master and master.startswith("local"):
        # Local mode: the driver JVM IS the executor, and its default
        # -Xmx is 1g regardless of machine size - measured at 10x bench
        # volume, accumulated broadcast/shuffle state across queries
        # OOMs a 1g heap ("Not enough memory to build and broadcast")
        # while the host sits on >100 GiB free. Size the heap like a
        # real executor; only effective at JVM launch (getOrCreate
        # reuse and cluster submits are untouched), and explicit
        # extra_conf/env still wins.
        conf.setdefault(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif master and master.startswith("local["):
        # Local mode: one shuffle partition per core avoids tiny-task
        # overhead; AQE coalesces further. On a cluster leave the default.
        n = master.removeprefix("local[").removesuffix("]")
        conf.setdefault(
            "spark.sql.shuffle.partitions", "32" if n == "*" else str(max(int(n), 1))
        )
    if extra_conf:
        conf.update(extra_conf)
    if master and master.startswith("local"):
        # Same host: the workers import the package from where the
        # driver did.
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(filter(None, [conf.get(key), _PACKAGE_PARENT]))
    if master and (master == "local" or master.startswith("local[")):
        # One JVM: the driver's class path is the executors'.
        _use_fork_free_fs(conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _use_fork_free_fs(conf: dict[str, str]) -> None:
    """Select the engine's ``file:`` filesystems in ``conf`` (see module
    docstring), unless they cannot be built or the driver JVM was
    launched without them; explicit settings win."""
    classes = jvm.classes_dir()
    if classes is None:
        return
    # The class path is fixed at JVM launch.
    if SparkContext._jvm is not None:
        if classes not in SparkContext._jvm.java.lang.System.getProperty("java.class.path"):
            return
    elif "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started the JVM before this process.
        return
    key = "spark.driver.extraClassPath"
    conf[key] = os.pathsep.join(filter(None, [conf.get(key), classes]))
    conf.setdefault("spark.hadoop.fs.file.impl", jvm.FILE_SYSTEM)
    conf.setdefault("spark.hadoop.fs.AbstractFileSystem.file.impl", jvm.ABSTRACT_FILE_SYSTEM)
