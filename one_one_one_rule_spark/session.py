"""SparkSession factory.

Conventions (SURVEY.md §1, §4):
  - session timezone pinned to UTC so business-date / run-timestamp logic is
    deterministic (reference computes dates with explicit tz objects,
    pipeline_job.py:85-95);
  - AQE on: runtime coalescing, skew-join splitting, and dynamic broadcast
    selection are the scale story for the join/agg surface;
  - Arrow on: any pandas-interop boundary (mapInPandas/applyInPandas, toPandas)
    is batched, never row-at-a-time;
  - streaming checkpoints written through the FileSystem-based checkpoint
    manager. Without ``libhadoop`` (the usual state of a pip-installed
    PySpark: every JVM start logs "Unable to load native-hadoop library")
    Hadoop's local filesystem answers link and permission calls by forking
    a shell command. Spark's default FileContext manager renames each
    temp file through ``AbstractFileSystem.rename``, whose
    ``getFileLinkStatus`` forks ``readlink`` about four times per rename,
    and every offset/commit-log entry and state-store delta is one rename.
    ``FileSystem.rename`` on the local filesystem is a plain atomic
    ``rename(2)``. A JFR ``jdk.ProcessStart`` recording over 5 passes of
    the three benchmark streaming gates (15 ops, ``local[4]``, 4 vCPUs)
    counted 3,605 spawns with the FileContext manager (2,520
    ``readlink``, 1,070 ``chmod``, 15 ``rm``) and 1,085 with this one
    (no ``readlink``). The ``chmod`` forks come from file creates and
    mkdirs, which have no Java fallback in Hadoop 3.4. Trade-offs: for a
    no-overwrite rename (offset and commit logs) the FileSystem manager
    checks that the target is absent and then renames, where FileContext
    does one atomic no-overwrite rename. That is safe for a checkpoint
    with one writer, which every gate has (a fresh per-process temp
    dir); on HDFS the FileSystem rename is atomic too. For an
    overwrite-allowed write (state-store deltas) onto a file that exists,
    which happens only when a batch is retried after its first attempt
    committed its state, the ``file:`` FileSystem (Hive's
    ``ProxyLocalFileSystem``, registered by PySpark's bundled Hive jars)
    refuses to rename over the target: the manager keeps the first
    attempt's file and leaves the retry's ``.tmp`` file beside it. A
    replayed batch must rebuild the same state for exactly-once anyway;
    ``test_failed_batch_is_retried_exactly_once_on_restart`` covers
    that path. Checkpoint checksums stay on.
  - Python workers forked from ``worker_daemon``, not ``pyspark.daemon``.
    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task, and on
    CPython before 3.13 each zipimporter then re-parses its archive's
    directory in pure Python. A worker holds one zipimporter per package
    it imported from ``pyspark.zip`` (1,328 entries): counted inside the
    workers of a 16-task ``mapInPandas`` at ``local[4]`` (4 vCPUs), each
    task re-read it 16 times, which cost ~0.25 s of Python CPU per task
    whatever its row count. The daemon keeps an archive's directory while
    its ``(st_mtime_ns, st_size, st_ino)`` is the one it was read at, and
    re-reads it otherwise, so an ``addPyFile`` zip replaced under the same
    name is still seen. In that run the re-reads went 16 → 0 per task,
    Python CPU per task 0.25 → 0.04 s and the action's wall time
    1.4-1.7 → 0.5 s. The guard installs only where
    ``zipimport.zipimporter`` has no ``_get_files`` (CPython 3.13 made the
    re-read lazy) and has no switch. Spark starts the daemon with
    ``python -m``, so ``get_spark`` puts the package's parent directory
    on the workers' path (``spark.executorEnv.PYTHONPATH``, merged after
    Spark's own ``pyspark.zip``); on a cluster deploy the package must be
    importable at that path on every executor, or no Python worker starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "one_one_one_rule_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine conventions applied.

    ``master`` defaults to the environment: ``local[$SPARK_GRAFT_CPUS]`` when
    set, otherwise whatever the cluster deploy provides (spark-submit) or
    ``local[*]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)

    conf = {
        # In local[] mode the driver JVM IS the executor: Spark's 1g
        # default heap forces constant GC once a long session accumulates
        # localCheckpoint blocks + codegen caches across hundreds of
        # plans. Sized for this harness's box; honored only at JVM launch
        # (getOrCreate reuse ignores it), env-overridable for small hosts.
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "8g"
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # parquet scans: vectorized reader + pushdown are defaults, pinned
        # here so a misconfigured deploy can't silently disable them.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        # rename checkpoint temp files with FileSystem.rename, which forks
        # no readlink shell on a local filesystem without libhadoop; see
        # the module docstring for the counts and the trade-off
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        # fork Python workers from a daemon whose zipimporters skip
        # re-reading unchanged archives at every task; see the module
        # docstring. Spark merges this PYTHONPATH after its own
        # pyspark.zip, so the daemon imports from any working directory.
        "spark.python.daemon.module": "one_one_one_rule_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
