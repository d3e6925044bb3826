"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point and scaled down by
environment for local testing:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting).
- Arrow on (vectorized Python interop for the pandas_udf fast paths).
- ``spark.sql.shuffle.partitions`` small locally; on a real cluster
  AQE's coalescing makes the initial number mostly a ceiling.
- ``MALLOC_ARENA_MAX=2`` in the environment the JVM (and its Python
  workers) start with, unless the caller set it: glibc otherwise gives
  each thread that mallocs its own arena, and the JVM's native memory
  (its Arrow collects among it) grows in arenas it never returns.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "nebuia_vector_db_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Return (or create) a SparkSession with engine defaults.

    On a cluster the caller's spark-submit config wins; locally we
    default to ``local[*]``.
    """
    # Python workers (pandas_udf / mapInArrow) unpickle kernel closures
    # by reference to this package — make it importable on workers even
    # when the driver script runs from elsewhere (on a real cluster,
    # ship it with --py-files; this covers local mode).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )
    # few glibc malloc arenas in the JVM about to launch (module docstring)
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize the Python-worker round trip
        # for the mapInArrow/pandas_udf kernels (GEMM per batch)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python Data Source API: let custom sources receive pushed
        # filters for partition pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark keys Python worker daemons on their env vars, and the
        # SQL Arrow runners (mapInArrow, pandas_udf) add this one while
        # the RDD runner (createDataFrame of a Python list) does not:
        # without it every process runs two daemons and 2 × cores
        # workers. Set for both, they share one pool.
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        builder = builder.master("local[*]")
    return builder.getOrCreate()


def shared_scratch_dir(spark: SparkSession, prefix: str = "scratch") -> str:
    """Allocate a unique directory on CLUSTER-SHARED storage for
    intermediate distributed writes (interchange exports, snapshot
    tables materialized inside a query).

    A driver-local ``tempfile.mkdtemp()`` is wrong for anything an
    *executor* writes: on a real cluster each executor has its own
    local ``/tmp``, so a distributed ``df.write`` under a mkdtemp path
    scatters shards across 1000 machines and a schema-pinned re-read
    on the driver sees an empty or partial directory. Resolution
    order:

    1. ``NVDB_SCRATCH_DIR`` — point at HDFS/S3/NFS scratch in
       production (``hdfs://nn/tmp/nvdb``, ``s3://bucket/scratch``);
    2. ``spark.sql.warehouse.dir`` — shared storage by definition on
       any multi-node deployment, a repo-local dir in local mode.

    ``file:`` URIs are returned as plain OS paths so POSIX-only
    consumers (SnapshotTable's fsync+link commit backend) can use the
    same location. Pair with :func:`remove_scratch` for cleanup.
    """
    import uuid

    base = os.environ.get("NVDB_SCRATCH_DIR") or spark.conf.get(
        "spark.sql.warehouse.dir"
    )
    if base.startswith("file:"):
        # file:/p, file:///p → /p
        base = "/" + base.split(":", 1)[1].lstrip("/")
    return f"{base.rstrip('/')}/_scratch/{prefix}_{uuid.uuid4().hex}"


def posix_scratch_dir(spark: SparkSession, prefix: str = "scratch") -> str:
    """:func:`shared_scratch_dir` restricted to a POSIX filesystem
    path, for consumers whose durability protocol needs POSIX
    semantics — SnapshotTable's commit backend is fsync+link
    (sources/commit_backend.py), which object stores and HDFS don't
    provide. With ``NVDB_SCRATCH_DIR`` pointing at ``hdfs://`` or
    ``s3://`` scratch, a snapshot root resolved through the generic
    helper would fail deep inside a commit on a real cluster (ADVICE
    r9); fail HERE with an actionable message instead. Deployments
    with object-store scratch should set ``NVDB_POSIX_SCRATCH_DIR`` to
    a shared POSIX mount (NFS/Lustre) for snapshot roots."""
    import re

    posix_base = os.environ.get("NVDB_POSIX_SCRATCH_DIR")
    if posix_base:
        import uuid

        path = f"{posix_base.rstrip('/')}/_scratch/{prefix}_{uuid.uuid4().hex}"
    else:
        path = shared_scratch_dir(spark, prefix)
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path):
        raise ValueError(
            f"snapshot scratch must be a POSIX path, got {path!r}: "
            "SnapshotTable's commit backend needs POSIX fsync+link "
            "semantics. Set NVDB_POSIX_SCRATCH_DIR to a cluster-shared "
            "POSIX mount (NFS/Lustre), or keep NVDB_SCRATCH_DIR "
            "POSIX-local for single-node use."
        )
    return path


def remove_scratch(spark: SparkSession, path: str) -> None:
    """Recursively delete a :func:`shared_scratch_dir` allocation.

    Goes through the Hadoop FileSystem API so it works for any scheme
    the cluster can write to (HDFS, S3A, local file), not just the
    driver's local disk.
    """
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:
        # cleanup is best-effort; scratch under _scratch/ is safe to
        # sweep out-of-band
        import shutil

        shutil.rmtree(path, ignore_errors=True)
