"""Session defaults (session.get_spark)."""

from __future__ import annotations

import os


def test_arrow_and_rdd_jobs_share_one_worker_daemon(spark):
    """The SQL Arrow runner and the RDD runner fork their workers from
    the same pyspark.daemon, so a process holds one Python worker
    pool, not two."""
    import pyarrow as pa

    def arrow_pid(batches):
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"pid": [os.getppid()]})

    arrow_daemon = (
        spark.range(1, numPartitions=1)
        .mapInArrow(arrow_pid, "pid long")
        .collect()[0]["pid"]
    )
    rdd_daemon = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: os.getppid())
        .collect()[0]
    )
    assert arrow_daemon == rdd_daemon


def test_jvm_starts_with_few_malloc_arenas(spark, monkeypatch):
    """get_spark launches the JVM with ``MALLOC_ARENA_MAX`` set (2
    unless the caller set it), and a value the caller set is kept."""
    from nebuia_vector_db_spark.session import get_spark

    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm}/environ", "rb") as fh:
        env = dict(v.split(b"=", 1) for v in fh.read().split(b"\0") if b"=" in v)
    assert env[b"MALLOC_ARENA_MAX"] == os.environ["MALLOC_ARENA_MAX"].encode()
    monkeypatch.setenv("MALLOC_ARENA_MAX", "4")
    assert get_spark() is spark and os.environ["MALLOC_ARENA_MAX"] == "4"
    monkeypatch.delenv("MALLOC_ARENA_MAX")
    get_spark()
    assert os.environ["MALLOC_ARENA_MAX"] == "2"
