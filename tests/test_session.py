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
