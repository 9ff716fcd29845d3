"""SparkSession factory with scale-oriented defaults.

The reference (``FAANG/dcc-validate-metadata``) runs per-record Python in
Celery workers; this engine runs whole-column expressions on Spark, so the
session config is where the 100 TB posture lives: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on (the only
Python in the data path is Arrow-batched), UTC timezone (oracle parity with
DuckDB), and shuffle partitions sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At real scale these would be cluster-submitted conf; local values mirror
# the same ratios (shuffle partitions ≈ cores, modest Arrow batches so
# binary image payloads don't blow up executor memory).
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # rule evaluation relies on null-on-failure cast/parse semantics
    # (Spark 4 turns ANSI on by default)
    "spark.sql.ansi.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # binary `bytes` cells inflate Arrow batches — cap records per batch so
    # a batch of 32x32 RGB PNGs stays ~10 MB (SURVEY.md §7.3)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.parquet.compression.codec": "zstd",
    # Split sizing follows CPU cost, not just bytes: an Arrow decode stage
    # (real JPEG entropy decode) spends ~100x more CPU per input byte than
    # a columnar scan, and an Arrow stage with no shuffle before it runs
    # one task per input split (transforms, audio/video decode; the
    # validation decode branch instead hash-repartitions into
    # shuffle.partitions tasks first). The 128m default leaves a 600k-row
    # 0.8 GB image table with ~6 splits — 6 of 32 cores decoding. 16m
    # keeps decode stages core-bound locally; a real cluster would keep
    # 128m for pure-columnar jobs and shrink it for decode-heavy ones.
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "16g",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "dcc-validate-metadata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would set it to ~2-3x total executor cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif master.startswith("local["):
        n = master[len("local[") : -1]
        if n.isdigit():
            conf["spark.sql.shuffle.partitions"] = n
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
