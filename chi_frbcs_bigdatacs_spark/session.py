"""SparkSession factory tuned for this engine.

Defaults are sized for the harness (single JVM, local[N]) but every
setting is the one we'd ship on a 1000-executor cluster: AQE on
(runtime shuffle-partition coalescing + skew-join splitting),
broadcast threshold high enough that dimension tables and rule bases
broadcast, Arrow enabled for the few pandas-interop paths.

Two shuffle widths, because batch and streaming plan their exchanges
differently:

- Batch width: `spark.sql.adaptive.coalescePartitions.initialPartitionNum`
  (the `shuffle_partitions` argument, else `$SPARK_GRAFT_SHUFFLE`,
  else 32). With AQE and partition coalescing on, Spark's
  `SQLConf.numShufflePartitions` returns it, so every batch exchange
  starts at this width and AQE coalesces it down at runtime.
  `batch_shuffle_partitions` reads it back for code that sizes its own
  exchange.
- State width: `spark.sql.shuffle.partitions`, one partition per core
  of a `local[N]` master (N, which is `sparkContext.defaultParallelism`;
  `local[*]` is first resolved to the cores this process may run on).
  With the batch width set apart, only streaming reads it: Structured
  Streaming runs each query on a session clone with AQE off, so nothing
  coalesces its exchanges, and every stateful operator runs this many
  state-store tasks per micro-batch whatever the input size. The query
  writes the value into its checkpoint's offset log, and a restarted
  query keeps the width it started with. Both widths are builder
  settings, so a `newSession()` gets them too. Any other master keeps
  Spark's default state width; submit it with
  `spark.sql.shuffle.partitions` set to the executor core count.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_INITIAL_PARTITION_NUM = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def get_spark(
    app_name: str = "chi-frbcs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master == "local[*]":
        master = f"local[{len(os.sched_getaffinity(0))}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing of the two rule-agg shuffles, skew-join
        # splitting for hot antecedent cells at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(_INITIAL_PARTITION_NUM, str(shuffle_partitions))
        # Rule bases / dims are tiny; make sure they broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    local = re.fullmatch(r"local\[(\d+)\]", master)
    if local:
        builder = builder.config("spark.sql.shuffle.partitions", local[1])
    return builder.getOrCreate()


def batch_shuffle_partitions(spark: SparkSession) -> int:
    """The width batch exchanges start from, as Spark's
    `SQLConf.numShufflePartitions` computes it: the AQE initial
    partition number when AQE coalescing is on and it is set, else
    `spark.sql.shuffle.partitions`. Sessions not made by `get_spark`
    fall to the second branch."""
    conf = spark.conf
    initial = conf.get(_INITIAL_PARTITION_NUM, None)
    if (
        initial is not None
        and conf.get("spark.sql.adaptive.enabled").lower() == "true"
        and conf.get("spark.sql.adaptive.coalescePartitions.enabled").lower() == "true"
    ):
        return int(initial)
    return int(conf.get("spark.sql.shuffle.partitions"))
