"""SparkSession profiles.

The reference tunes one small-cluster session from config
(``spark-defaults.conf:14-29`` in the reference: 8 shuffle partitions,
AQE off, 16 MB splits) because it co-hosts streaming and serving in a
6 GB container.  Here batch and streaming get separate profiles
(SURVEY.md section 4, O5/O8): batch enables AQE + partition coalescing
so the runtime re-plans shuffles/skew; streaming keeps AQE off inside
the micro-batch loop as the reference does.

At 100 TB these profiles are the per-job defaults; the structural
choices (AQE, broadcast threshold, no hardcoded tiny parallelism)
survive a 1000-executor cluster, while the local numbers
(``local[N]``, driver memory) are test-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _builder(app: str, cpus: int) -> SparkSession.Builder:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )


def batch_session(app: str = "lakehouse-batch", cpus: int | None = None) -> SparkSession:
    """Batch profile: AQE on (runtime coalescing, skew-join handling,
    auto broadcast conversion).  This is the profile bench.py and the
    declared queries run under."""
    spark = (
        _builder(app, cpus or DEFAULT_CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Target bytes of INPUT per reduce partition.  Smaller than the 128 MB
#: map-split target on purpose: reduce-side rows are post-projection /
#: post-partial-agg (a fraction of input bytes), and reduce-stage CPU
#: parallelism is what keeps the cores busy on mid-size jobs — measured
#: on the 10x replica (~220 MB input), 32 MB/partition cuts the keyed
#: aggregation wall ~2x vs 128 MB/partition with no effect at 100 TB
#: (the 4x-cores cap binds there either way).
SHUFFLE_TARGET_BYTES = 32 * 1024 * 1024

#: Map-side split bounds for :func:`tune_for_input`.  128 MB is the
#: at-scale standard; the 16 MB lower bound is the reference's own
#: small-cluster setting (reference spark-defaults.conf:26, "small
#: bites") — on a mid-size input it turns a 1-2-split scan into one
#: task per core without touching large-deployment behavior.
SPLIT_MAX_BYTES = 128 * 1024 * 1024
SPLIT_MIN_BYTES = 16 * 1024 * 1024

#: Below this total input size AQE is turned off: its re-planning has a
#: fixed ~0.1 s/query cost (measured on the sf0.1 bench set) that only
#: amortizes once stages are seconds long.  The reference reaches the
#: same conclusion for its small cluster (spark-defaults.conf:14-29:
#: AQE off, 8 shuffle partitions); above the threshold AQE's runtime
#: coalescing/skew handling is strictly better than any static guess.
AQE_MIN_INPUT_BYTES = 2 * 1024 * 1024 * 1024


def tune_for_input(spark: SparkSession, input_bytes: int, cpus: int | None = None) -> SparkSession:
    """Size the session's shuffle layout from the job's input volume.

    Static sizing from known input stats, exactly what AQE derives at
    runtime — but computed once up front, so small jobs skip AQE's
    per-query re-planning cost and big jobs still get AQE for skew.
    Partition count targets :data:`SHUFFLE_TARGET_BYTES` per partition,
    floored at 4 and capped at 4x parallelism (diminishing returns past
    that on one executor-set).

    The floor is 4, not the reference's small-cluster 8: at sub-128 MB
    input the sizing rule itself says ONE partition, and each extra
    reduce task is pure scheduling overhead — measured on the sf0.1
    bench set, 8 -> 4 halves the small-aggregation floor (0.27 s ->
    0.10 s steady) while keeping enough reduce slots that a skewed
    reducer can't serialize the stage; below 4 nothing improves.
    Map-stage parallelism is unaffected (``spark.default.parallelism``
    stays at core count; the per-row-heavy EXT operators repartition
    to it explicitly), and any input past ~512 MB out-sizes the floor.
    """
    n = cpus or DEFAULT_CPUS
    parts = max(4, min(4 * n, input_bytes // SHUFFLE_TARGET_BYTES))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    # map-side splits: aim for one task per core on mid-size inputs,
    # bounded to [16 MB, 128 MB] (see SPLIT_MIN/MAX_BYTES)
    split = max(SPLIT_MIN_BYTES, min(SPLIT_MAX_BYTES, input_bytes // (2 * n)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    aqe = input_bytes >= AQE_MIN_INPUT_BYTES
    spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
    return spark


def streaming_session(app: str = "lakehouse-stream", cpus: int | None = None) -> SparkSession:
    """Streaming profile: AQE off (the reference disables it for
    micro-batch noise, reference spark-defaults.conf:29); state-store
    friendly shuffle sizing."""
    spark = (
        _builder(app, cpus or DEFAULT_CPUS)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.streaming.stateStore.compression.codec", "lz4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
