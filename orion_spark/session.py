"""SparkSession factory with scale-oriented defaults.

Tuned for correctness on local[N] while carrying the configuration that
matters on a 1000-executor cluster: AQE (runtime re-planning, skew-join
splitting, partition coalescing), sensible shuffle partitioning, Arrow for
any pandas exchange, and broadcast-join thresholds.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

# Shuffle-partition autoscaling (round-6; VERDICT r5 item 1).
#
# The sf10 measurements showed the static partitions=cpus default was the
# binding scale constraint, not any plan: text_ngram_lm_perplexity halved at
# 128 partitions (36->17s) and redundant_closure_counts lost its 80s spill
# outlier (SCALE.md sf10 partition probe). The scale-safe posture is a HIGH
# initial partition count proportional to input volume, with AQE coalescing
# over-provisioned partitions back down (coalescePartitions is on below), so
# over-partitioning costs little and under-partitioning costs spills.
#
# Heuristic: one shuffle partition per ~4 MiB of *compressed* parquet input.
# Snappy parquet on these tables expands ~6-10x in a shuffle (and more in
# token-exploded window tables), so 4 MiB compressed targets ~32 MB of
# in-flight data per partition — comfortably spill-free. Floored at the CPU
# count (never fewer tasks than cores) and capped to keep task-launch
# overhead bounded on pathological inputs.
BYTES_PER_SHUFFLE_PARTITION = 4 * 1024 * 1024
MAX_SHUFFLE_PARTITIONS = 8192


def local_cpus() -> int:
    """Cores for local[N] and the shuffle-partition floor: $SPARK_GRAFT_CPUS,
    else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def input_size_bytes(*paths: str) -> int:
    """Total on-disk bytes under the given local files/directories.

    Local-filesystem walk; callers with a remote (hdfs://, s3a://) input
    should go through :func:`autoscale_shuffle`, which falls back to the
    Hadoop FileSystem API for scheme-qualified paths.
    """
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
    return total


def scaled_shuffle_partitions(
    input_bytes: int,
    *,
    cpus: int,
    bytes_per_partition: int = BYTES_PER_SHUFFLE_PARTITION,
    max_partitions: int = MAX_SHUFFLE_PARTITIONS,
) -> int:
    """Input-size-scaled initial shuffle partition count (pure function)."""
    wanted = math.ceil(input_bytes / bytes_per_partition) if input_bytes > 0 else 0
    return max(int(cpus), min(wanted, max_partitions))


def autoscale_shuffle(spark: SparkSession, *paths: str) -> int:
    """Set ``spark.sql.shuffle.partitions`` scaled to the given inputs.

    Call at a pipeline/bench entry point once the input paths are known;
    AQE coalesces the over-provisioned count down per-stage, so this is
    safe to call with a generous union of inputs. Returns the count set.
    An explicit ``ORION_SPARK_SHUFFLE_PARTITIONS`` env override still wins.
    """
    env = os.environ.get("ORION_SPARK_SHUFFLE_PARTITIONS")
    if env:
        n = int(env)
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        return n
    total = 0
    remote = []
    for p in paths:
        if os.path.exists(p):
            total += input_size_bytes(p)
        elif "://" in p:
            remote.append(p)
    for p in remote:
        try:  # Hadoop FS for scheme-qualified paths (cluster inputs)
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            total += fs.getContentSummary(hpath).getLength()
        except Exception:
            pass
    n = scaled_shuffle_partitions(total, cpus=local_cpus())
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


def get_spark(
    app_name: str = "orion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults come from env so the same code runs in tests (local[N], see
    local_cpus) and on a cluster (spark-submit sets master externally).
    """
    cpus = local_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        env = os.environ.get("ORION_SPARK_SHUFFLE_PARTITIONS")
        if env:
            shuffle_partitions = int(env)
        else:
            # Input-size-scaled default: when the bench/driver names the
            # dataset dir via SPARK_GRAFT_SF_DIR, size the initial shuffle
            # partitioning to it (AQE coalesces down). Pipelines with other
            # inputs call autoscale_shuffle() once paths are known.
            sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "")
            size = input_size_bytes(sf_dir) if sf_dir else 0
            shuffle_partitions = scaled_shuffle_partitions(size, cpus=cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join handling. At 100 TB
        # the hub-node property merge (biolink:NamedThing-scale keys) skews;
        # AQE splits those partitions instead of OOMing one executor.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor (round 11, guide §2.5-adjacent): with
        # parallelismFirst (default) AQE coalesces each shuffle read to
        # max(bytes/defaultParallelism, minPartitionSize). The 1 MiB
        # default floor collapses every sub-32 MiB exchange on a 32-core
        # executor below core count, starving compute-bound stages whose
        # per-row work is heavy relative to their bytes — the adjacency
        # intersect (5 tasks holding 5.6 s of CPU measured on
        # graph_triangle_count at sf0.1), string-heavy property merges,
        # per-pair cosine folds. 256 KiB keeps those stages at core-count
        # parallelism down to ~8 MiB of shuffle; interleaved same-session
        # A/B: 8 heavy queries 40.2 -> 36.4 s, 12 small queries 6.9 ->
        # 6.4 s (nothing regressed past jitter). At cluster scale
        # bytes/cores >> 1 MiB on any real shuffle, so — like the
        # openCostInBytes floor below — the setting is inert there.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "262144")
        # Arrow for every pandas_udf / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast dimension tables (closure tables, norm maps) up to 64 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Don't let tiny local runs produce thousands of output files.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Scan-split floor (round 11, guide §6): Spark sizes file splits
        # as min(maxPartitionBytes, max(openCostInBytes, bytes/cores)),
        # so with the 4 MiB default openCost a compact parquet table
        # (11 MiB lineitem at sf0.1) scans in 3 tasks and every
        # scan-fused map stage starves the other 29 cores (measured:
        # a 1.1 s 3-task dedup map stage in each KGX graph derivation).
        # 512 KiB keeps the per-file open charge honest for local SSDs
        # while letting bytes/cores set the split size; at cluster scale
        # bytes/cores >> openCost, so the setting is inert there.
        .config("spark.sql.files.openCostInBytes", "524288")
        # Keep collect_list/collect_set aggregations HASH-based (round 11,
        # guide §5 hash-vs-sort operator choice): ObjectHashAggregate
        # falls back to SORT-based aggregation after only 128 distinct
        # keys per task by default, so every property-merge aggregate
        # (A3 node/edge merge, adjacency build, qualifier panels) was
        # sorting its 6-string-column grouping keys per task — measured
        # 4.3 s single-stage kgx_merge_edges at sf0.1 dominated by that
        # sort. 128Ki in-memory groups per task ≈ tens of MB of aggregate
        # state for these payloads — well inside executor memory at any
        # scale; the sort fallback still exists beyond it.
        .config(
            "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold",
            "131072",
        )
        # the events table stores TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long (ns) and convert explicitly where needed
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("ORION_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
