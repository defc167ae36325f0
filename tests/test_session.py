"""Scale-aware shuffle partitioning (VERDICT r5 item 1).

The static partitions=cpus default was the measured sf10 scale limiter
(SCALE.md partition probe: text_ngram_lm_perplexity 36->17s at p128,
redundant_closure_counts 80s spill outlier gone). These tests pin the
replacement heuristic: initial partitions scale with compressed input
bytes, floored at the CPU count, capped, env-overridable, and AQE
coalesces the over-provision down per stage.
"""

import os

from orion_spark.session import (
    BYTES_PER_SHUFFLE_PARTITION,
    autoscale_shuffle,
    input_size_bytes,
    local_cpus,
    scaled_shuffle_partitions,
)


def test_scaled_partitions_floor_and_growth():
    # tiny input -> CPU floor (local test scales keep today's behavior)
    assert scaled_shuffle_partitions(0, cpus=32) == 32
    assert scaled_shuffle_partitions(20 * 1024 * 1024, cpus=32) == 32
    # sf10-sized input (~712 MB compressed) -> well past the old static 32,
    # in the regime the manual p128 probe showed spill-free
    sf10 = 712 * 1024 * 1024
    n = scaled_shuffle_partitions(sf10, cpus=32)
    assert n >= 128
    assert n == -(-sf10 // BYTES_PER_SHUFFLE_PARTITION)
    # monotone in input size, capped
    assert scaled_shuffle_partitions(10 * sf10, cpus=32) >= n
    assert scaled_shuffle_partitions(1 << 50, cpus=32) == 8192


def test_input_size_bytes_walks_dirs(tmp_path):
    d = tmp_path / "data"
    (d / "sub").mkdir(parents=True)
    (d / "a.parquet").write_bytes(b"x" * 1000)
    (d / "sub" / "b.parquet").write_bytes(b"y" * 500)
    assert input_size_bytes(str(d)) == 1500
    assert input_size_bytes(str(d / "a.parquet")) == 1000
    assert input_size_bytes(str(tmp_path / "missing")) == 0


def test_autoscale_sets_session_conf(spark, tmp_path):
    d = tmp_path / "big"
    d.mkdir()
    # 40 files x 16 MiB of metadata-claimed size is slow to create for real;
    # a sparse file has the right os.path.getsize without the IO
    f = d / "blob.bin"
    with open(f, "wb") as fh:
        fh.truncate(640 * 1024 * 1024)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = autoscale_shuffle(spark, str(d))
        assert n == scaled_shuffle_partitions(640 * 1024 * 1024, cpus=local_cpus())
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_autoscale_env_override_wins(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("ORION_SPARK_SHUFFLE_PARTITIONS", "7")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert autoscale_shuffle(spark, str(tmp_path)) == 7
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_local_cpus_defaults_to_available_cpus(monkeypatch):
    """Unset $SPARK_GRAFT_CPUS means the CPUs this process may use, not a
    fixed 32: local[N] and the shuffle-partition floor follow the box."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    assert scaled_shuffle_partitions(0, cpus=local_cpus()) == local_cpus()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
