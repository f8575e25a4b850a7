"""SparkSession builder with scale-oriented defaults.

Tuned for the 100 TB target even though the sandbox runs local[*]:
AQE on (runtime coalescing + skew-join splitting), Arrow batching sized so
the Python kernel stage sees real micro-batches (the continuous-batching
analog of the reference's max_num_seqs=100, vllm/config.py:13).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def build_session(
    app_name: str = "deepseek-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # HotSpot refuses to JIT methods over 8000 bytecodes
        # (DontCompileHugeMethods), so a whole-stage-codegen method past
        # that limit runs in the bytecode interpreter — measured r8: the
        # unrolled fixed-dim cosine chain in ann_ivf_topk_all was 13x
        # SLOWER under one giant non-JITable method (210 s vs 16 s at the
        # x10 probe). Aligning Spark's fallback threshold with the JIT's
        # makes oversized stages fall back to split per-expression codegen
        # (small, JIT-able methods). JVM-rational at every scale — any
        # method past 8000 bytecodes is interpreted today regardless.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # micro-batch size for iterator pandas UDFs — the max_num_seqs analog
        # (measured: 1024 ≈ 4096 > 256 by ~8% on the extraction stage; a GPU
        # kernel would tune this down toward its concurrency limit)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # 128 MB scan splits: sane parquet split size at cluster scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # pin the session timezone: F.window() aligns to epoch/UTC while
        # date_trunc uses the session zone — on a non-whole-hour-offset host
        # the two would bucket differently
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin spread of a narrow scan across the cluster before a
    map-heavy stage. A well-laid-out production table has thousands of
    splits and this is a no-op; a single-file input would otherwise run the
    whole zero-shuffle stage after it in ONE task (observed). The one input
    spread rule of the engine: extraction and the per-doc sketch operators
    all call it."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
