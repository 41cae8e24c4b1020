"""Checkpoint-resume via per-partition lineage (north_rule).

Every stage table is written partitioned by a stable bucket of the
page url (partition_key = pmod(xxhash64(url), n_buckets)). After a
partition's data is written, one lineage row (stage, partition_key,
rows_out, run_id) is appended. Resume = left_anti join of the input's
partition keys against the lineage table for that stage — only
unprocessed buckets are recomputed, and re-writing a bucket is
idempotent because the writer targets exactly that bucket's directory
(dynamic partition overwrite).

At cluster scale the same layout maps 1:1 to Iceberg: partition
transform bucket(url, n), lineage as a snapshot-tagged metadata
table, overwrite-by-filter for idempotent re-runs. Parquet +
directory partitions are the sandbox stand-in (no Iceberg jars in
this container — SURVEY.md S1/S5 note).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas

N_BUCKETS_DEFAULT = 64


def _overwrite_partitioned(
    df: DataFrame, out: str, part_col: str | list[str]
) -> None:
    """Dynamic-partition-overwrite write shared by both lineage
    grains and the compaction writer. The mode is a per-write option,
    never the session conf: setting it session-globally would silently
    turn an unrelated later full-table overwrite elsewhere in the
    session into a partial (dynamic) one."""
    cols = [part_col] if isinstance(part_col, str) else list(part_col)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(out)
    )


def with_partition_key(df: DataFrame, key_col: str = "url",
                       n_buckets: int = N_BUCKETS_DEFAULT) -> DataFrame:
    return df.withColumn(
        "partition_key", F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")
    )


def lineage_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_lineage")


def read_lineage(spark: SparkSession, base_dir: str) -> DataFrame:
    path = lineage_path(base_dir)
    try:
        return spark.read.schema(schemas.LINEAGE).parquet(path)
    except Exception:
        return spark.createDataFrame([], schema=schemas.LINEAGE)


def pending_partitions(
    keyed_input: DataFrame, spark: SparkSession, base_dir: str, stage: str
) -> DataFrame:
    """Filter the keyed input to partitions with no lineage row for
    this stage — the exactly-once-per-partition resume join."""
    done = (
        read_lineage(spark, base_dir)
        .filter(F.col("stage") == stage)
        .select("partition_key")
        .distinct()
    )
    return keyed_input.join(F.broadcast(done), "partition_key", "left_anti")


def write_stage(
    df: DataFrame,
    base_dir: str,
    stage: str,
    run_id: str,
    key_col: str = "url",
    n_buckets: int = N_BUCKETS_DEFAULT,
    processed_input: DataFrame | None = None,
) -> None:
    """Write df as the stage table partitioned by partition_key with
    dynamic partition overwrite (idempotent per bucket), then record
    lineage rows.

    processed_input: the INPUT frame this stage consumed (must carry
    key_col). When given, lineage marks every input bucket done —
    including buckets whose output is EMPTY (rows_out=0). Without it,
    lineage is derived from the written output only, and a bucket
    that legitimately produced zero rows would be re-processed by
    every resume forever."""
    spark = df.sparkSession
    keyed = with_partition_key(df, key_col, n_buckets)
    out = os.path.join(base_dir, stage)
    _overwrite_partitioned(keyed, out, "partition_key")
    # lineage from what actually landed (read-back = write-audit too);
    # a stage whose FIRST write had zero rows leaves no readable table
    # — that's an empty count set, not an error (the processed_input
    # branch below still marks those buckets done)
    try:
        written = spark.read.parquet(out)
        counts = written.groupBy("partition_key").agg(
            F.count(F.lit(1)).alias("rows_out")
        )
    except Exception:
        counts = spark.createDataFrame(
            [], "partition_key int, rows_out bigint"
        )
    if processed_input is not None:
        in_keys = (
            with_partition_key(processed_input, key_col, n_buckets)
            .select("partition_key")
            .distinct()
        )
        counts = in_keys.join(counts, "partition_key", "left").select(
            "partition_key", F.coalesce("rows_out", F.lit(0)).alias("rows_out")
        )
    lin = counts.select(
        F.lit(stage).alias("stage"),
        F.col("partition_key"),
        F.col("rows_out"),
        F.lit(run_id).alias("run_id"),
    )
    # idempotent append: a retried run whose DATA write is idempotent
    # must not double-append lineage for buckets an earlier (possibly
    # half-crashed) run already recorded — (stage, partition_key) is
    # unique in the lineage table, keeping sum(rows_out) audits honest
    already = (
        read_lineage(spark, base_dir)
        .filter(F.col("stage") == stage)
        .select("partition_key")
        .distinct()
    )
    lin = lin.join(F.broadcast(already), "partition_key", "left_anti")
    lin.write.mode("append").parquet(lineage_path(base_dir))


def read_stage(spark: SparkSession, base_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, stage))


# ---------------------------------------------------------------------
# file-grained lineage (streaming ingest resume unit)
#
# Batch resume works per url-BUCKET because the batch job sees the
# whole input: a bucket is complete when processed. A streaming
# micro-batch only ever sees a slice of each bucket, so the streaming
# resume unit is the input FILE — the same unit the file source's own
# checkpoint tracks. File lineage makes the stream resumable even when
# the streaming checkpoint is LOST (restart reprocesses all files; the
# lineage anti-join drops the finished ones), and lets batch tools
# audit exactly which files produced which outputs.
# ---------------------------------------------------------------------


def file_lineage_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_file_lineage")


def read_file_lineage(spark: SparkSession, base_dir: str) -> DataFrame:
    path = file_lineage_path(base_dir)
    try:
        return spark.read.schema(schemas.FILE_LINEAGE).parquet(path)
    except Exception:
        return spark.createDataFrame([], schema=schemas.FILE_LINEAGE)


def with_file_key(df: DataFrame, file_path_col=None) -> DataFrame:
    """Adds (file_path, file_key) from the scan metadata. file_key is a
    short stable hash used as the output partition value — unique per
    file, filename-safe."""
    fp = file_path_col if file_path_col is not None else F.col("_metadata.file_path")
    return df.withColumn("file_path", fp).withColumn(
        "file_key", F.substring(F.md5(F.col("file_path")), 1, 16)
    )


def pending_files(
    keyed_batch: DataFrame, spark: SparkSession, base_dir: str, stage: str
) -> DataFrame:
    """Filter a (file_key-carrying) micro-batch to files with no
    lineage row for this stage. The done-file set is bounded by the
    total file count (not row count) and broadcasts."""
    done = (
        read_file_lineage(spark, base_dir)
        .filter(F.col("stage") == stage)
        .select("file_key")
        .distinct()
    )
    return keyed_batch.join(F.broadcast(done), "file_key", "left_anti")


def write_stage_by_file(
    df: DataFrame,
    base_dir: str,
    stage: str,
    run_id: str,
    processed_files: list[tuple[str, str]],
) -> None:
    """Write df (must carry file_key) into the stage table partitioned
    by file_key with dynamic overwrite — a retried micro-batch
    overwrites exactly its own files' partitions, never a previous
    epoch's — then append one lineage row per processed file (files
    with zero output rows included, so they are never reprocessed).
    Lineage lands LAST: a crash in between leaves the files pending
    and the retry is idempotent."""
    spark = df.sparkSession
    out = os.path.join(base_dir, stage)
    _overwrite_partitioned(df, out, "file_key")
    try:
        counts = {
            r["file_key"]: r["n"]
            for r in spark.read.parquet(out)
            # prune to THIS batch's partitions — without the filter the
            # read-back audit rescans the whole table history every
            # micro-batch (cost grows with table age, not batch size)
            .where(F.col("file_key").isin([fk for fk, _ in processed_files]))
            .groupBy("file_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    except Exception:
        # zero-output FIRST batch: no readable table yet — the files
        # still get rows_out=0 lineage below so the stream progresses
        counts = {}
    # idempotent append (see write_stage): drop files an earlier run
    # already recorded
    done = {
        r["file_key"]
        for r in read_file_lineage(spark, base_dir)
        .filter(F.col("stage") == stage)
        .select("file_key")
        .distinct()
        .collect()
    }
    rows = [
        (stage, fk, fp, int(counts.get(fk, 0)), run_id)
        for fk, fp in processed_files
        if fk not in done
    ]
    if rows:
        spark.createDataFrame(rows, schema=schemas.FILE_LINEAGE).coalesce(
            1
        ).write.mode("append").parquet(file_lineage_path(base_dir))


def metrics_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_metrics")


def write_metrics(
    spark: SparkSession, base_dir: str, stage: str, run_id: str,
    metrics: dict[str, float],
) -> None:
    """S6 metrics sink: append one row per metric to the run's metrics
    table (the reference's metrics dict, persisted). Pairs with
    operators.metrics.spread_stats: pass an Observation's .get after
    the action that rode it."""
    rows = [
        (stage, k, float(v), run_id) for k, v in sorted(metrics.items())
    ]
    df = spark.createDataFrame(rows, schema=schemas.METRICS)
    df.coalesce(1).write.mode("append").parquet(metrics_path(base_dir))


def read_metrics(spark: SparkSession, base_dir: str) -> DataFrame:
    try:
        return spark.read.schema(schemas.METRICS).parquet(metrics_path(base_dir))
    except Exception:
        return spark.createDataFrame([], schema=schemas.METRICS)
