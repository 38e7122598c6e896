"""Per-partition lineage + resumable writes (SURVEY.md J5/S3,
FIXTURES.md F-6).

The reference loses everything on a kill (single process, no
persistence until the final CSV). The engine writes each stage
partition-by-partition with dynamic partition overwrite and records
(run scope, stage, partition_key, row_count, checksum) in a lineage
table.

Commit protocol (:func:`write_stages`; :func:`write_with_lineage` is
its one-stage case). Per call, over any number of stages:

1. the caller reads the lineage table ONCE and collects every stage's
   committed partition keys on the driver (:func:`committed_keys`) —
   metadata-sized, and the data plans never read lineage lazily;
2. each stage drops the rows of its committed partitions (a broadcast
   left-anti join against that key set, so the plan stays small however
   many keys are committed) — the exact resume filter;
3. ONE collect computes (row_count, checksum) of every pending
   partition of every stage;
4. one partitioned dynamic-overwrite write per stage;
5. ONE lineage append commits all stages.

A kill between the data writes and the commit leaves those partitions
uncommitted: the next run recomputes them and overwrites them
idempotently, so nothing is double-counted and nothing is lost.

Checksum is an order-independent BIT_XOR of xxhash64 over every column,
so it is partition-layout and task-retry independent.
"""

from __future__ import annotations

import functools
from typing import NamedTuple

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("stage", T.StringType()),
    T.StructField("partition_key", T.StringType()),
    T.StructField("row_count", T.LongType()),
    T.StructField("checksum", T.LongType()),
    T.StructField("committed_at", T.TimestampType()),
])
LINEAGE_COLS = LINEAGE_SCHEMA.fieldNames()


def row_checksum(df: DataFrame) -> F.Column:
    """Canonical row digest: columns sorted by name and cast to string,
    so the checksum is stable across column reorderings (partitioned
    parquet moves partition columns to the end on read-back)."""
    return F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])


def partition_key(partition_cols: list[str]) -> F.Column:
    """The lineage ``partition_key``: partition values joined by '|'."""
    return F.concat_ws("|", *[F.col(c).cast("string") for c in partition_cols])


def partition_values(key: str, n_cols: int) -> tuple[str, ...]:
    """Inverse of :func:`partition_key`: the ``n_cols`` partition values
    of a lineage key (split from the right, so a '|' inside the first
    value survives)."""
    return tuple(key.rsplit("|", n_cols - 1))


def partition_metrics(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """(partition_key, row_count, checksum) per partition."""
    return (df.groupBy(partition_key(partition_cols).alias("partition_key"))
            .agg(F.count("*").alias("row_count"),
                 F.bit_xor(row_checksum(df)).alias("checksum")))


def committed_keys(spark: SparkSession, lineage_path: str,
                   stages: list[str]) -> dict[str, set[str]]:
    """Committed partition keys of each of ``stages``, from ONE read of
    the lineage table (empty sets when it does not exist yet)."""
    out: dict[str, set[str]] = {s: set() for s in stages}
    try:
        lin = spark.read.parquet(lineage_path)
    except AnalysisException:
        return out
    pdf = (lin.filter(F.col("stage").isin(list(stages)))
           .select("stage", "partition_key").toPandas())
    for stage, keys in pdf.groupby("stage")["partition_key"]:
        out[stage] = set(keys)
    return out


class Stage(NamedTuple):
    """One output of :func:`write_stages`. ``df`` is evaluated twice
    (metrics, then write): set ``cache`` unless it is cheap to
    recompute, e.g. a projection of a cached frame."""
    name: str
    df: DataFrame
    path: str
    partition_cols: list[str]
    sort_within: list[str] | None = None
    cache: bool = False


def append_lineage(spark: SparkSession, lineage_path: str,
                   batch: pd.DataFrame) -> None:
    """Append a batch of lineage records (the commit), built as an
    Arrow-backed local DataFrame with the explicit lineage schema."""
    (spark.createDataFrame(batch[LINEAGE_COLS], schema=LINEAGE_SCHEMA)
     .write.mode("append").parquet(lineage_path))


def write_stages(stages: list[Stage], lineage_path: str, run_id: str,
                 committed: dict[str, set[str]]) -> dict[str, dict]:
    """Write every stage's pending partitions, then commit them all with
    one lineage append (module docstring). ``committed`` maps a stage to
    its committed keys (:func:`committed_keys`; empty = write all).
    Returns {stage: {written_partitions, skipped_partitions}}, where
    ``skipped_partitions`` counts the stage's committed partitions seen
    (not their intersection with this input's keys: that would need a
    distinct over the input, the full scan this path exists to avoid).

    ``sort_within`` sorts rows WITHIN each task before writing (no
    shuffle — ``sortWithinPartitions``), which makes parquet row-group
    min/max statistics on those columns tight and disjoint: a point
    lookup (``doc_id = X``) then skips whole row groups at scan time
    instead of reading the partition. The scan-locality knob for the
    blocks store — the parquet equivalent of an Iceberg sort order."""
    spark = stages[0].df.sparkSession
    works = []
    for st in stages:
        work = st.df
        done = committed.get(st.name)
        if done:
            keys = F.broadcast(spark.createDataFrame(
                pd.DataFrame({"_pk": sorted(done)}), "_pk string"))
            work = work.join(keys, partition_key(st.partition_cols)
                             == F.col("_pk"), "left_anti")
        works.append(work.cache() if st.cache else work)
    try:
        # metrics BEFORE the data writes: an all-committed resume ends
        # here without creating an empty (schema-less) data directory
        metrics = functools.reduce(DataFrame.unionByName, [
            partition_metrics(work, st.partition_cols)
            .withColumn("stage", F.lit(st.name))
            for st, work in zip(stages, works)]).toPandas()
        for st, work in zip(stages, works):
            if not (metrics["stage"] == st.name).any():
                continue
            if st.sort_within:
                # partition cols lead so the file writer's required
                # clustering is already satisfied and it inserts no
                # second (unstable) sort
                work = work.sortWithinPartitions(*st.partition_cols,
                                                 *st.sort_within)
            (work.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(*st.partition_cols).parquet(st.path))
        if len(metrics):
            append_lineage(spark, lineage_path, metrics.assign(
                run_id=run_id, committed_at=pd.Timestamp.now(tz="UTC")))
    finally:
        # blocking: no block removal outlives the call
        for st, work in zip(stages, works):
            if st.cache:
                work.unpersist(blocking=True)
    written = metrics["stage"].value_counts()
    return {st.name: {"written_partitions": int(written.get(st.name, 0)),
                      "skipped_partitions": len(committed.get(st.name, ()))}
            for st in stages}


def write_with_lineage(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    lineage_path: str,
    run_id: str,
    stage: str,
    resume: bool = True,
    sort_within: list[str] | None = None,
) -> dict:
    """Write ``df`` partitioned by ``partition_cols`` with exactly-once
    semantics: the one-stage case of :func:`write_stages`. Returns
    {written_partitions, skipped_partitions}."""
    committed = (committed_keys(df.sparkSession, lineage_path, [stage])
                 if resume else {})
    return write_stages(
        [Stage(stage, df, path, partition_cols, sort_within, cache=True)],
        lineage_path, run_id, committed)[stage]


def verify_against_lineage(spark: SparkSession, path: str,
                           partition_cols: list[str], lineage_path: str,
                           stage: str) -> DataFrame:
    """Recompute per-partition (row_count, checksum) from the stored
    table and diff against the latest lineage records — the resume
    test's no-double-counting certificate."""
    from pyspark.sql import Window

    stored = spark.read.parquet(path)
    actual = partition_metrics(stored, partition_cols)
    # latest record per partition via row_number, NOT orderBy +
    # dropDuplicates (Spark does not guarantee dropDuplicates keeps the
    # first row of a prior sort)
    w = (Window.partitionBy("partition_key")
         .orderBy(F.desc("committed_at"), F.desc("run_id")))
    lin = (spark.read.parquet(lineage_path)
           .filter(F.col("stage") == stage)
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select("partition_key",
                   F.col("row_count").alias("expect_rows"),
                   F.col("checksum").alias("expect_checksum")))
    return (actual.join(lin, "partition_key", "full_outer")
            .withColumn("ok", (F.col("row_count") == F.col("expect_rows"))
                        & (F.col("checksum") == F.col("expect_checksum"))))
