"""End-to-end rollup + downsample + retention pipeline with resumable
lineage-tracked writes — the engine's flagship plan (BASELINE.json
north_rule).

    tokens (doc_id, tokens, n_tok, source)
      └─ compress_and_cascade (one narrow pass, zero shuffle)
           ├─ 1m tier -> Gorilla blocks  -> blocks_1m
           ├─ 1h tier -> rows            -> tier_1h
           └─ 1d tier -> rows            -> tier_1d
    each table partitioned by (source, day), with per-partition lineage
    (operators/lineage.py).

Default path: one resumable multi-stage write per call.

1. The lineage table is read ONCE: the committed (source, day) keys of
   all three stages, collected on the driver.
2. Pruning: every input series whose (source, day) partitions over its
   EPOCH-aligned span — UTC days ``0..(n_tok-1)//DAY_POINTS`` — are
   committed in every stage is dropped before any compute. This is
   exact: the kernels are per-series and emit rows only inside that
   span, so such a series has rows only in committed partitions, which
   the per-stage anti-join would drop anyway. Rows whose
   ``len(tokens) != n_tok`` are never pruned, so the kernel's contract
   check sees them. Pruning runs in a UTC session only: the tiers'
   ``day`` is the session-local date of the bucket.
3. ``compress_and_cascade`` runs ONCE over the remaining series,
   cached; the three stage frames are projections of it. The cache is
   released before the call returns (a blocking unpersist), so no
   block removal overlaps the next call.
4. ``lineage.write_stages``: one collect of every stage's per-partition
   (row_count, checksum), three partitioned writes and ONE lineage
   commit. A kill between the writes and the commit recovers by
   idempotent overwrite on the next run.

``fused=True``: the same single pass writes everything as ONE table
partitioned by (kind, source, day), where kind in {blocks, 1h, 1d} —
the partition dirs ARE the three tables (read ``.../kind=1h/``).
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.compress import compress_and_cascade
from ..operators.lineage import (Stage, committed_keys, partition_values,
                                 write_stages, write_with_lineage)
from ..operators.rollup import (DAY_POINTS, DEFAULT_RETENTION, EPOCH_SECONDS,
                                apply_retention, retention_horizon)

PARTITION_COLS = ["source", "day"]
STAGES = ("blocks_1m", "tier_1h", "tier_1d")
_EPOCH_DATE = dt.date(1970, 1, 1) + dt.timedelta(days=EPOCH_SECONDS // 86400)
_UTC_ZONES = {"UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00"}


def _committed_days(committed: dict[str, set[str]]) -> dict[str, int]:
    """source -> the number of leading span days (0, 1, ...) whose
    partitions are committed in every stage; sources with none are left
    out."""
    days: dict[tuple[str, str], set[int]] = {}
    for stage, keys in committed.items():
        for key in keys:
            source, day = partition_values(key, len(PARTITION_COLS))
            days.setdefault((stage, source), set()).add(
                (dt.date.fromisoformat(day) - _EPOCH_DATE).days)
    out = {}
    for source in {src for _, src in days}:
        n = 0
        while all(n in days.get((stage, source), ()) for stage in STAGES):
            n += 1
        if n:
            out[source] = n
    return out


def _prune_committed(tokens: DataFrame, days: dict[str, int]) -> DataFrame:
    """Drop the series whose whole span lies in committed days."""
    if not days:
        return tokens
    limit = F.element_at(F.create_map(*[
        F.lit(x) for src, n in days.items() for x in (src, DAY_POINTS * n)]),
        F.col("source"))
    prunable = (F.col("n_tok") <= limit) & (F.size("tokens") == F.col("n_tok"))
    return tokens.filter(~F.coalesce(prunable, F.lit(False)))


def run_rollup_pipeline(
    spark: SparkSession,
    tokens: DataFrame,
    base_path: str,
    run_id: str,
    now_bucket_seconds: int | None = None,
    retention: dict | None = None,
    resume: bool = True,
    fused: bool = False,
) -> dict:
    """Returns per-stage write stats. ``now_bucket_seconds`` pins the
    retention horizon (explicit for determinism/resume)."""
    lineage_path = f"{base_path}/_lineage"
    policy = retention or DEFAULT_RETENTION

    if fused:
        union = compress_and_cascade(tokens, tiers=("1h", "1d"))
        union = (union
                 .withColumn("kind", F.coalesce("tier", F.lit("blocks")))
                 .withColumn("day", F.when(
                     F.col("kind") == "blocks", F.col("bucket_day"))
                     .otherwise(F.to_date(F.timestamp_seconds("bucket"))))
                 .drop("tier", "bucket_day"))
        if now_bucket_seconds is not None:
            # same horizon filter apply_retention applies per tier in
            # the unfused path, expressed as one predicate over the
            # tagged union (blocks pass through, like the unfused path)
            keep_pred = F.col("kind") == "blocks"
            for tier in ("1h", "1d"):
                is_tier = F.col("kind") == tier
                horizon = retention_horizon(tier, now_bucket_seconds, policy)
                if horizon is None:
                    keep_pred = keep_pred | is_tier
                else:
                    keep_pred = keep_pred | (
                        is_tier & (F.col("bucket") >= F.lit(horizon)))
            union = union.filter(keep_pred)
        return {"fused": write_with_lineage(
            union, f"{base_path}/fused", ["kind", "source", "day"],
            lineage_path, run_id, "fused", resume=resume)}

    committed = (committed_keys(spark, lineage_path, list(STAGES))
                 if resume else {})
    if spark.conf.get("spark.sql.session.timeZone") in _UTC_ZONES:
        tokens = _prune_committed(tokens, _committed_days(committed))

    out = compress_and_cascade(tokens, tiers=("1h", "1d")).cache()
    stages = [Stage("blocks_1m", out.filter(F.col("kind") == "block").select(
        "doc_id", "source", F.lit("1m").alias("tier"), F.col("bucket_day").alias("day"),
        "t0", "v0", "n", "payload"), f"{base_path}/blocks_1m", PARTITION_COLS)]
    for tier in ("1h", "1d"):
        t = (out.filter(F.col("tier") == tier)
             .select("source", "doc_id", "bucket", "cnt", "sum", "min", "max",
                     "first", "last", "n_filled",
                     F.to_date(F.timestamp_seconds("bucket")).alias("day")))
        if now_bucket_seconds is not None:
            t = apply_retention(t, tier, now_bucket_seconds, policy)
        stages.append(Stage(f"tier_{tier}", t, f"{base_path}/tier_{tier}",
                            PARTITION_COLS))
    try:
        return write_stages(stages, lineage_path, run_id, committed)
    finally:
        out.unpersist(blocking=True)
