"""Flagship pipeline: end-to-end run, kill/resume, retention, and
decompressed-1m == raw-tokens equality."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from kapra_spark import datagen
from kapra_spark.plans.rollup_plan import run_rollup_pipeline


@pytest.fixture(scope="module")
def tokens(spark):
    pdf = datagen.tokens_pdf(60, n_tok=1440 * 2, seed=9, gap_fraction=0.1)
    return spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA).cache()


def test_pipeline_end_to_end_and_resume(spark, tokens, tmp_path):
    base = str(tmp_path / "pipe")
    s1 = run_rollup_pipeline(spark, tokens, base, run_id="r1")
    assert all(v["written_partitions"] > 0 for v in s1.values())

    # rerun = full resume: nothing rewritten
    s2 = run_rollup_pipeline(spark, tokens, base, run_id="r2")
    assert all(v["written_partitions"] == 0 for v in s2.values())
    assert all(v["skipped_partitions"] == s1[k]["written_partitions"]
               for k, v in s2.items())

    # 1h tier contents match a fresh computation
    from kapra_spark.operators.rollup import cascade_fast

    stored = spark.read.parquet(f"{base}/tier_1h")
    fresh = cascade_fast(tokens, tiers=("1h",)).drop("tier")
    assert stored.count() == fresh.count()
    a = stored.groupBy("source").agg(F.sum("sum").alias("s")).collect()
    b = fresh.groupBy("source").agg(F.sum("sum").alias("s")).collect()
    assert {r["source"]: r["s"] for r in a} == {r["source"]: r["s"] for r in b}


def test_pipeline_decompress_equals_input(spark, tokens, tmp_path):
    from kapra_spark.operators.compress import decompress_tokens

    base = str(tmp_path / "pipe2")
    run_rollup_pipeline(spark, tokens, base, run_id="r1")
    blocks = (spark.read.parquet(f"{base}/blocks_1m")
              .withColumnRenamed("day", "bucket_day"))
    back = decompress_tokens(blocks)
    # day-blocks: reassemble per doc in t0 order (2 days -> 2 blocks)
    orig = {r.doc_id: list(r.tokens) for r in tokens.collect()}
    got: dict[str, list] = {}
    for r in sorted(back.collect(), key=lambda r: (r.doc_id, r.t0)):
        got.setdefault(r.doc_id, []).extend(r.tokens)
    for k, v in orig.items():
        assert got[k] == v, k


def test_pipeline_retention(spark, tokens, tmp_path):
    from kapra_spark.operators.rollup import EPOCH_SECONDS

    base = str(tmp_path / "pipe3")
    # "now" = 10 days after epoch; 1h keeps 90 days -> all kept;
    # shrink 1h retention to 1 day to see expiry
    stats = run_rollup_pipeline(
        spark, tokens, base, run_id="r1",
        now_bucket_seconds=EPOCH_SECONDS + 10 * 86400,
        retention={"1m": None, "1h": 24, "1d": None})
    # tokens span days 1-2 after epoch, all earlier than the 1-day
    # horizon: everything expired -> no 1h partitions even exist
    assert stats["tier_1h"]["written_partitions"] == 0
    import os

    assert not os.path.exists(f"{base}/tier_1h") \
        or spark.read.parquet(f"{base}/tier_1h").count() == 0
    # 1d tier (retention None = keep forever) still written
    assert stats["tier_1d"]["written_partitions"] > 0


def test_fused_pipeline_matches_unfused(spark, tmp_path):
    """fused=True writes one (kind, source, day)-partitioned table
    whose kind partitions equal the three unfused outputs; resume
    skips everything on re-run."""
    from pyspark.sql import functions as F

    from kapra_spark import datagen
    from kapra_spark.operators.compress import decompress_tokens
    from kapra_spark.plans.rollup_plan import run_rollup_pipeline

    pdf = datagen.tokens_pdf(60, n_tok=144, seed=21, gap_fraction=0.1)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)

    b1 = str(tmp_path / "unfused")
    b2 = str(tmp_path / "fused")
    run_rollup_pipeline(spark, tokens, b1, run_id="a")
    s = run_rollup_pipeline(spark, tokens, b2, run_id="a", fused=True)
    assert s["fused"]["written_partitions"] > 0

    # tier partitions equal the unfused tier tables
    for tier in ("1h", "1d"):
        got = (spark.read.parquet(f"{b2}/fused/kind={tier}")
               .select("doc_id", "bucket", "cnt", "sum", "min", "max")
               .toPandas().sort_values(["doc_id", "bucket"]).reset_index(drop=True))
        exp = (spark.read.parquet(f"{b1}/tier_{tier}")
               .select("doc_id", "bucket", "cnt", "sum", "min", "max")
               .toPandas().sort_values(["doc_id", "bucket"]).reset_index(drop=True))
        import pandas as pd
        pd.testing.assert_frame_equal(got, exp)

    # blocks partition round-trips to the original tokens
    blocks = (spark.read.parquet(f"{b2}/fused/kind=blocks")
              .withColumnRenamed("day", "bucket_day")
              .select("doc_id", "source", "bucket_day", "t0", "v0", "n", "payload"))
    back = decompress_tokens(blocks).orderBy("doc_id").toPandas()
    orig = pdf.sort_values("doc_id").reset_index(drop=True)
    assert len(back) == len(orig)
    for i in range(len(orig)):
        assert list(back["tokens"][i]) == list(orig["tokens"][i])

    # resume: second run writes nothing
    s2 = run_rollup_pipeline(spark, tokens, b2, run_id="b", fused=True)
    assert s2["fused"]["written_partitions"] == 0
    assert s2["fused"]["skipped_partitions"] > 0


def test_fused_retention_matches_unfused(spark, tmp_path):
    """fused=True applies the SAME per-tier retention horizon as the
    unfused path (ADVICE r2 #1): with a horizon that expires part of
    the 1h tier, the fused kind partitions equal the unfused tier
    tables row-for-row, and resume stays idempotent."""
    from pyspark.sql import functions as F

    from kapra_spark import datagen
    from kapra_spark.operators.rollup import EPOCH_SECONDS
    from kapra_spark.plans.rollup_plan import run_rollup_pipeline

    pdf = datagen.tokens_pdf(50, n_tok=144, seed=9, gap_fraction=0.05)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    # tokens span 3 one-hour buckets; put the 1h horizon between
    # bucket 0 and bucket 1 => partial expiry
    now = EPOCH_SECONDS + 90 * 24 * 3600 + 5400

    b1, b2 = str(tmp_path / "unfused"), str(tmp_path / "fused")
    run_rollup_pipeline(spark, tokens, b1, run_id="r",
                        now_bucket_seconds=now)
    s = run_rollup_pipeline(spark, tokens, b2, run_id="r",
                            now_bucket_seconds=now, fused=True)
    assert s["fused"]["written_partitions"] > 0

    fused = spark.read.parquet(f"{b2}/fused")
    for tier in ("1h", "1d"):
        a = spark.read.parquet(f"{b1}/tier_{tier}")
        b = fused.filter(F.col("kind") == tier).select(*a.columns)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
    # retention actually pruned the 1h tier (1 of 3 buckets kept)
    n_1h = fused.filter(F.col("kind") == "1h").count()
    assert n_1h == 50

    s2 = run_rollup_pipeline(spark, tokens, b2, run_id="r2",
                             now_bucket_seconds=now, fused=True)
    assert s2["fused"]["written_partitions"] == 0


# ---------------------------------------------------------------------------
# one-commit resumable ingest: pruning, kill window, legacy lineage
# ---------------------------------------------------------------------------

STAGES = ("blocks_1m", "tier_1h", "tier_1d")


def stage_metrics(spark, base):
    """{stage: {partition_key: (row_count, checksum)}} of a stored store."""
    from kapra_spark.operators.lineage import partition_metrics

    return {s: {r["partition_key"]: (r["row_count"], r["checksum"])
                for r in partition_metrics(spark.read.parquet(f"{base}/{s}"),
                                           ["source", "day"]).collect()}
            for s in STAGES}


def assert_lineage_ok(spark, base):
    from kapra_spark.operators.lineage import verify_against_lineage

    for s in STAGES:
        v = verify_against_lineage(spark, f"{base}/{s}", ["source", "day"],
                                   f"{base}/_lineage", s)
        assert v.filter(~F.col("ok") | F.col("ok").isNull()).count() == 0, s


@pytest.fixture(scope="module")
def one_shot(spark, tokens, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("one_shot") / "store")
    run_rollup_pipeline(spark, tokens, base, run_id="one")
    return base, stage_metrics(spark, base)


def test_resume_recomputes_series_with_uncommitted_day(spark, tokens,
                                                       one_shot, tmp_path):
    """A two-day series whose day 0 is committed in every stage but
    whose day 1 is not is not pruned: day 1 is written, day 0 skipped."""
    base = str(tmp_path / "store")
    day0 = tokens.select("doc_id", F.slice("tokens", 1, 1440).alias("tokens"),
                         F.lit(1440).alias("n_tok"), "source")
    s1 = run_rollup_pipeline(spark, day0, base, run_id="d0")
    s2 = run_rollup_pipeline(spark, tokens, base, run_id="full")
    for s in STAGES:
        assert s2[s]["skipped_partitions"] == s1[s]["written_partitions"] > 0
        assert s2[s]["written_partitions"] > 0
    assert stage_metrics(spark, base) == one_shot[1]
    assert_lineage_ok(spark, base)


def test_kill_between_writes_and_commit(spark, tokens, one_shot, tmp_path,
                                        monkeypatch):
    """The data writes succeed, the single lineage commit fails: the
    next run recomputes the uncommitted partitions and overwrites them
    (no double counting), and lineage verifies."""
    from kapra_spark.operators import lineage

    base = str(tmp_path / "store")
    run_rollup_pipeline(spark, tokens.filter(F.col("source") == "sales"),
                        base, run_id="a")

    def killed(*args, **kwargs):
        raise RuntimeError("killed before the lineage commit")

    with monkeypatch.context() as m:
        m.setattr(lineage, "append_lineage", killed)
        with pytest.raises(RuntimeError, match="killed"):
            run_rollup_pipeline(spark, tokens, base, run_id="b")
    # the killed run's data is on disk, uncommitted
    assert spark.read.parquet(f"{base}/tier_1h").count() == \
        sum(n for n, _ in one_shot[1]["tier_1h"].values())

    s = run_rollup_pipeline(spark, tokens, base, run_id="c")
    assert all(s[st]["written_partitions"] > 0 for st in STAGES)
    assert stage_metrics(spark, base) == one_shot[1]
    assert_lineage_ok(spark, base)


def test_committed_rerun_feeds_kernel_nothing(spark, tokens, one_shot,
                                              tmp_path, monkeypatch):
    """A rerun over a fully committed store prunes every series before
    the kernel and writes no file."""
    import os
    import shutil

    from kapra_spark.plans import rollup_plan

    base = str(tmp_path / "store")
    shutil.copytree(one_shot[0], base)

    def files():
        return {os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
                for d, _, fs in os.walk(base) for f in fs}

    before = files()
    fed = []
    kernel = rollup_plan.compress_and_cascade

    def spy(df, *args, **kwargs):
        fed.append(df)
        return kernel(df, *args, **kwargs)

    monkeypatch.setattr(rollup_plan, "compress_and_cascade", spy)
    stats = run_rollup_pipeline(spark, tokens, base, run_id="again")
    assert [df.count() for df in fed] == [0]
    assert all(stats[s]["written_partitions"] == 0 for s in STAGES)
    assert files() == before


def test_resume_from_per_stage_lineage(spark, tokens, one_shot, tmp_path):
    """A store committed stage by stage (one data write and one
    Row-built lineage append per stage, as before the one-commit
    writer) resumes to the one-shot tables with identical checksums."""
    from kapra_spark.operators.compress import compress_tokens
    from kapra_spark.operators.lineage import LINEAGE_COLS, partition_metrics
    from kapra_spark.operators.rollup import cascade_fast

    base, lin = str(tmp_path / "store"), str(tmp_path / "store/_lineage")
    part = tokens.filter(F.col("source") == "sales")
    frames = {"blocks_1m": compress_tokens(part).withColumnRenamed("bucket_day", "day")}
    tiers = cascade_fast(part, tiers=("1h", "1d"))
    for tier in ("1h", "1d"):
        frames[f"tier_{tier}"] = (
            tiers.filter(F.col("tier") == tier).drop("tier")
            .withColumn("day", F.to_date(F.timestamp_seconds("bucket"))))
    for stage, df in frames.items():
        rows = (partition_metrics(df, ["source", "day"])
                .withColumn("run_id", F.lit("legacy"))
                .withColumn("stage", F.lit(stage))
                .withColumn("committed_at", F.current_timestamp())
                .select(*LINEAGE_COLS).collect())
        df.write.mode("overwrite").partitionBy("source", "day").parquet(f"{base}/{stage}")
        spark.createDataFrame(rows).write.mode("append").parquet(lin)

    s = run_rollup_pipeline(spark, tokens, base, run_id="new")
    assert all(s[st]["skipped_partitions"] > 0 for st in STAGES)
    assert stage_metrics(spark, base) == one_shot[1]
    assert_lineage_ok(spark, base)


# ---------------------------------------------------------------------------
# input contract: len(tokens) == n_tok, checked where the kernel reads rows
# ---------------------------------------------------------------------------

def _tokens(spark, rows):
    return spark.createDataFrame(rows, schema=datagen.TOKENS_SCHEMA).coalesce(1)


def test_ntok_longer_than_tokens_raises(spark, tmp_path):
    """n_tok > len(tokens) used to read the next row's values (row a got
    a 1h sum of 106 from row b)."""
    df = _tokens(spark, [("a", [1, 2, 3], 4, "sales"),
                         ("b", [100, 200, 300, 400], 4, "sales")])
    with pytest.raises(Exception, match=r"ValueError: tokens row doc_id='a'"):
        run_rollup_pipeline(spark, df, str(tmp_path / "s"), run_id="r")


def test_ntok_shorter_than_tokens_raises(spark, tmp_path):
    """n_tok < len(tokens) used to drop the tail silently."""
    df = _tokens(spark, [("b", [100, 200, 300, 400], 4, "sales"),
                         ("c", [1, 2, 3, 4, 5], 3, "sales")])
    with pytest.raises(Exception, match=r"ValueError: tokens row doc_id='c'"):
        run_rollup_pipeline(spark, df, str(tmp_path / "s"), run_id="r")


def test_empty_series_emits_no_rows(spark, tmp_path):
    """n_tok = 0 used to crash the kernel; an empty series emits nothing."""
    base = str(tmp_path / "s")
    df = _tokens(spark, [("e", [], 0, "sales"), ("x", [5, 6, 7], 3, "sales")])
    stats = run_rollup_pipeline(spark, df, base, run_id="r")
    assert all(stats[s]["written_partitions"] == 1 for s in STAGES)
    for s in STAGES:
        got = [r["doc_id"] for r in spark.read.parquet(f"{base}/{s}").collect()]
        assert got == ["x"], s
    # a batch of empty series only
    only_empty = _tokens(spark, [("e", [], 0, "sales")])
    stats = run_rollup_pipeline(spark, only_empty, str(tmp_path / "e"), run_id="r")
    assert all(stats[s]["written_partitions"] == 0 for s in STAGES)
