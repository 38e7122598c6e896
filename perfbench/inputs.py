"""Seeded input tables. kapra_spark receives only these tables: the
benchmark generates them with ``kapra_spark.datagen`` from ``--seed``
and materialises them as parquet inside the run's scratch directory."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kapra_spark import datagen
from kapra_spark.operators.rollup import EPOCH_SECONDS

#: 144-token (one day at 1-minute grain) series with 15% leading gaps
#: over the four Zipf-skewed datagen sources
SERIES = 5_000
#: two-day series (distinct ``m``-prefixed doc_ids): ragged batches and
#: day-split Gorilla blocks
MULTI_DAY_SERIES = 200
MULTI_DAY_TOKENS = 2880
#: gap-free series for the anonymizer; the last token is the sensitive
#: attribute (kapra's column convention)
ANON_SERIES = 20_000
ANON_TOKENS = 64

DAY_POINTS = 1440


def tokens_table(spark: SparkSession, seed: int) -> DataFrame:
    # a few generator tasks: each one pays a Python worker round trip
    base = datagen.tokens_df(spark, SERIES, n_tok=144, seed=seed, fast=True,
                             partitions=4)
    multi = (datagen.tokens_df(spark, MULTI_DAY_SERIES, n_tok=MULTI_DAY_TOKENS,
                               seed=seed, fast=True, partitions=2)
             .withColumn("doc_id", F.concat(F.lit("m"), F.col("doc_id"))))
    return base.unionByName(multi)


def anon_table(spark: SparkSession, seed: int) -> DataFrame:
    return datagen.tokens_df(spark, ANON_SERIES, n_tok=ANON_TOKENS, seed=seed,
                             gap_fraction=0.0, fast=True)


def materialize(table: DataFrame, path: str) -> DataFrame:
    table.write.mode("overwrite").parquet(path)
    return table.sparkSession.read.parquet(path)


def day_chunks(tokens: DataFrame) -> DataFrame:
    """(doc_id, source, t0, tokens) per UTC-day chunk of every series:
    the shape ``decompress_tokens`` returns, derived from the input."""
    start = F.explode(F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(DAY_POINTS)))
    return (tokens.select("doc_id", "source", "tokens", start.alias("s"))
            .select("doc_id", "source",
                    (F.lit(EPOCH_SECONDS) + F.col("s").cast("long") * 60).alias("t0"),
                    F.expr(f"slice(tokens, s + 1, {DAY_POINTS})").alias("tokens")))


def chunk_hash() -> F.Column:
    """Order-independent hash of day chunks: two tables of chunks hash
    equal when every series reassembles (by t0) to the same array."""
    return F.bit_xor(F.xxhash64("doc_id", "source", "t0", "tokens"))


def row_hash(tokens: DataFrame) -> int:
    """Order-independent hash of every row of a tokens table."""
    return tokens.agg(F.bit_xor(F.xxhash64("doc_id", "tokens", "n_tok", "source"))
                      ).collect()[0][0]


def digest(tokens: DataFrame) -> dict:
    """Size and order-independent digest of a tokens table. The digest
    is the day-chunk hash, so a full replay of the blocks store must
    reproduce it."""
    row = day_chunks(tokens).agg(
        F.count(F.when(F.col("t0") == EPOCH_SECONDS, 1)).alias("rows"),
        F.sum(F.size("tokens")).alias("points"),
        F.sum(F.when(F.col("source") != "economy", F.size("tokens"))).alias("points_a"),
        chunk_hash().alias("hash"),
    ).collect()[0]
    return {"rows": row["rows"], "points": row["points"],
            "points_a": row["points_a"], "digest": hex_digest(row["hash"])}


def hex_digest(value: int) -> str:
    return f"{value & (2 ** 64 - 1):016x}"
