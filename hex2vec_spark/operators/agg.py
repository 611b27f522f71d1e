"""Aggregation operators: caption explode + salted group-by + pivot.

Reference: group_df_by_tag_values / group_city_tags (make_dataset.py:
143-172) — one-hot pivot + groupby('h3').sum(). At scale the engine
keeps the **narrow form** (h3, feature, count) (SURVEY.md §1.1: a
726-wide mostly-zero matrix is an anti-pattern at 10^12 rows) and
pivots only bounded vocabularies on demand.

Skew (north_rule "salted group-by with explicit skew handling"): hot
cells concentrate 20%+ of rows in a handful of (h3, feature) groups.
``salted_count`` runs a two-phase aggregation with an explicit salt so
the heavy groups are split across ``n_salt`` reducers before the final
(tiny) re-sum. Spark's partial aggregation already map-side-combines,
so salting matters when upstream stages leave hot keys co-partitioned —
the salted path is the scale-safe default and is asserted equal to the
plain path in tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def explode_caption_tags(df: DataFrame, col: str = "caption") -> DataFrame:
    """Multi-value split -> explode -> trim (P3; load_data.py:42-44)."""
    return df.withColumn(
        "feature", F.explode(F.split(F.col(col), ";"))
    ).withColumn("feature", F.trim(F.col("feature"))).where(F.col("feature") != "")


def salted_count(
    df: DataFrame,
    keys: list[str],
    n_salt: int = 8,
    count_alias: str = "count",
) -> DataFrame:
    """Two-phase skew-safe count: groupBy(keys + salt) partial count,
    then groupBy(keys) final sum.

    Round 6 (guide §2.3 "aggregate before you shuffle"): the salt is the
    MAP PARTITION ID (mod n_salt), not a row-level hash. Within one task
    every row shares the same salt, so the phase-1 partial-aggregate
    state per task is (distinct keys x 1) instead of (distinct keys x
    n_salt) and the phase-1 shuffle carries ~n_salt x fewer partial
    rows (measured on the 6M-row flagship: hash salt 2.18 s vs
    partition salt at the plain-count 1.94 s, for identical output). A
    hot key still splits across up to n_salt reducers: its partial rows
    come from many map tasks, whose partition ids cover the salt range.
    Deterministic under retry: a recomputed task keeps its partition id
    (the guide §2.5 rand()-repartition hazard does not apply — no row
    changes its reducer on recompute).

    Precondition of the split: a hot key spreads across reducers only
    when its rows come from at least ``n_salt`` map partitions. Rows
    from fewer partitions (a small input, a few single-row-group files,
    an upstream repartition by the key) share fewer salts, so the key
    lands on fewer reducers; the count stays exact and map-side partial
    aggregation still shrinks what each reducer gets. There is no
    fallback to the row-hash salt for inputs with fewer partitions: the
    flagship input is written one file per core, so the fallback would
    move it onto the hash salt, which measured slower (2.18 s vs
    1.94 s, above).
    """
    salt = F.pmod(F.spark_partition_id().cast("long"), F.lit(n_salt)).alias("_salt")
    partial = df.groupBy(*keys, salt).agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").cast("double").alias(count_alias))


def plain_count(df: DataFrame, keys: list[str], count_alias: str = "count") -> DataFrame:
    return df.groupBy(*keys).agg(F.count(F.lit(1)).cast("double").alias(count_alias))


def estimate_heavy_keys(
    df: DataFrame,
    keys: list[str],
    sample_frac: float = 0.02,
    hot_share: float = 0.005,
    seed: int = 7,
) -> list[tuple[tuple, float]]:
    """Sampled heavy-hitter estimate (SURVEY.md M4 'hot-key detection'):
    count keys over a small row sample, return [(key_tuple, share)] for
    keys whose estimated share of all rows exceeds ``hot_share``. Cost:
    one pass over sample_frac of the data; the result is tiny (hot keys
    are by definition few) and safe to collect."""
    sample = df.sample(fraction=sample_frac, seed=seed).select(*keys)
    counts = sample.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    total = sample.count() or 1
    # threshold BEFORE collect: only the (few) hot keys reach the driver
    rows = counts.where(F.col("_n") >= hot_share * total).collect()
    return [(tuple(r[k] for k in keys), r["_n"] / total) for r in rows]


def adaptive_salted_count(
    df: DataFrame,
    keys: list[str],
    salt_src: str = "image_id",
    sample_frac: float = 0.02,
    hot_share: float = 0.005,
    seed: int = 7,
    count_alias: str = "count",
) -> DataFrame:
    """Skew-aware two-phase count with a *per-key* salt factor: hot keys
    (sampled heavy-hitter estimate) are split across enough reducers to
    bring their largest salted sub-group down to roughly one partition's
    fair share; cold keys keep salt factor 1 — no shuffle fan-out where
    none is needed. The fixed-salt variant (``salted_count``) fans every
    group out n_salt ways; at 10^12 rows that multiplies the final-agg
    input 16x for no benefit on the long tail of cold cells.

    Result is identical to the plain GROUP BY for any sample outcome
    (the salt only splits work); asserted in tests + the DuckDB oracle.

    COST NOTE: the heavy-hitter sample re-executes ``df``'s lineage
    (twice: count + thresholded collect). Use it on source-backed or
    cached DataFrames; for a derived pipeline either cache upstream or
    prefer fixed-salt ``salted_count`` (measured: sampling a 6M-row
    explode pipeline costs more than fixed salt saves).
    """
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    hot = estimate_heavy_keys(df, keys, sample_frac, hot_share, seed)
    if not hot:
        return plain_count(df, keys, count_alias)
    dim = spark.createDataFrame(
        pd.DataFrame(
            [(*k, max(2, int(share * n_part * 2 + 1))) for k, share in hot],
            columns=[*keys, "_factor"],
        ),
        df.select(*keys).schema.add("_factor", "integer"),
    )
    with_f = df.join(F.broadcast(dim), keys, "left").na.fill({"_factor": 1})
    salt = F.pmod(F.xxhash64(F.col(salt_src)), F.col("_factor")).alias("_salt")
    partial = with_f.groupBy(*keys, salt).agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").cast("double").alias(count_alias))


def hex_features(assignments: DataFrame, salted: bool = True) -> DataFrame:
    """The A1/A2 aggregation: per-(h3, feature) counts over the spatial
    join output. Narrow-form equivalent of the reference's pivot +
    groupby('h3').sum() (make_dataset.py:143-172)."""
    tags = explode_caption_tags(assignments)
    fn = salted_count if salted else plain_count
    return fn(tags, ["h3", "feature"])


def pivot_wide(features: DataFrame, vocab: list[str]) -> DataFrame:
    """Bounded-vocabulary pivot to the reference's wide matrix layout
    (missing columns back-filled with 0 — make_dataset.py:161-163)."""
    return (
        features.groupBy("h3")
        .pivot("feature", vocab)
        .agg(F.first("count"))
        .na.fill(0.0)
    )


def top_level_presence(assignments: DataFrame, cols: list[str]) -> DataFrame:
    """A3: per-hex presence counts of non-null top-level attributes
    (group_city_top_level_tags, make_dataset.py:174-190)."""
    aggs = [
        F.sum(F.when(F.col(c).isNotNull(), 1).otherwise(0)).cast("double").alias(f"n_{c}")
        for c in cols
    ]
    return assignments.groupBy("h3").agg(*aggs)
