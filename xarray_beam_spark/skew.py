"""Skew mitigation helpers: salting for hot keys.

AQE's skew-join handling (on by default in ``session.get_spark``) splits
oversized shuffle partitions for *sort-merge joins*, which covers most
cases. Salting remains necessary where AQE can't reach: broadcast-
ineligible aggregations over power-law keys, and joins through operators
AQE won't rewrite (e.g. grouped ``applyInArrow``). These helpers make
the pattern explicit and testable.

At 100 TB the rule: salt only the keys that need it. ``salted_join``
replicates the dimension side ``salt`` times — fine for dimension tables,
wasteful for fact-fact joins (use bucketing from :mod:`sinks` there).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__xbs_salt"


def add_salt(df: DataFrame, salt: int, seed: int = 42) -> DataFrame:
    """Uniform salt in [0, salt) per row. ``rand(seed)`` is deterministic
    per (partition, row-position); any value is correct — every salt has a
    matching replica on the other side — so task retries stay consistent
    enough for exactly-once sinks while the distribution stays uniform."""
    return df.withColumn(SALT_COL, F.floor(F.rand(seed) * salt).cast("int"))


def replicate_salts(df: DataFrame, salt: int) -> DataFrame:
    """Cross the (small) side with every salt value."""
    return df.withColumn(SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``big``'s join keys are skewed: hot keys spread
    over ``salt`` shuffle partitions, ``small`` replicated ``salt`` times
    so every (key, salt) bucket still finds its match. Output is identical
    to ``big.join(small, on, how)`` minus the salt column — for join
    types that preserve the BIG side only. Right/full outer joins are
    refused: an unmatched small-side key would surface once per salt
    replica (``salt`` duplicated null-extended rows), a silently wrong
    result no caller could distinguish from real data."""
    normalized = how.lower().replace("_", "")
    if normalized not in ("inner", "left", "leftouter", "leftsemi", "leftanti", "semi", "anti"):
        raise ValueError(
            f"salted_join cannot express how={how!r}: the replicated small "
            "side would emit one row per salt for unmatched keys; use an "
            "unsalted join (or bucketing) for right/full outer joins"
        )
    b = add_salt(big, salt)
    s = replicate_salts(small, salt)
    return b.join(s, on=[*on, SALT_COL], how=how).drop(SALT_COL)


def salted_count(df: DataFrame, keys: Sequence[str], salt: int = 16) -> DataFrame:
    """Two-phase count for power-law keys: partial count per (key, salt)
    — bounded partition size — then the tiny per-key rollup. Equivalent to
    ``df.groupBy(keys).count()``; use when a custom (e.g. applyInArrow)
    aggregation can't rely on Spark's built-in partial aggregation."""
    partial = add_salt(df, salt).groupBy(*keys, SALT_COL).agg(F.count(F.lit(1)).alias("__c"))
    return partial.groupBy(*keys).agg(F.sum("__c").alias("count"))
