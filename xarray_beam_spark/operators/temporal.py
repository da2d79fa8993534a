"""Temporal joins the reference (and stock Spark SQL) lack as operators:
as-of joins and point-in-interval (range) joins, expressed shuffle-lean.

The reference engine has no relational surface at all; these are part of
the tabular bridge's "custom operators Spark lacks" family (SURVEY.md
§2.4). Both are built from Spark primitives only — no Python in the hot
path, no theta join:

- :func:`asof_join` — the classic *union-scan* formulation: tag both
  sides, union, hash-shuffle once on the join keys, sort each key group
  by time, and carry the most recent right row forward with
  ``last(struct, ignorenulls=True)`` over a running window. One Exchange
  + one sort, identical asymptotics to a sort-merge join; never a
  BroadcastNestedLoopJoin. This is the distributed equivalent of pandas
  ``merge_asof`` / DuckDB ``ASOF JOIN``.
- :func:`interval_join` — time-bin bucketing: intervals explode to the
  fixed-width bins they overlap, points map to their single bin, and the
  candidate set is a plain equi-join on (keys…, bin) + an exact residual
  filter. Candidate blowup is bounded by ``interval_len / bin_width + 1``
  per interval; AQE handles hot bins.

100 TB notes: both operators shuffle exactly once on the join keys (+
bin). Per-key work in ``asof_join`` is a sequential scan inside the
window — fine when keys are plentiful (users, devices); a single global
key degenerates to one task, same as any engine's ordered asof.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    NumericType,
    ShortType,
    TimestampNTZType,
    TimestampType,
)

from xarray_beam_spark.registry import registrar
from xarray_beam_spark.tables import load

REGISTRY: dict = {}
_register = registrar(REGISTRY)


_SIDE = "__xbs_side"
_TIME = "__xbs_t"
_CARRY = "__xbs_match"
_RT = "__xbs_rt"


def _floor_div(x: Column, w: int) -> Column:
    """Exact floor division on int64 — never a double divide.

    ``floor(x / w)`` detours through a double, which misrounds across an
    integer boundary for |x| above ~2^53 (silently binning a point or
    interval into the wrong bucket). Instead subtract the non-negative
    remainder (``pmod``) and integer-divide the exact multiple: ``div``
    truncates toward zero, but on an exact multiple truncation == floor.
    """
    xl = x.cast("long")
    return F.call_function("div", xl - F.pmod(xl, F.lit(w)), F.lit(w))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str | None = None,
    *,
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance: Column | None = None,
    how: str = "left",
) -> DataFrame:
    """Distributed as-of join (pandas ``merge_asof`` / DuckDB ``ASOF JOIN``).

    For every left row, attach the single right row with the same ``on``
    keys whose ``right_time`` is the closest at-or-before ``left_time``
    (``direction="backward"``; ``"forward"`` = closest at-or-after;
    ``"nearest"`` = smaller absolute distance of the two, ties to the
    backward row like pandas — computed as two carries over the SAME
    hash partitioning, so still exactly one Exchange).

    Implementation (union-scan, no join node): both sides are unioned
    with a side tag, shuffled once on ``on``, sorted by
    ``(time, side)``, and each right row's payload (packed in ONE struct
    so ``last(ignorenulls=True)`` can never mix columns from different
    right rows) is carried across subsequent left rows by a running
    window. Equal timestamps: the side tag orders right rows before left
    rows iff ``allow_exact_matches``.

    NULL semantics match SQL equality: right rows with a NULL key or
    time never match; left rows with a NULL key or time get no match.
    Ties among *right* rows with identical (keys, time) are broken
    arbitrarily (same caveat as DuckDB ASOF) — pre-dedupe if you need
    determinism there.

    ``tolerance``: optional Column bounding the match distance, e.g.
    ``F.expr("INTERVAL 7 DAYS")``; farther matches become NULL (or are
    dropped under ``how="inner"``).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    if how not in ("left", "inner"):
        raise ValueError(f"how must be left|inner, got {how!r}")
    on = list(on)
    right_time = right_time or left_time
    # When both sides share the time column name, the right time is still
    # carried internally (struct field _RT, used by the tolerance check)
    # but not emitted — the left column keeps the name.
    payload = [
        c for c in right.columns
        if c not in on and not (c == right_time == left_time)
    ]
    clash = set(payload) & set(left.columns)
    if clash:
        raise ValueError(
            f"right payload columns collide with left: {sorted(clash)}; "
            "rename (e.g. .withColumnRenamed) before joining"
        )

    # Right rows sort before equal-time left rows iff exact matches count.
    right_rank = 0 if allow_exact_matches else 1
    null_key = F.lit(False)
    for k in on:
        null_key = null_key | F.col(k).isNull()

    r = (
        right.where(~null_key & F.col(right_time).isNotNull())
        .select(
            *on,
            F.col(right_time).alias(_TIME),
            F.lit(right_rank).alias(_SIDE),
            F.struct(
                *payload, F.col(right_time).alias(_RT)
            ).alias(_CARRY),
        )
    )
    l = left.select(
        "*",
        F.col(left_time).alias(_TIME),
        F.lit(1 - right_rank).alias(_SIDE),
        F.lit(None).cast(r.schema[_CARRY].dataType).alias(_CARRY),
    )
    lpay = [c for c in left.columns]
    u = l.select(*lpay, _TIME, _SIDE, _CARRY).unionByName(
        r.select(
            *on,
            *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lpay if c not in on],
            _TIME,
            _SIDE,
            _CARRY,
        )
    )

    def _carry(time_order) -> Column:
        w = (
            Window.partitionBy(*on)
            .orderBy(time_order, F.col(_SIDE).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last(_CARRY, ignorenulls=True).over(w)

    if direction == "nearest":
        # both carries over the SAME partitioning: one Exchange, two sorts.
        # Ties (equal distance) prefer the backward row, matching pandas.
        rt_dtype = right.schema[right_time].dataType
        if isinstance(rt_dtype, (TimestampType, TimestampNTZType)):
            def _num(c: Column) -> Column:
                return F.unix_micros(c.cast("timestamp"))
        elif isinstance(
            rt_dtype, (ByteType, ShortType, IntegerType, LongType)
        ):
            # exact: a double detour would misround int64 above 2^53 and
            # decide backward-vs-forward ties by the wrong distance
            def _num(c: Column) -> Column:
                return c.cast("long")
        else:
            def _num(c: Column) -> Column:
                return c.cast("double")
        back_m = _carry(F.col(_TIME).asc())
        fwd_m = _carry(F.col(_TIME).desc())
        u = u.withColumn("__xbs_b", back_m).withColumn("__xbs_f", fwd_m)
        dist_b = _num(F.col(_TIME)) - _num(F.col(f"__xbs_b.{_RT}"))
        dist_f = _num(F.col(f"__xbs_f.{_RT}")) - _num(F.col(_TIME))
        chosen = (
            F.when(F.col("__xbs_b").isNull(), F.col("__xbs_f"))
            .when(F.col("__xbs_f").isNull(), F.col("__xbs_b"))
            .when(dist_b <= dist_f, F.col("__xbs_b"))
            .otherwise(F.col("__xbs_f"))
        )
        out = (
            u.withColumn(_CARRY, chosen)
            .drop("__xbs_b", "__xbs_f")
            .where(F.col(_SIDE) == (1 - right_rank))
        )
    else:
        t = F.col(_TIME).asc() if direction == "backward" else F.col(_TIME).desc()
        out = u.withColumn(_CARRY, _carry(t)).where(
            F.col(_SIDE) == (1 - right_rank)
        )

    # Left rows with NULL key/time never match.
    null_left = null_key | F.col(left_time).isNull()
    out = out.withColumn(_CARRY, F.when(null_left, None).otherwise(F.col(_CARRY)))

    if tolerance is not None:
        rt = F.col(_CARRY)[_RT]
        if direction == "backward":
            ok = rt >= F.col(left_time) - tolerance
        elif direction == "forward":
            ok = rt <= F.col(left_time) + tolerance
        else:  # nearest: bounded on both sides
            ok = (rt >= F.col(left_time) - tolerance) & (
                rt <= F.col(left_time) + tolerance
            )
        out = out.withColumn(_CARRY, F.when(ok, F.col(_CARRY)))
    if how == "inner":
        out = out.where(F.col(_CARRY).isNotNull())
    return out.select(
        *lpay, *[F.col(f"{_CARRY}.{c}").alias(c) for c in payload]
    )


def _to_long(df: DataFrame, col: str) -> Column:
    """Time column → sortable/binnable int64 (µs for timestamps)."""
    dt = df.schema[col].dataType
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return F.unix_micros(F.col(col).cast("timestamp"))
    if isinstance(dt, NumericType):
        return F.col(col).cast("long")
    raise TypeError(f"column {col!r} has non-temporal, non-numeric type {dt}")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    point_time: str,
    lo: str,
    hi: str,
    *,
    bin_width: float | None = None,
    closed: str = "left",
) -> DataFrame:
    """Point-in-interval (range) join as a bucketed equi-join.

    Returns every (point, interval) pair with equal ``on`` keys and
    ``lo <= t < hi`` (``closed="left"``; ``"both"`` = ``t <= hi``).
    Output = all point columns + the interval's non-key columns.

    Plan shape: intervals explode to the fixed-width time bins they
    overlap (``sequence`` — bounded by interval_len/bin_width + 1 rows
    each), points compute their single bin, and the join is a hash
    equi-join on (keys…, bin) with the exact range predicate as a
    residual filter. No BroadcastNestedLoopJoin / CartesianProduct at
    any scale. Each qualifying pair appears exactly once (a point has
    one bin; an interval's bins are distinct).

    ``bin_width`` (seconds for timestamps, units for numerics): defaults
    to the max interval length (one tiny agg over the intervals side —
    pass explicitly to skip that job and to tune candidate fan-out).
    """
    if closed not in ("left", "both"):
        raise ValueError(f"closed must be left|both, got {closed!r}")
    on = list(on)
    clash = (set(intervals.columns) - set(on)) & set(points.columns)
    if clash:
        raise ValueError(
            f"interval payload columns collide with points: {sorted(clash)}"
        )
    ts_like = isinstance(
        points.schema[point_time].dataType, (TimestampType, TimestampNTZType)
    )
    scale = 1_000_000 if ts_like else 1
    lo_u, hi_u = _to_long(intervals, lo), _to_long(intervals, hi)
    if bin_width is None:
        mx = intervals.agg(F.max(hi_u - lo_u).alias("m")).first()["m"]
        width = max(int(mx or scale), 1)
    else:
        width = max(int(bin_width * scale), 1)

    # [lo, hi) needs bins up to floor((hi-1)/w); [lo, hi] up to floor(hi/w).
    # The -1 is valid ONLY when hi's int64 image is exact (timestamps are
    # µs-exact; integers are themselves): for fractional columns,
    # _to_long truncates, so hi_u - 1 would drop the bin holding points
    # whose truncated value equals trunc(hi) — silently missing pairs
    # like t=4.2 in [1.0, 4.9).
    exact = isinstance(
        intervals.schema[hi].dataType,
        (TimestampType, TimestampNTZType, ByteType, ShortType, IntegerType, LongType),
    )
    hi_bin_end = hi_u - 1 if (closed == "left" and exact) else hi_u
    iv = intervals.where(hi_bin_end >= lo_u).select(
        "*",
        F.explode(
            F.sequence(_floor_div(lo_u, width), _floor_div(hi_bin_end, width))
        ).alias("__xbs_bin"),
    )
    pt = points.select(
        "*", _floor_div(_to_long(points, point_time), width).alias("__xbs_bin")
    )
    t = F.col(f"p.{point_time}")
    in_range = (t >= F.col(f"i.{lo}")) & (
        t < F.col(f"i.{hi}") if closed == "left" else t <= F.col(f"i.{hi}")
    )
    pay = [c for c in intervals.columns if c not in on]
    joined = pt.alias("p").join(
        iv.alias("i"),
        [F.col(f"p.{k}") == F.col(f"i.{k}") for k in on] + [
            F.col("p.__xbs_bin") == F.col("i.__xbs_bin")
        ],
    )
    return joined.where(in_range).select(
        *[F.col(f"p.{c}") for c in points.columns],
        *[F.col(f"i.{c}") for c in pay],
    )


# ---------------------------------------------------------------------------
# Correctness gates (driver-checked against DuckDB at sf0.01)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT c.event_id, c.user_id, c.ts, p.p_ts, p.p_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (
  SELECT user_id, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
) p ON c.user_id = p.user_id AND p.p_ts <= c.ts
"""


@_register("events_asof_last_purchase", _ASOF_ORACLE)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the same user's most recent purchase at-or-before
    the click (value + its timestamp) — distributed merge_asof via the
    union-scan window; oracle is DuckDB's native ASOF LEFT JOIN.
    (user_id, ts) is unique in the data, so the asof winner is unique."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    return asof_join(
        clicks, purchases, on=["user_id"], left_time="ts", right_time="p_ts"
    )


_INTERVAL_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
       s.event_id AS signup_id, s.lo, s.hi
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
JOIN (
  SELECT user_id, event_id, ts AS lo, ts + INTERVAL 6 HOUR AS hi
  FROM events WHERE event_type = 'signup'
) s ON c.user_id = s.user_id AND c.ts >= s.lo AND c.ts < s.hi
"""


@_register("events_interval_post_signup", _INTERVAL_ORACLE)
def events_interval_post_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (click, signup) pair where the click lands in the 6-hour
    window after the same user's signup — the point-in-interval join via
    time-bin bucketing; oracle is a plain inequality join."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 6 HOUR")).alias("hi"),
    )
    return interval_join(
        clicks,
        signups,
        on=["user_id"],
        point_time="click_ts",
        lo="lo",
        hi="hi",
        bin_width=6 * 3600,
    )
