"""Distributed mergeable sketches with an engine-portable hash family.

At 100 TB, exact per-key state is often the bottleneck: heavy-hitter
detection, membership prefilters and cardinality all have sketch
answers whose state is KBs instead of the key space. This module ships
the two a training-data pipeline reaches for first:

- **Count-min sketch** (Cormode & Muthukrishnan 2005): a ``depth × width``
  counter grid. Built as ONE narrow explode + hash group-by (the groupBy
  IS the merge — partial aggregation map-side, so the shuffle moves at
  most ``depth × width`` rows per partition, never the data). Estimates
  upper-bound true counts; error ≤ n/width with prob. 1-(1/2)^depth.
- **Bloom filter** (Bloom 1970): bit-position set from k hashes. Built
  the same way (explode + distinct), broadcast back for membership — the
  scale path for decontamination when the reference set's raw n-grams
  are too large to broadcast but its bits are not.

Determinism: every hash is ``md5(salt:i:key)`` truncated to 8 hex digits
— the same engine-portable convention as ``corpus.hash_bucket`` — so the
full sketch pipeline (bucket values, counter grid, estimates, membership
verdicts, even Bloom false positives) is bit-reproducible in DuckDB and
certified by the driver's value-hash gate, not just bounded by theory.

Reference: xarray-beam has no sketch surface (its combiners are exact
mean/sum, ``combiners.py``); this is an extension on the same
pre-aggregate-then-merge pattern its ``MeanCombineFn`` uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_beam_spark.session import persist_scoped
from xarray_beam_spark.tables import load

REGISTRY: dict = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def portable_hash(key: Column, i: int, modulus: int, salt: str) -> Column:
    """Uniform bucket in [0, modulus) from md5(``salt:i:key``) — row-local,
    engine-portable (DuckDB replays it exactly: see the oracle strings),
    stable under repartitioning."""
    s = F.concat(F.lit(f"{salt}:{i}:"), key.cast("string"))
    return F.conv(F.substring(F.md5(s), 25, 8), 16, 10).cast("long") % modulus


def _sql_hash(key_sql: str, i_sql: str, modulus: int, salt: str) -> str:
    return (
        f"CAST('0x' || substr(md5('{salt}:' || {i_sql} || ':' || "
        f"CAST({key_sql} AS VARCHAR)), 25, 8) AS BIGINT) % {modulus}"
    )


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 256,
    depth: int = 4,
    salt: str = "xbs-cms",
) -> DataFrame:
    """Build a count-min sketch over ``df[key_col]`` as a ``(d, bucket,
    cnt)`` DataFrame of at most ``depth × width`` rows.

    One narrow per-row explode (depth struct literals — pure JVM) feeding
    a hash group-by with map-side partial aggregation: the shuffle volume
    is bounded by the sketch size per partition, independent of row
    count. Sketches over different inputs merge by union + re-group."""
    probes = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                portable_hash(F.col(key_col), d, width, salt).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 256,
    depth: int = 4,
    salt: str = "xbs-cms",
) -> DataFrame:
    """Point-estimate each key in ``keys``: min over depth of its bucket
    counters (absent bucket = 0). Adds an ``est`` column.

    The sketch side is broadcast (≤ depth × width rows by construction);
    the probe side is a narrow explode + broadcast join + per-key min —
    no shuffle of the key table beyond the final keyed aggregation."""
    probes = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                portable_hash(F.col(key_col), d, width, salt).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    exploded = keys.select(key_col, F.explode(probes).alias("p")).select(
        key_col, F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket")
    )
    return (
        exploded.join(F.broadcast(cms), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


_CMS_WIDTH, _CMS_DEPTH = 256, 4

_CMS_ORACLE = f"""
WITH ds AS (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS d),
h AS (
  SELECT e.user_id, ds.d,
         {_sql_hash('e.user_id', 'ds.d', _CMS_WIDTH, 'xbs-cms')} AS bucket
  FROM events e CROSS JOIN ds
),
cms AS (SELECT d, bucket, COUNT(*) AS cnt FROM h GROUP BY 1, 2),
keys AS (SELECT DISTINCT user_id FROM events),
probes AS (
  SELECT k.user_id, ds.d,
         {_sql_hash('k.user_id', 'ds.d', _CMS_WIDTH, 'xbs-cms')} AS bucket
  FROM keys k CROSS JOIN ds
),
est AS (
  SELECT p.user_id, MIN(COALESCE(c.cnt, 0)) AS est
  FROM probes p LEFT JOIN cms c USING (d, bucket)
  GROUP BY p.user_id
),
truth AS (SELECT user_id, COUNT(*) AS true_cnt FROM events GROUP BY 1),
n AS (SELECT COUNT(*) AS total FROM events)
SELECT e.user_id, e.est, t.true_cnt
FROM est e JOIN truth t USING (user_id) CROSS JOIN n
WHERE e.est * 200 >= n.total
"""


@_register("events_cms_heavy_hitters", _CMS_ORACLE)
def events_cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (est ≥ n/200) over event user_ids via count-min, with
    the exact count joined alongside — certifying the sketch's counters,
    estimates AND selection bit-for-bit against the DuckDB replay. The
    n/200 threshold is scale-free, so the same gate is meaningful at
    every sf."""
    ev = load(spark, sf_dir, "events")
    cms = cms_build(ev, "user_id", _CMS_WIDTH, _CMS_DEPTH)
    keys = ev.select("user_id").distinct()
    est = cms_estimate(cms, keys, "user_id", _CMS_WIDTH, _CMS_DEPTH)
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    # 1-row broadcast scalar (the tabular.py pattern), not an eager
    # driver-side ev.count(): that paid a full extra scan job before the
    # real query and froze the count as a plan literal
    total = ev.agg(F.count(F.lit(1)).alias("__total"))
    return (
        est.join(truth, "user_id")
        .crossJoin(F.broadcast(total))
        .where(F.col("est") * 200 >= F.col("__total"))
        .select("user_id", "est", "true_cnt")
    )


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 14,
    k_hashes: int = 4,
    salt: str = "xbs-bloom",
) -> DataFrame:
    """Set-bit positions of a Bloom filter over ``df[key_col]`` — a
    DataFrame of at most ``m_bits`` single-column rows (narrow explode +
    distinct; same mergeable group-by shape as :func:`cms_build`)."""
    probes = F.array(
        *[portable_hash(F.col(key_col), i, m_bits, salt) for i in range(k_hashes)]
    )
    return df.select(F.explode(probes).alias("bit")).distinct()


def bloom_contains(
    bloom: DataFrame,
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 14,
    k_hashes: int = 4,
    salt: str = "xbs-bloom",
) -> DataFrame:
    """Membership verdicts: adds ``maybe_member`` (true iff ALL ``k``
    probe bits are set — Bloom semantics: no false negatives, bounded
    false positives). The bit set is broadcast; the probe side never
    shuffles except the final per-key aggregation."""
    probes = F.array(
        *[portable_hash(F.col(key_col), i, m_bits, salt) for i in range(k_hashes)]
    )
    exploded = keys.select(key_col, F.explode(probes).alias("bit"))
    hits = (
        exploded.join(F.broadcast(bloom.withColumn("__set", F.lit(1))), "bit", "left")
        .groupBy(key_col)
        .agg((F.count(F.lit(1)) == F.sum(F.coalesce(F.col("__set"), F.lit(0)))).alias("maybe_member"))
    )
    return hits


_INLINE_BLOOM_MAX_BITS = 1 << 17  # 2048 long literals — safe for codegen


def bloom_bitmask(bloom: DataFrame, m_bits: int) -> list[int]:
    """Driver-side word list (``m_bits/64`` signed int64 words) from a
    built Bloom bit set — a BOUNDED metadata collect (≤ ``m_bits`` rows,
    16 KiB at the default size; same class as the ANN centroid collects).
    Feed to :func:`bloom_contains_expr` for shuffle-free membership."""
    if m_bits > _INLINE_BLOOM_MAX_BITS:
        raise ValueError(
            f"inline bloom capped at {_INLINE_BLOOM_MAX_BITS} bits "
            f"(got {m_bits}); use the bloom_contains join path instead"
        )
    words = [0] * ((m_bits + 63) // 64)
    for r in bloom.collect():
        b = int(r["bit"])
        words[b >> 6] |= 1 << (b & 63)
    # Spark long literals are signed: fold to two's complement
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_contains_expr(
    words: list[int],
    key: Column,
    m_bits: int,
    k_hashes: int = 4,
    salt: str = "xbs-bloom",
) -> Column:
    """Bloom membership as a pure JVM PROJECTION: the bitmask rides the
    plan as a literal long array and every probe is an
    element_at + shiftright + AND — zero shuffles, zero joins, stays in
    whole-stage codegen. This is how membership should look at 100 TB
    when the filter fits a task (the :func:`bloom_contains` broadcast
    join is the fallback for filters too big to inline). Arithmetic
    shiftright on negative words is fine: only bit 0 is read after the
    shift, and low bits are shift-mode-independent."""
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    out = None
    for i in range(k_hashes):
        b = portable_hash(key, i, m_bits, salt)
        word = F.element_at(arr, F.call_function("div", b, F.lit(64)).cast("int") + F.lit(1))
        bit = F.call_function(
            "shiftright", word, (b % F.lit(64)).cast("int")
        ).bitwiseAND(F.lit(1))
        test = bit == F.lit(1)
        out = test if out is None else out & test
    return out


_BLOOM_BITS, _BLOOM_K = 1 << 14, 4

_BLOOM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 4 + 2),
                               i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS g
  FROM toks WHERE len(t) >= 4
), ks AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i),
bench_bits AS (
  SELECT DISTINCT {_sql_hash('g', 'ks.i', _BLOOM_BITS, 'xbs-bloom')} AS bit
  FROM (SELECT DISTINCT g FROM grams WHERE doc_id % 23 = 0) CROSS JOIN ks
),
corpus AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 23 <> 0),
probes AS (
  SELECT c.doc_id, c.g, ks.i,
         {_sql_hash('c.g', 'ks.i', _BLOOM_BITS, 'xbs-bloom')} AS bit
  FROM corpus c CROSS JOIN ks
),
verdicts AS (
  SELECT doc_id, g,
         (COUNT(*) = SUM(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END)) AS maybe
  FROM probes p LEFT JOIN bench_bits b USING (bit)
  GROUP BY doc_id, g
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM verdicts GROUP BY doc_id HAVING SUM(CASE WHEN maybe THEN 1 ELSE 0 END) > 0
"""


@_register("corpus_bloom_decontaminate", _BLOOM_ORACLE)
def corpus_bloom_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter decontamination: the benchmark slice's 4-gram set
    becomes a 16 Kbit Bloom filter; corpus docs are flagged by distinct
    grams whose k probe bits are all set. The scale path when the raw
    benchmark grams outgrow a broadcast (`corpus_decontaminate` is the
    exact variant) — Bloom false positives are PART of the certified
    output: the oracle replays the identical bits, so the flagged-gram
    counts match exactly, FPs included."""
    from xarray_beam_spark.operators.corpus import _token_ngrams
    from xarray_beam_spark.tables import fan_out_narrow_scan

    # the gram explode + k md5 probes per gram is the heavy per-row leg —
    # it must not run serially on a one-file scan (same rationale as
    # corpus_decontaminate; no-op on a many-file corpus at scale)
    docs = fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    g_expr, toks = _token_ngrams("text", 4)
    grams = (
        docs.withColumn("__xbs_toks", toks)
        .where(F.size("__xbs_toks") >= 4)
        .select("doc_id", F.explode(g_expr).alias("g"))
    )
    # the gram table feeds TWO consumers — the benchmark-slice Bloom build
    # (whose bitmask collect runs eagerly below) and the corpus probe side
    # — and without a persist each one re-runs the scan + tokenize +
    # explode from scratch (no exchange to reuse: both legs are narrow).
    # (doc_id, gram) rows are the natural checkpoint of this pipeline;
    # session-scoped like the dedup shingle tables, unpersisted by the
    # next reset() (r16, guide §2.4/§5: reuse beats recompute here)
    grams = persist_scoped(grams)
    # no gram-level distinct: bloom_build's bit-level distinct yields the
    # identical bit set (duplicated grams set the same bits), and the
    # map-side partial distinct bounds each partition's exchange at
    # m_bits rows — one full exchange fewer (r16 A/B: 3/3 pairs faster,
    # bit sets verified equal)
    bench = grams.where(F.col("doc_id") % 23 == 0).select("g")
    corpus = grams.where(F.col("doc_id") % 23 != 0).select("doc_id", "g")
    bloom = bloom_build(bench, "g", _BLOOM_BITS, _BLOOM_K)
    # membership as a shuffle-free projection (r8): the 16 Kbit mask is a
    # literal long array, every corpus gram tests its k probe bits inline
    # — vs the old explode→broadcast-join→groupBy(g)→join(g) plan, this
    # drops three shuffles; at 100 TB the probe side never re-keys at all
    words = bloom_bitmask(bloom, _BLOOM_BITS)
    maybe = bloom_contains_expr(words, F.col("g"), _BLOOM_BITS, _BLOOM_K)
    # per-doc DISTINCT-gram counts via an explicit (doc_id, g) pre-dedup
    # (r15 continuation): TWO countDistincts over the same column make
    # the planner Expand every gram row 2x (one copy per aggregate)
    # before the partial aggregation, doubling the bytes through the
    # first exchange. dropDuplicates ships each distinct (doc, gram)
    # once (still map-side partially deduped), and both counts — plus
    # the k md5 probe evaluations inside `maybe` — then run over the
    # deduped rows only. Value-identical (maybe is a pure function of
    # g); interleaved A/B: 11/13 alternations faster, median -16%.
    dg = corpus.dropDuplicates(["doc_id", "g"])
    return (
        dg.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(maybe, 1).otherwise(0)).cast("long").alias("n_flagged"),
        )
        .where(F.col("n_flagged") > 0)
    )


# ---------------------------------------------------------------------------
# hyperloglog
# ---------------------------------------------------------------------------

_HLL_M = 256  # 2^8 buckets -> ~6.5% relative error
_HLL_B = 8
_HLL_WBITS = 32 - _HLL_B  # bits left for the rank after bucket extraction
# alpha_m * m^2 * 2^WBITS, folded into ONE double literal so both engines
# perform a single division — double arithmetic is deterministic only if
# the expression tree is identical, so neither side multiplies piecewise.
_HLL_NUM = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(2 ** _HLL_WBITS)


def hll_build(df: DataFrame, key_col: str, group_cols: list[str] | None = None,
              salt: str = "xbs-hll") -> DataFrame:
    """HyperLogLog registers (Flajolet et al. 2007) per group: ``(group...,
    bucket, reg)`` rows, at most ``m=256`` per group.

    Same mergeable group-by shape as :func:`cms_build` (merge = union +
    max per bucket). Everything is integer math on the portable md5 hash:
    bucket = low 8 bits, rank = trailing-zero count of the remaining 24
    bits + 1 (``bit_count((w & -w) - 1)`` — exact in Spark AND DuckDB),
    so registers — and the estimate below — replay bit-identically."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))), 25, 8),
        16, 10,
    ).cast("long")
    bucket = h % _HLL_M
    w = h / F.lit(_HLL_M)
    w = F.floor(w).cast("long")
    # w == 0 conceptually means rank WBITS+1, but the dyadic-sum
    # estimate stores 2^(WBITS - reg) as a BIGINT: reg = WBITS+1 would be
    # shiftleft(1, -1), which Java masks to shiftleft(1, 63) = LONG_MIN —
    # a corrupted estimate (and DuckDB's `1 << -1` diverges separately).
    # Cap at WBITS: the term contributes 1 instead of an unrepresentable
    # 0.5 — a one-part-in-2^24 bias on ~2^-24-probability keys.
    rank = F.when(w == 0, F.lit(_HLL_WBITS)).otherwise(
        F.bit_count((w.bitwiseAND(-w)) - 1) + 1
    )
    gcols = list(group_cols or [])
    return (
        df.select(*gcols, bucket.alias("bucket"), rank.alias("r"))
        .groupBy(*gcols, "bucket")
        .agg(F.max("r").alias("reg"))
    )


def hll_estimate(regs: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Raw HLL cardinality estimate per group from a register table.

    Exact-integer core: ``S = Σ_buckets 2^(WBITS - reg)`` with empty
    buckets contributing ``2^WBITS`` — dyadic terms summed as BIGINT, so
    the only float op is the final single division (deterministic in any
    engine). Emits ``est`` (double) and ``n_zero_buckets``; the small-range
    linear-counting correction needs ``ln`` (not bit-portable), so callers
    wanting it apply ``m·ln(m/V)`` themselves from these exact fields."""
    gcols = list(group_cols or [])
    per = regs.groupBy(*gcols).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS} - reg)")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    s_total = F.col("s_present") + (F.lit(_HLL_M) - F.col("n_present")) * F.lit(2 ** _HLL_WBITS)
    return per.select(
        *gcols,
        (F.lit(_HLL_NUM) / s_total.cast("double")).alias("est"),
        (F.lit(_HLL_M) - F.col("n_present")).cast("long").alias("n_zero_buckets"),
    )


_HLL_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         CAST('0x' || substr(md5('xbs-hll:' || CAST(user_id AS VARCHAR)), 25, 8) AS BIGINT) AS hv
  FROM events
),
parts AS (
  SELECT event_type, hv % {_HLL_M} AS bucket, hv // {_HLL_M} AS w FROM h
),
ranks AS (
  SELECT event_type, bucket,
         CASE WHEN w = 0 THEN {_HLL_WBITS}
              ELSE bit_count(CAST(w & -w AS BIGINT) - 1) + 1 END AS r
  FROM parts
),
regs AS (SELECT event_type, bucket, MAX(r) AS reg FROM ranks GROUP BY 1, 2),
sums AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_WBITS} - reg)) AS BIGINT) AS s_present,
         COUNT(*) AS n_present
  FROM regs GROUP BY 1
),
est AS (
  SELECT event_type,
         {_HLL_NUM!r} / CAST(s_present + ({_HLL_M} - n_present) * {2 ** _HLL_WBITS} AS DOUBLE) AS est,
         CAST({_HLL_M} - n_present AS BIGINT) AS n_zero_buckets
  FROM sums
),
truth AS (SELECT event_type, COUNT(DISTINCT user_id) AS true_distinct FROM events GROUP BY 1)
SELECT e.event_type, e.est, e.n_zero_buckets, t.true_distinct
FROM est e JOIN truth t USING (event_type)
"""


@_register("events_hll_user_cardinality", _HLL_ORACLE)
def events_hll_user_cardinality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user cardinality per event type via HyperLogLog, exact
    count alongside — registers, dyadic sums AND the raw estimate are all
    certified bit-for-bit against the DuckDB replay (integer rho + one
    final division), not just accuracy-bounded."""
    ev = load(spark, sf_dir, "events")
    regs = hll_build(ev, "user_id", ["event_type"])
    est = hll_estimate(regs, ["event_type"])
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return est.join(truth, "event_type").select(
        "event_type", "est", "n_zero_buckets", "true_distinct"
    )
