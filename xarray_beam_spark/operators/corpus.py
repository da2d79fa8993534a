"""End-to-end corpus-cleaning pipeline: the composition story.

A training-data pipeline is not one operator but a funnel — quality
filter → language filter → deduplication → corpus stats. This module
composes the engine's text and dedup primitives into that funnel as ONE
declarative DataFrame plan, so Catalyst fuses the filter stages into a
single scan pass and the only shuffles are the dedup window and the
final rollup.

Every stage is a JVM-side expression (no Python in the hot path):
- quality: token/char/stopword counts from ``functions.text``
- language: the marker-word argmax from ``functions.text``
- dedup: first-doc-per-content-hash via one window over ``md5(text)``
- rollup: map-side-combinable groupBy

At 100 TB the plan is: one scan with fused predicates → one hash
shuffle on the 128-bit content hash (near-uniform keys, no skew) → one
partial-agg rollup. Nothing is driver-side.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xarray_beam_spark.functions.text import (
    TOKEN_SEP,
    detect_language,
    quality_features,
    sql_detect_language,
)
from xarray_beam_spark.session import persist_scoped
from xarray_beam_spark.tables import fan_out_narrow_scan, load

REGISTRY: dict = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def clean_corpus(
    docs: DataFrame,
    min_tokens: int = 25,
    max_tokens: int = 95,
) -> DataFrame:
    """Quality-filter, language-tag, and exact-dedup a document corpus.

    Input needs ``doc_id, source, text`` columns; output keeps one row
    per surviving document with ``detected`` (language) and ``n_tokens``
    added. Stages compose lazily — callers can keep filtering or join
    the survivors back to the full corpus.
    """
    feats = quality_features(F.col("text"))
    # the quality/langid regex chains are the heavy per-row leg — they
    # must not run serially on a narrow scan (see fan_out_narrow_scan)
    q = fan_out_narrow_scan(docs).select(
        "doc_id",
        "source",
        "text",
        feats["n_tokens"].alias("n_tokens"),
    ).where(F.col("n_tokens").between(min_tokens, max_tokens))
    lang = q.select(
        "*", detect_language(F.col("text")).alias("detected")
    )
    # exact dedup as a map-side-combinable min(struct) aggregation:
    # doc_id leads the struct, so the lexicographic min IS the lowest-id
    # copy — same row a row_number window keeps, without shuffling and
    # sorting every surviving column's full data by the hash key
    cols = lang.columns  # doc_id leads (select order) -> lowest-id-wins
    deduped = (
        lang.groupBy(F.md5("text").alias("__h"))
        .agg(F.min(F.struct(*cols)).alias("__r"))
        .select(*[F.col(f"__r.{c}").alias(c) for c in cols])
    )
    # The language filter sits ABOVE the dedup aggregation, where it reads
    # the already-computed struct field. Row-identical to filtering before
    # the group-by — `detected` is a pure function of the group key text —
    # but placed before the aggregation, Catalyst substitutes the alias and
    # pushes the whole ~45-expression langid chain into the scan filter,
    # evaluating it a second time in the output projection AND below the
    # fan-out exchange (single-core on a narrow gate scan). Measured plan:
    # 3 copies of the chain -> 1 (guide §4.4, same duplication mechanism
    # for any expensive expression).
    return deduped.where(F.col("detected") != "und")


_PIPELINE_ORACLE = rf"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000, source, text FROM documents WHERE doc_id % 3 = 0
),
q AS (
  SELECT doc_id, source, text,
         CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens
  FROM corpus
  WHERE len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) BETWEEN 25 AND 95
),
l AS (
  SELECT *, {sql_detect_language('text')} AS detected FROM q
),
d AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM l WHERE detected <> 'und'
)
SELECT source, detected,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc
FROM d WHERE rn = 1
GROUP BY source, detected
"""


@_register("corpus_clean_pipeline", _PIPELINE_ORACLE)
def corpus_clean_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cleaning funnel over a corpus with synthesized exact
    duplicates (every third doc duplicated under a shifted id): quality
    window → language filter → exact dedup → per-(source, language)
    rollup. One scan, one hash shuffle, one partial-agg rollup."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    dups = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 10**9).alias("doc_id"), "source", "text"
    )
    kept = clean_corpus(docs.unionAll(dups), min_tokens=25, max_tokens=95)
    return kept.groupBy("source", "detected").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# context-window chunking (sequence preparation for training)
# ---------------------------------------------------------------------------


def token_windows(
    docs: DataFrame,
    window_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-token-budget windows — the
    context-window chunking step that turns a cleaned corpus into training
    sequences. One row per (doc, window) with the window's text slice and
    token count.

    Scale shape: pure row-local JVM expressions — split once, explode a
    ``sequence`` of window indices, slice the word array per window. No
    shuffle, no Python; output row count is Σ⌈tokens/window⌉, produced
    streaming per input partition."""
    words = F.split(F.col(text_col), TOKEN_SEP)
    n_windows = F.ceil(F.col("_n").cast("double") / window_tokens).cast("int")
    w = F.explode(F.sequence(F.lit(0), n_windows - 1)).alias("window_id")
    start = F.col("window_id") * window_tokens
    return (
        docs.select(id_col, words.alias("_w"), F.size(words).alias("_n"))
        .select(id_col, "_w", "_n", w)
        .select(
            F.col(id_col),
            F.col("window_id").cast("long").alias("window_id"),
            (start + 1).cast("long").alias("token_start"),  # 1-based, matches SQL slicing
            F.least(F.lit(window_tokens), F.col("_n") - start).cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.slice(F.col("_w"), start + 1, window_tokens)).alias("window_text"),
        )
    )


_WINDOWS_ORACLE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS words FROM documents
)
SELECT doc_id,
       CAST(i AS BIGINT) AS window_id,
       CAST(i * 32 + 1 AS BIGINT) AS token_start,
       CAST(least(32, len(words) - i * 32) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(words, i * 32 + 1, i * 32 + 32), ' ') AS window_text
FROM w, unnest(generate_series(0, CAST(ceil(len(words) / 32.0) AS BIGINT) - 1)) AS t(i)
"""


@_register("doc_token_windows", _WINDOWS_ORACLE)
def doc_token_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return token_windows(docs, window_tokens=32)


# ---------------------------------------------------------------------------
# deterministic hash splits / sampling (repeatable train-val-test)
# ---------------------------------------------------------------------------


def hash_bucket(key_col: str, modulus: int, salt: str) -> Column:
    """Uniform integer bucket in [0, modulus) from the last 8 hex digits
    of md5(salt ‖ key): row-local, engine-portable (see
    :func:`sql_hash_bucket`), stable under repartitioning — THE hashing
    convention every sampling/splitting op here shares (NULL keys hash
    as the empty string so membership decisions still apply to them)."""
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key)), 25, 8), 16, 10
    ).cast("long") % modulus


def hash_split(
    docs: DataFrame,
    weights: dict[str, int],
    key_col: str = "text",
    salt: str = "xbs-split",
) -> DataFrame:
    """Assign every row to a named split with probability proportional to
    ``weights``, deterministically from a content hash — the repeatable
    train/val/test assignment a training pipeline needs (re-runs, late
    data, and multi-team reads all agree; no RNG state, no coordination).

    Uses the last 8 hex digits of md5(salt ‖ key) as a uniform integer:
    row-local, engine-portable, and stable under repartitioning — unlike
    ``rand()``-based splits, which reshuffle membership every run."""
    total = sum(weights.values())
    bucket = hash_bucket(key_col, total, salt)
    expr = F.when(F.lit(False), F.lit(""))
    lo = 0
    for name, share in weights.items():
        expr = expr.when(bucket < lo + share, F.lit(name))
        lo += share
    return docs.withColumn("split", expr)


def sql_hash_bucket(key_sql: str, total: int, salt: str = "xbs-split") -> str:
    """DuckDB expression matching :func:`hash_split`'s bucket assignment
    (COALESCE mirrors the Spark side: NULL keys hash as '')."""
    return (
        f"CAST('0x' || substr(md5('{salt}' || COALESCE(CAST({key_sql} AS VARCHAR), '')), 25, 8)"
        f" AS BIGINT) % {total}"
    )


_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, source, {sql_hash_bucket('text', 100)} AS bucket FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split,
       source,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc
FROM b GROUP BY 1, 2
"""


@_register("corpus_hash_split", _SPLIT_ORACLE)
def corpus_hash_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split, rolled up per source —
    both engines derive membership from the same md5 bucket, so the split
    is reproducible anywhere."""
    docs = load(spark, sf_dir, "documents")
    split = hash_split(docs, {"train": 90, "val": 5, "test": 5})
    return (
        split.groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


def stratified_cap(
    docs: DataFrame,
    by: str = "source",
    cap: int = 1000,
    key_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "xbs-cap",
) -> DataFrame:
    """Keep at most ``cap`` rows per stratum, chosen deterministically by
    content-hash order — the data-balancing step that stops one domain
    (one crawl host, one language) from dominating the training mix.
    Hash order makes the selection a uniform random sample that is stable
    under reruns, late-arriving data and repartitioning; ``id_col``
    breaks ties so the result is total-order deterministic.

    Scale design: one shuffle on the stratum key; each task sorts only
    its strata. A pathologically hot stratum concentrates on one task —
    for that shape, pre-thin with an approximate hash-quantile threshold
    (keep rows with hash below ~cap/n_stratum quantile, slightly over-
    selected) and run this exact cap on the survivors; the window here
    is unchanged."""
    h = F.md5(F.concat(F.lit(salt), F.coalesce(F.col(key_col).cast("string"), F.lit(""))))
    w = Window.partitionBy(by).orderBy(h, F.col(id_col))
    return (
        docs.withColumn("__xbs_rn", F.row_number().over(w))
        .where(F.col("__xbs_rn") <= cap)
        .drop("__xbs_rn")
    )


_CAP_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('xbs-cap' || COALESCE(text, '')), doc_id) AS rn
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rn <= 10
"""


@_register("corpus_stratified_cap", _CAP_ORACLE)
def corpus_stratified_cap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap of 10 docs — hash-verified that both engines pick
    the IDENTICAL documents, not just the same counts."""
    docs = load(spark, sf_dir, "documents")
    return stratified_cap(docs, by="source", cap=10).select("doc_id", "source")


def _token_ngrams(text_col: str, n: int):
    """Token n-grams of a text column as an array<string> column:
    lowercase → split on non-alphanumeric runs → drop empties → join
    each n-token window with single spaces. Pure JVM expressions."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
    )
    return F.expr(
        # greatest(..., 1): Spark's sequence(1, 0) is DESCENDING [1, 0],
        # not empty; a sub-n-token input thus emits ONE short gram, which
        # joins against nothing (gram token count is encoded in its space
        # count) — the benchmark side still filters size >= n
        f"transform(sequence(1, greatest(size(__xbs_toks) - {n} + 1, 1)), "
        f"i -> concat_ws(' ', slice(__xbs_toks, i, {n})))"
    ), toks


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any token
    ``n``-gram with an eval/benchmark set (the GPT-3/PaLM-style 13-gram
    overlap check a training pipeline must run before training, so eval
    scores aren't inflated by memorized test data).

    Returns ``(id_col, n_hits)`` — one row per contaminated document with
    its count of distinct overlapping n-grams. Join back to ``docs`` (or
    anti-join) to drop or audit.

    Scale design: the benchmark's distinct n-gram set is bounded by the
    benchmark's size (fixed, small — eval suites are MBs, not TBs), so it
    is **broadcast**; the corpus side is a narrow explode feeding a
    broadcast-hash semi-join — no shuffle of corpus n-grams. The only
    Exchange is the per-doc hit aggregation, keyed by doc id. For a
    benchmark too large to broadcast, swap the broadcast join for a
    bloom-filter prepass + shuffle join on the surviving grams; the
    explode/agg shape is unchanged.
    """
    g_docs, toks = _token_ngrams(text_col, n)
    # No size filter on the corpus side: a sub-n-token document emits one
    # short gram whose token count (hence space count) differs from every
    # n-token benchmark gram, so it can never match — while the pushed-down
    # `size(toks) >= n` predicate made Catalyst evaluate the whole
    # tokenize chain a second time inside the scan filter (measured
    # 1.13 -> 0.84 s, output-identical).
    corpus_grams = (
        docs.withColumn("__xbs_toks", toks)
        .select(F.col(id_col), F.explode(g_docs).alias("g"))
    )
    g_bench, btoks = _token_ngrams(text_col, n)
    bench_grams = (
        benchmark.withColumn("__xbs_toks", btoks)
        .where(F.size("__xbs_toks") >= n)
        .select(F.explode(g_bench).alias("g"))
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.countDistinct("g").alias("n_hits"))
    )


_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 4 + 2),
                               i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS g
  FROM toks WHERE len(t) >= 4
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 23 = 0
), corpus AS (
  SELECT doc_id, g FROM grams WHERE doc_id % 23 <> 0
)
SELECT c.doc_id, COUNT(DISTINCT c.g) AS n_hits
FROM corpus c JOIN bench b USING (g)
GROUP BY c.doc_id
"""


@_register("corpus_decontaminate", _DECONTAM_ORACLE)
def corpus_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination gate: a deterministic slice of the documents table
    (doc_id % 23 == 0) plays the held-out benchmark; every other doc is
    scanned for 4-gram overlap (4, not the production-default 13, because
    the synthetic docs are tens of tokens long). Oracle re-derives the
    identical tokenization, n-grams, and counts in SQL."""
    docs = fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    bench = docs.where(F.col("doc_id") % 23 == 0)
    corpus = docs.where(F.col("doc_id") % 23 != 0)
    return decontaminate(corpus, bench, n=4)


_PACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("pack_id", T.LongType()),
    ]
)


def pack_sequences(
    doc_tokens: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_buckets: int = 256,
    strategy: str = "best_fit",
    bucket_expr=None,
    carry_cols: "Sequence[str] | None" = None,
) -> DataFrame:
    """Sequence packing: assign documents to packs so each pack's token
    total stays ≤ ``budget`` — the batch-assembly step of an LLM
    pretraining pipeline (padding waste = unused budget).

    Scale shape: docs scatter to ``n_buckets`` deterministic hash buckets
    (one shuffle), and each bucket packs independently with
    best-fit-decreasing (sort by tokens desc, binary-search the tightest
    open pack; O(n log n) per bucket, deterministic regardless of input
    partitioning). Bucketing caps per-task state and parallelizes the
    inherently sequential packing loop; the waste penalty vs one global
    pack is at most one underfull pack per bucket. Documents longer than
    ``budget`` get a singleton pack (flagged by their token count).

    ``strategy`` picks the per-bucket loop: ``best_fit`` (default —
    tightest open pack, lowest waste) or ``next_fit`` (single running
    pack: join it iff ``fill + tokens <= budget`` else open a new one).
    Next-fit's one-scalar state makes it expressible as a recursive SQL
    CTE, which is how the oracle gate certifies the packing end to end;
    its waste bound is 2× optimal vs best-fit's 11/9 — both deterministic.

    ``bucket_expr`` overrides the bucket-assignment Column (default:
    xxhash64 of the id). The gate passes an md5-derived bucket so DuckDB
    computes the identical scatter.

    Returns (doc_id, n_tokens, pack_id); ``pack_id`` encodes
    ``bucket * 2^32 + local_pack``. ``carry_cols`` rides extra input
    columns through the bucket scatter unchanged (appended after
    pack_id): for pipelines that need payload columns next to the
    assignment, carrying them through the ONE existing shuffle is
    strictly cheaper than joining the assignment back (which costs a
    second full evaluation of the input lineage plus a join shuffle of
    the same payload bytes).
    """
    if strategy not in ("best_fit", "next_fit"):
        raise ValueError(f"unknown packing strategy {strategy!r}")
    if bucket_expr is None:
        bucket_expr = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets))
    carry = list(carry_cols or [])
    if bad := ({"doc_id", "n_tokens", "pack_id", "__bucket"} & set(carry)):
        raise ValueError(f"carry_cols collide with output columns: {sorted(bad)}")
    df = doc_tokens.select(
        F.col(id_col).alias("doc_id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        bucket_expr.alias("__bucket"),
        *[F.col(c) for c in carry],
    )
    schema = T.StructType(
        list(_PACK_SCHEMA.fields)
        + [doc_tokens.schema[c] for c in carry]
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        if pdf["n_tokens"].isna().any():
            # Arrow hands a nullable int64 to pandas as float64+NaN;
            # int(NaN) would die with an opaque executor traceback —
            # name the actual problem instead
            raise ValueError(
                "pack_sequences: NULL token counts (e.g. "
                "size(split(NULL text))) — filter them before packing"
            )
        bucket = int(key[0])
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        assignment = np.empty(len(pdf), dtype=np.int64)
        if strategy == "next_fit":
            fill = None
            n_packs = 0
            for i, tok in enumerate(pdf["n_tokens"].to_numpy()):
                tok = int(tok)
                if fill is None or fill + tok > budget:
                    assignment[i] = n_packs
                    n_packs += 1
                    fill = tok
                else:
                    assignment[i] = n_packs - 1
                    fill += tok
        else:
            # best-fit-decreasing over a sorted list of (remaining, pack_idx)
            remaining: list = []  # sorted by remaining capacity
            n_packs = 0
            for i, tok in enumerate(pdf["n_tokens"].to_numpy()):
                j = bisect.bisect_left(remaining, (tok,))
                if j < len(remaining):
                    cap, idx = remaining.pop(j)
                    cap -= int(tok)
                    if cap > 0:
                        bisect.insort(remaining, (cap, idx))
                    assignment[i] = idx
                else:
                    assignment[i] = n_packs
                    cap = max(int(budget) - int(tok), 0)
                    # full packs (incl. over-budget singletons) never rejoin
                    # the open list — a zero-token doc must not land in one
                    if cap > 0:
                        bisect.insort(remaining, (cap, n_packs))
                    n_packs += 1
        out = {
            "doc_id": pdf["doc_id"],
            "n_tokens": pdf["n_tokens"],
            "pack_id": (bucket << 32) + assignment,
        }
        for c in carry:
            out[c] = pdf[c]
        return pd.DataFrame(out)

    return df.groupBy("__bucket").applyInPandas(pack, schema)


# The pack oracle replays next-fit-decreasing as a recursive CTE: `walk`
# advances one document per iteration per bucket, carrying (pack, fill)
# — the exact loop the engine runs inside each hash bucket. Bucket
# assignment is the engine-portable md5 bucket (same as hash_split).
_PACK_ORACLE = rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
         {sql_hash_bucket("CAST(doc_id AS VARCHAR)", 8, salt="xbs-pack")} AS bucket
  FROM documents
),
ordered AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n_tokens DESC, doc_id) AS rn
  FROM toks
),
walk AS (
  SELECT bucket, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS pack, n_tokens AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN w.fill + o.n_tokens <= 1024 THEN w.pack ELSE w.pack + 1 END,
         CASE WHEN w.fill + o.n_tokens <= 1024 THEN w.fill + o.n_tokens ELSE o.n_tokens END
  FROM walk w JOIN ordered o ON o.bucket = w.bucket AND o.rn = w.rn + 1
)
SELECT bucket * 4294967296 + pack AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM walk GROUP BY 1
"""


@_register("corpus_pack_sequences", _PACK_ORACLE)
def corpus_pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the documents table into 1024-token training batches and
    report per-pack fill. The gate uses the ``next_fit`` strategy with an
    md5 bucket scatter so the whole packing loop — bucket, order, pack
    boundaries — is replayed by a recursive-CTE DuckDB oracle and
    hash-certified (best-fit stays the production default, covered by
    capacity/determinism pytests)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.col("text"), TOKEN_SEP)).cast("long").alias("n_tokens")
    )
    # bucket count sized so each bucket packs >> budget worth of
    # tokens (rule: n_buckets ~ total_tokens / (budget * 100));
    # 256 (the scale default) would leave 500 gate docs ~2 per bucket
    md5_bucket = hash_bucket("doc_id", 8, "xbs-pack")
    packed = pack_sequences(
        toks, budget=1024, n_buckets=8, strategy="next_fit", bucket_expr=md5_bucket
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .orderBy("pack_id")
    )


def mixture_weights(
    docs: DataFrame,
    keys: tuple = ("lang", "source"),
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-weighted data-mixture sampling weights per stratum —
    the standard multilingual/multi-source rebalancing step (weight per
    (lang, source) ∝ count^alpha, alpha<1 upweights the tail; the
    alpha=0.7-ish scheme of multilingual LM training recipes).

    Scale shape: one group-by over the corpus to counts (map-side
    partial agg), then the weight normalization runs on the tiny strata
    frame — a single-partition window over dozens of rows, never over
    data. Determinism: count^alpha is quantized to an integer
    (floor(·1e6)) so the normalizing sum is exact integer math and the
    final weight is ONE double division — bit-identical in any engine
    (alpha=0.5 uses IEEE-exact sqrt; other alphas use pow, whose last
    bit may differ across libms — fine for production, not for the
    hash-certified gate)."""
    counts = docs.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_docs"))
    nd = F.col("n_docs").cast("double")
    raw = F.sqrt(nd) if alpha == 0.5 else F.pow(nd, F.lit(alpha))
    q = F.floor(raw * 1e6).cast("long")
    w_all = Window.partitionBy()
    return (
        counts.withColumn("__q", q)
        .select(
            *keys,
            "n_docs",
            (F.col("__q").cast("double") / F.sum("__q").over(w_all)).alias("weight"),
        )
    )


_MIXTURE_ORACLE = """
WITH c AS (SELECT lang, source, COUNT(*) AS n_docs FROM documents GROUP BY 1, 2),
q AS (SELECT *, CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS qw FROM c)
SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(qw AS DOUBLE) / SUM(qw) OVER () AS weight
FROM q
"""


@_register("corpus_mixture_weights", _MIXTURE_ORACLE)
def corpus_mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return mixture_weights(docs, keys=("lang", "source"), alpha=0.5)


def importance_sample(
    docs: DataFrame,
    prob: Column,
    key_col: str = "text",
    salt: str = "xbs-sample",
) -> DataFrame:
    """Deterministic per-row importance sampling: keep each row with its
    OWN probability (a quality score, an inverse-frequency weight, ...),
    decided by a content hash instead of an RNG — the standard way a
    training pipeline downsamples low-quality or over-represented slices
    while re-runs, repartitioning, and late-arriving data all agree on
    membership. Extends :func:`hash_split`'s fixed-share buckets to
    continuous per-row probabilities.

    Exactness: the hash bucket is an integer in [0, 1e6); ``prob`` is
    clamped to [0, 1] and floor-quantized to the same grid, so the keep
    decision is an integer comparison — bit-identical in any engine.
    Zero shuffle; the filter fuses into the scan."""
    bucket = hash_bucket(key_col, 1000000, salt)
    thresh = F.floor(
        F.least(F.greatest(prob, F.lit(0.0)), F.lit(1.0)) * 1000000
    ).cast("long")
    return docs.where(bucket < thresh)


_IMPORTANCE_ORACLE = """
WITH s AS (
  SELECT *,
         CAST('0x' || substr(md5('xbs-sample' || COALESCE(text, '')), 25, 8) AS BIGINT) % 1000000 AS b,
         CAST(FLOOR(LEAST(GREATEST(CAST(n_chars AS DOUBLE) / 2000, 0.1), 1.0)
                    * 1000000) AS BIGINT) AS t
  FROM documents
)
SELECT source,
       COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc
FROM s WHERE b < t GROUP BY source
"""


@_register("corpus_importance_sample", _IMPORTANCE_ORACLE)
def corpus_importance_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted keep probability (clamp(n_chars/2000, 0.1, 1)) —
    longer docs kept more often, every doc retains a floor chance; the
    oracle replays the identical integer keep decision in SQL."""
    docs = load(spark, sf_dir, "documents")
    prob = F.least(
        F.greatest(F.col("n_chars").cast("double") / F.lit(2000.0), F.lit(0.1)),
        F.lit(1.0),
    )
    return (
        importance_sample(docs, prob)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
        )
    )


def hashed_quality_classifier(
    docs: DataFrame,
    text_col: str = "text",
    salt: str = "xbs-qc",
    weight_range: int = 1000,
) -> DataFrame:
    """Hashed linear text classifier — the fastText / CCNet quality-filter
    architecture (Joulin et al. 2016, arXiv:1607.01759; Wenzek et al.
    2019, arXiv:1911.00359): unigrams and token bigrams hash into weight
    buckets, the document score is the sum of bucket weights, and the
    sign decides keep/drop.

    The weight table here is derived from ``md5(salt ‖ feature)`` — a
    deterministic stand-in for trained weights (no training corpus ships
    in this container). Swapping in a real model is a broadcast join
    against a ``{feature → weight}`` table; everything else — feature
    extraction, the hashing trick, the score aggregation — is the
    production plan shape, and it is entirely JVM-side expressions
    (``regexp_extract_all`` + ``transform`` + ``aggregate``), no Python
    UDF, so at 100 TB this fuses into the scan with zero shuffles.

    Adds ``n_features``, ``score`` (integer, exact in any engine) and
    ``label`` columns.
    """
    modulus = 2 * weight_range + 1
    uni = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
    docs = docs.withColumn("_toks", uni)
    bigrams = F.when(F.size("_toks") < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice("_toks", 1, F.size("_toks") - 1),
            F.slice("_toks", 2, F.size("_toks") - 1),
            lambda a, b: F.concat(a, F.lit("_"), b),
        )
    )
    feats = F.concat(F.col("_toks"), bigrams)
    weight = lambda t: (  # noqa: E731 — inline: the one hash→weight rule
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), t)), 25, 8), 16, 10).cast("long")
        % modulus
        - weight_range
    )
    score = F.coalesce(
        F.aggregate(
            F.transform(feats, weight), F.lit(0).cast("long"), lambda acc, v: acc + v
        ),
        # NULL text → NULL feature array → NULL aggregate; the oracle
        # (and sense) says an empty document scores 0, not NULL
        F.lit(0).cast("long"),
    )
    return (
        docs.withColumn("_feats", feats)
        .withColumn("n_features", F.size("_feats").cast("long"))
        .withColumn("score", score)
        .withColumn(
            "label", F.when(F.col("score") > 0, F.lit("keep")).otherwise(F.lit("drop"))
        )
        .drop("_toks", "_feats")
    )


_QC_ORACLE = """
WITH f AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, source,
         list_concat(
           toks,
           CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                ELSE list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i] || '_' || toks[i + 1])
           END
         ) AS fs
  FROM f
),
scored AS (
  SELECT doc_id, source, CAST(len(fs) AS BIGINT) AS n_features,
         CAST(COALESCE(list_sum(list_transform(fs,
           t -> CAST('0x' || substr(md5('xbs-qc' || t), 25, 8) AS BIGINT) % 2001 - 1000
         )), 0) AS BIGINT) AS score
  FROM feats
)
SELECT doc_id, source, n_features, score,
       CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS label
FROM scored
"""


@_register("corpus_quality_classifier", _QC_ORACLE)
def corpus_quality_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document hashed linear quality score over unigram+bigram
    features; the DuckDB oracle replays the identical hash→weight→sum
    pipeline, so scores and labels hash-match exactly."""
    docs = load(spark, sf_dir, "documents")
    return hashed_quality_classifier(docs).select(
        "doc_id", "source", "n_features", "score", "label"
    )


def epoch_shuffle(
    docs: DataFrame,
    n_shards: int,
    epoch: int = 0,
    key_col: str = "doc_id",
    salt: str = "xbs-epoch",
) -> DataFrame:
    """Deterministic global shuffle into training shards — the
    before-every-epoch reorder a training pipeline needs, without RNG
    state: each row's shard and within-shard position come from
    ``md5(salt:epoch:key)``, so every epoch is a fresh pseudorandom
    permutation that reruns, retries and repartitioning all reproduce,
    and any worker can locate any shard's rows independently.

    Adds ``shard`` (uniform in [0, n_shards)) and ``position``
    (0-based hash-order rank within the shard; ties broken by the key).
    One shuffle on the shard key; each task orders only its shard — at
    100 TB that is the minimum data movement any global shuffle needs,
    and the hash order inside a shard means no global sort ever runs.
    """
    h = F.md5(
        F.concat(F.lit(f"{salt}:{epoch}:"), F.col(key_col).cast("string"))
    )
    shard = (
        F.conv(F.substring(h, 25, 8), 16, 10).cast("long") % n_shards
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy(h, F.col(key_col))
    return (
        docs.withColumn("shard", shard)
        .withColumn("position", F.row_number().over(w).cast("long") - 1)
    )


_EPOCH_ORACLE = """
WITH h AS (
  SELECT doc_id, source,
         md5('xbs-epoch:1:' || CAST(doc_id AS VARCHAR)) AS hv
  FROM documents
),
s AS (
  SELECT doc_id, source,
         CAST('0x' || substr(hv, 25, 8) AS BIGINT) % 8 AS shard,
         ROW_NUMBER() OVER (
           PARTITION BY CAST('0x' || substr(hv, 25, 8) AS BIGINT) % 8
           ORDER BY hv, doc_id
         ) - 1 AS position
  FROM h
)
SELECT doc_id, source, shard, CAST(position AS BIGINT) AS position FROM s
"""


@_register("corpus_epoch_shuffle", _EPOCH_ORACLE)
def corpus_epoch_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-1 training order over the documents table (8 shards): shard
    assignment and every within-shard position hash-match the DuckDB
    replay — the full permutation is certified, not sampled."""
    docs = load(spark, sf_dir, "documents")
    return epoch_shuffle(docs, n_shards=8, epoch=1).select(
        "doc_id", "source", "shard", "position"
    )


# ---------------------------------------------------------------------------
# statistical familiarity score (CCNet-style LM quality proxy)
# ---------------------------------------------------------------------------


def familiarity_score(
    docs: DataFrame,
    seed: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frequency-based language-model quality proxy (the role KenLM
    perplexity plays in CCNet/CCNet-style pipelines, Wenzek et al. 2019,
    arXiv:1911.00359): score every document by how FAMILIAR its character
    trigrams are under a trusted ``seed`` slice's trigram distribution.

    ``familiarity = sum(seed_count(g) for g in doc_grams) / n_grams`` —
    high for text resembling the seed corpus, near zero for gibberish,
    boilerplate in an unseen alphabet, or wrong-language content. Unlike
    log-probability scoring this is EXACT arithmetic (integer count sums,
    one final division), so the score hash-certifies across engines —
    perplexity's ``log`` calls differ in the last ulp between libms and
    never would.

    Plan shape at 100 TB: the seed trigram table is bounded by alphabet
    size (|charset|³ distinct grams, ~100k rows real-world) → broadcast;
    the corpus side is one narrow explode into a broadcast-hash left join
    and one per-doc aggregation — a single shuffle keyed by doc id, no
    all-pairs anything. Everything is JVM expressions, and the explode is
    O(len) per document: the text splits to a char ARRAY once and grams
    index it (``substring(t, i, 3)`` per gram re-walks the UTF-8 string
    from the start — O(len²) per document, a real cost at corpus scale).

    Returns ``(id_col, n_grams, familiar_hits, familiarity)`` for every
    doc with at least one trigram; filter/threshold downstream.
    """

    def explode_grams(df: DataFrame, *keep: str) -> DataFrame:
        cs = F.split(F.lower(F.col(text_col)), "")
        # guard: Spark's sequence(0, -k) DESCENDS — without the CASE a
        # sub-3-char doc would emit junk grams instead of none
        grams = F.expr(
            "CASE WHEN size(__cs) < 3 THEN array() "
            "ELSE transform(sequence(0, size(__cs) - 3), "
            "i -> concat(__cs[i], __cs[i+1], __cs[i+2])) END"
        )
        return df.select(*keep, cs.alias("__cs")).select(
            *keep, F.explode(grams).alias("g")
        )

    seed_counts = explode_grams(seed).groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    doc_grams = explode_grams(docs, id_col)
    return (
        doc_grams.join(F.broadcast(seed_counts), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("c").isNotNull(), 1).otherwise(0)).alias("familiar_hits"),
            (
                F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("familiarity"),
        )
    )


_FAMILIARITY_ORACLE = """
WITH grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(lower(text)) - 2, 0) + 1),
                               i -> substr(lower(text), CAST(i AS INT), 3))) AS g
  FROM documents
),
seed_counts AS (
  SELECT g, COUNT(*) AS c FROM grams WHERE doc_id % 7 = 0 GROUP BY g
)
SELECT d.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN s.c IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS familiar_hits,
       CAST(SUM(COALESCE(s.c, 0)) AS DOUBLE) / COUNT(*) AS familiarity
FROM grams d LEFT JOIN seed_counts s USING (g)
GROUP BY d.doc_id
"""


@_register("corpus_familiarity_score", _FAMILIARITY_ORACLE)
def corpus_familiarity_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality scoring: the 1-in-7 doc slice
    plays the trusted seed corpus; every document's char-trigram
    familiarity under it is certified value-exact (integer count sums +
    one division — the hash-stable stand-in for KenLM perplexity)."""
    docs = fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    seed = docs.where(F.col("doc_id") % 7 == 0)
    return familiarity_score(docs, seed)


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a URL as ONE row-local JVM expression — the
    normalization stage that makes exact URL dedup meaningful
    (RefinedWeb / Penedo et al. 2023 §2 run URL-level dedup before any
    content stage; CommonCrawl spells the same page a dozen ways):

    - scheme and host lowercased; ``www.`` prefix dropped
    - default ports stripped (``http:80``, ``https:443``); others kept
    - fragment dropped (never sent to the server)
    - trailing slashes on the path dropped
    - query params: empties and ``utm_*`` tracking params dropped, the
      rest sorted (order never changes server-side semantics in practice)

    Deliberately NOT done: percent-decoding and IDN/punycode folding —
    both can CHANGE which resource a URL names; a canonicalizer must
    only merge spellings that are guaranteed equivalent. Pure regexp
    expressions (no lookarounds, no UDF), so the stage fuses into the
    scan and the identical patterns run in any RE2/Java engine."""
    base = F.regexp_replace(url, "#.*", "")  # fragment
    query = F.regexp_extract(base, r"\?(.*)$", 1)
    rest = F.regexp_replace(base, r"\?.*$", "")
    scheme = F.lower(F.regexp_extract(rest, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    auth = F.regexp_replace(  # drop userinfo: it never changes the resource
        F.lower(F.regexp_extract(rest, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]*)", 1)),
        "^[^@]*@",
        "",
    )
    port = F.regexp_extract(auth, r":([0-9]+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(auth, r":[0-9]+$", ""), r"^www\.", ""
    )
    keep_port = ~(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_replace(
        F.regexp_replace(rest, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
        "/+$",
        "",
    )
    qsorted = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(qsorted != "", F.concat(F.lit("?"), qsorted)).otherwise(F.lit("")),
    )


def url_host(canonical_url: Column) -> Column:
    """Registrable host of a (canonical) URL — the per-host cap key.
    Userinfo (``user@``) is dropped (it never changes which host serves
    the resource) and bracketed IPv6 literals key by the address inside
    the brackets, so ``[2001:db8::1]`` hosts are not all lumped into one
    ``[`` bucket by the port-separator colon."""
    auth = F.regexp_replace(
        F.regexp_extract(canonical_url, "://([^/?]*)", 1), "^[^@]*@", ""
    )
    bracket = F.regexp_extract(auth, r"^\[([^\]]*)\]", 1)
    plain = F.regexp_extract(auth, "^([^:]*)", 1)
    return F.when(bracket != "", bracket).otherwise(plain)


def dedup_by_canonical_url(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    canon_col: str = "canonical_url",
) -> DataFrame:
    """Exact URL dedup keep-first: one row per canonical URL, the lowest
    ``id_col`` copy (first-crawled under monotone ids — the RefinedWeb
    policy). Documents with a NULL ``url_col`` are KEPT, never silently
    dropped — there is nothing to dedup them on (an inner equi-join
    would discard every NULL-key row). One map-side-combinable group-by
    (``min`` over ids) plus one equi-join back; at 100 TB the join key
    is the canonical-url hash — near-uniform, no skew, no window over
    the full corpus."""
    d = docs.withColumn(canon_col, canonicalize_url(F.col(url_col)))
    firsts = d.groupBy(canon_col).agg(F.min(id_col).alias("__xbs_first"))
    return (
        d.join(firsts, canon_col, "left")
        .where(
            F.col(canon_col).isNull()
            | (F.col(id_col) == F.col("__xbs_first"))
        )
        .drop("__xbs_first")
    )


def cap_per_host(
    docs: DataFrame,
    url_col: str = "url",
    cap: int = 1000,
    id_col: str = "doc_id",
    canonical_col: str | None = None,
) -> DataFrame:
    """Keep at most ``cap`` documents per host, lowest ``id_col`` first —
    the anti-domination stage (one crawl host must not own the corpus).
    Pass ``canonical_col`` when a previous stage (e.g.
    :func:`dedup_by_canonical_url`) already materialized the canonical
    URL, so the regexp chain is not recomputed from the raw URL.
    Documents with a NULL / unparseable URL have no host to cap by and
    are KEPT (matching :func:`dedup_by_canonical_url`'s NULL policy);
    they ride the window as single-row partitions keyed by their id, so
    they are never a one-task skew hotspot either.
    Same shape and skew note as :func:`stratified_cap`: one shuffle on
    the host key, per-task sort within each host."""
    if canonical_col is not None:
        host = url_host(F.col(canonical_col))
    else:
        host = url_host(canonicalize_url(F.col(url_col)))
    host = F.when(host == "", F.lit(None)).otherwise(host)
    key = F.coalesce(
        host, F.concat(F.lit("\x00nohost\x00"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(key).orderBy(F.col(id_col))
    return (
        docs.withColumn("__xbs_hrn", F.row_number().over(w))
        .where(F.col("__xbs_hrn") <= cap)
        .drop("__xbs_hrn")
    )


# The documents table carries no URL column, so the gate derives a messy
# deterministic URL per doc (the inline-fixture pattern): docs sharing
# (source, n_chars % 7) point at the same page, spelled six different
# ways by doc_id % 6 — exercising every canonicalization rule. Both
# engines build the identical raw strings, then canonicalize with the
# identical regex chain; kept/rank decisions are pure integer logic.
_URL_FIXTURE_SQL = """
  SELECT doc_id,
         CASE CAST(doc_id % 6 AS INT)
           WHEN 0 THEN 'https://example-' || source || '.com/docs/' || (n_chars % 7)
           WHEN 1 THEN 'HTTPS://Example-' || source || '.COM/docs/' || (n_chars % 7) || '/'
           WHEN 2 THEN 'https://www.example-' || source || '.com:443/docs/' || (n_chars % 7)
           WHEN 3 THEN 'http://example-' || source || '.com:8080/docs/' || (n_chars % 7)
           WHEN 4 THEN 'https://example-' || source || '.com/docs/' || (n_chars % 7) || '?b=2&utm_source=x&a=1'
           ELSE 'https://example-' || source || '.com/docs/' || (n_chars % 7) || '?a=1&b=2#section'
         END AS url
  FROM documents
"""

_URL_DEDUP_ORACLE = f"""
WITH raw AS ({_URL_FIXTURE_SQL}),
canon AS (
  SELECT doc_id, url,
         lower(regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(regexp_replace(
             regexp_replace(lower(regexp_extract(base, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]*)', 1)), '^[^@]*@', ''),
             ':[0-9]+$', ''), '^www\\.', '') AS host,
         regexp_extract(regexp_replace(lower(regexp_extract(base, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]*)', 1)), '^[^@]*@', ''),
                        ':([0-9]+)$', 1) AS port,
         regexp_replace(regexp_replace(nofrag, '\\?.*$', ''),
                        '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', '') AS rawpath,
         array_to_string(list_sort(list_filter(
             string_split(regexp_extract(nofrag, '\\?(.*)$', 1), '&'),
             x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS qsorted
  FROM (
    SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nofrag,
           regexp_replace(regexp_replace(url, '#.*', ''), '\\?.*$', '') AS base
    FROM raw
  )
),
built AS (
  SELECT doc_id, url,
         scheme || '://' || host ||
         CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                   AND NOT (scheme = 'https' AND port = '443')
              THEN ':' || port ELSE '' END ||
         regexp_replace(rawpath, '/+$', '') ||
         CASE WHEN qsorted <> '' THEN '?' || qsorted ELSE '' END AS canonical_url,
         host
  FROM canon
)
SELECT doc_id, url, canonical_url, host,
       doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url) AS kept_url,
       CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS BIGINT) AS host_rank,
       ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) <= 25 AS kept_host_cap
FROM built
"""


@_register("corpus_url_dedup", _URL_DEDUP_ORACLE)
def corpus_url_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + keep-first URL dedup + per-host cap — the
    RefinedWeb §2 pre-content pipeline stages. Six messy spellings per
    page (case, www, default port, non-default port, query order +
    utm tracking params, fragment) certify every canonicalization rule
    plus the dedup/cap decisions document-exactly."""
    docs = load(spark, sf_dir, "documents")
    k = (F.col("n_chars") % 7).cast("string")
    stem = F.concat(F.lit("example-"), F.col("source"), F.lit(".com/docs/"), k)
    upstem = F.concat(
        F.lit("Example-"), F.col("source"), F.lit(".COM/docs/"), k
    )
    url = (
        F.when(F.col("doc_id") % 6 == 0, F.concat(F.lit("https://"), stem))
        .when(F.col("doc_id") % 6 == 1, F.concat(F.lit("HTTPS://"), upstem, F.lit("/")))
        .when(
            F.col("doc_id") % 6 == 2,
            F.concat(
                F.lit("https://www.example-"),
                F.col("source"),
                F.lit(".com:443/docs/"),
                k,
            ),
        )
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(
                F.lit("http://example-"),
                F.col("source"),
                F.lit(".com:8080/docs/"),
                k,
            ),
        )
        .when(
            F.col("doc_id") % 6 == 4,
            F.concat(F.lit("https://"), stem, F.lit("?b=2&utm_source=x&a=1")),
        )
        .otherwise(F.concat(F.lit("https://"), stem, F.lit("?a=1&b=2#section")))
    )
    d = docs.select("doc_id", url.alias("url"))
    canon = canonicalize_url(F.col("url"))
    d = d.select("doc_id", "url", canon.alias("canonical_url"), url_host(canon).alias("host"))
    w_url = Window.partitionBy("canonical_url")
    w_host = Window.partitionBy("host").orderBy("doc_id")
    return d.select(
        "doc_id",
        "url",
        "canonical_url",
        "host",
        (F.col("doc_id") == F.min("doc_id").over(w_url)).alias("kept_url"),
        F.row_number().over(w_host).cast("long").alias("host_rank"),
        (F.row_number().over(w_host) <= 25).alias("kept_host_cap"),
    )


_TFRECORD_ORACLE = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


@_register("corpus_tfrecord_roundtrip", _TFRECORD_ORACLE)
def corpus_tfrecord_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → TFRecord shards of ``tf.train.Example`` → read back:
    the training-data EXPORT leg (T5/BERT/NeoX-style tf.data consumers).
    Both legs are under test — the distributed shard writer (one shard
    per 128 records of each partition, masked-crc32c framing, sorted
    feature keys) and the crc-verifying reader — so the gate certifies
    byte-level spec compliance document-exactly. All five columns are
    string/int64 features and round-trip losslessly (FloatList's f32
    demotion never applies)."""
    from xarray_beam_spark.grid_queries import _materialized
    from xarray_beam_spark.sources import tfrecord

    def build(p: str) -> None:
        docs = load(spark, sf_dir, "documents")
        tfrecord.write_tfrecords(
            docs.repartition(8, "doc_id"), p, shard_records=128
        )

    path = _materialized(spark, sf_dir, "tfrec", build)
    return tfrecord.read_tfrecords(spark, path)


_WET_ORACLE = """
SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS content_length
FROM documents WHERE text IS NOT NULL
"""


@_register("corpus_wet_ingest", _WET_ORACLE)
def corpus_wet_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET (Common Crawl extracted-text, ISO 28500) ingest leg: documents
    land as real one-gzip-member-per-record WET shards — warcinfo header
    record, conversion records with deterministic uuid5 ids — and come
    back through the distributed parser. text + byte length certify the
    payload and framing exactly; NULL-text rows are excluded on both
    sides (a conversion record without text has no meaning and the
    writer refuses it)."""
    from xarray_beam_spark.grid_queries import _materialized
    from xarray_beam_spark.sources import warc

    def build(p: str) -> None:
        docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
        with_urls = docs.select(
            F.concat(
                F.lit("http://"),
                F.col("source"),
                F.lit(".example.com/doc/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            "text",
        )
        warc.write_wet(with_urls.repartition(8, "url"), p, shard_records=128)

    path = _materialized(spark, sf_dir, "wet", build)
    back = warc.read_wet(spark, path)
    return back.select(
        F.regexp_extract("url", "/doc/([0-9]+)$", 1).cast("long").alias("doc_id"),
        "text",
        "content_length",
    )


def _warc_responses_oracle() -> str:
    from xarray_beam_spark.functions.text import sql_html_to_text

    wrap = (
        "'<html><head><title>t</title></head><body><h1>' || source || "
        "'</h1><p>' || text || '</p></body></html>'"
    )
    return f"""
WITH page AS (
  SELECT doc_id, {wrap} AS html
  FROM documents WHERE text IS NOT NULL
),
ex AS (
  SELECT doc_id, html, {sql_html_to_text('html')} AS extracted FROM page
)
SELECT doc_id,
       CAST(200 AS BIGINT) AS status,
       CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN 'utf-8' WHEN 1 THEN 'UTF-8' ELSE NULL END AS charset,
       extracted,
       CAST(octet_length(CAST(html AS BLOB)) AS BIGINT) AS content_length
FROM ex
"""


@_register("corpus_warc_responses", _warc_responses_oracle())
def corpus_warc_responses_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl entry point, end to end: documents become real WARC
    ``response`` records (captured HTTP/1.1 messages — status line,
    Content-Type, utf-8 body) and come back through the distributed
    response parser into ``html_to_text`` — the crawl→HTML→text path a
    C4/RefinedWeb-style pipeline starts from, which the WET leg bypasses.
    Three Content-Type spellings per corpus (charset=utf-8, a quoted
    charset="UTF-8", and no charset at all → utf-8 fallback) certify the
    charset-label parsing; status, the declared-charset column, the
    extracted text, and the body's exact byte length certify HTTP
    framing + decode document-exactly."""
    from xarray_beam_spark.functions.text import html_to_text
    from xarray_beam_spark.grid_queries import _materialized
    from xarray_beam_spark.sources import warc

    def build(p: str) -> None:
        docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
        html = F.concat(
            F.lit("<html><head><title>t</title></head><body><h1>"),
            F.col("source"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        )
        ct = (
            F.when(F.col("doc_id") % 3 == 0, F.lit("text/html; charset=utf-8"))
            .when(F.col("doc_id") % 3 == 1, F.lit('text/html; charset="UTF-8"'))
            .otherwise(F.lit("text/html"))
        )
        rows = docs.select(
            F.concat(
                F.lit("http://"),
                F.col("source"),
                F.lit(".example.com/page/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            html.alias("body"),
            ct.alias("ct"),
        )
        warc.write_warc_responses(
            rows.repartition(8, "url"), p, content_type_col="ct", shard_records=128
        )

    path = _materialized(spark, sf_dir, "warc_resp", build)
    back = warc.read_warc_responses(spark, path)
    return back.select(
        F.regexp_extract("url", "/page/([0-9]+)$", 1).cast("long").alias("doc_id"),
        "status",
        "charset",
        html_to_text(F.col("body")).alias("extracted"),
        "content_length",
    )


def ingest_dedup_pack(
    spark: SparkSession,
    warc_path: str,
    budget: int = 1024,
    n_buckets: int = 8,
    twin_offset: int = 1_000_000_000,
) -> DataFrame:
    """The ingest->extract->near-dedup->pack chain of the end-to-end
    training funnel, as ONE declarative Spark plan: WARC response parse,
    ``html_to_text`` (fuses into the scan — no exchange before the dedup
    group-bys), MinHash-LSH twin excision (left-anti on the removed ids),
    next-fit sequence packing with the text carried THROUGH the pack
    scatter (``carry_cols`` — no join-back exists). Returns
    ``(doc_id, text, n_tokens, pack_id)``; export it with any sink.
    Shuffle inventory (pinned by tests/test_corpus.py): the dedup
    signature/band group-bys + candidate join, the anti-join, and the
    pack bucket scatter — nothing else."""
    from xarray_beam_spark.functions.text import html_to_text
    from xarray_beam_spark.operators.dedup import minhash_lsh_pairs
    from xarray_beam_spark.sources import warc

    ext = warc.read_warc_responses(spark, warc_path).select(
        F.regexp_extract("url", "/page/([0-9]+)$", 1).cast("long").alias("doc_id"),
        html_to_text(F.col("body")).alias("text"),
    )
    # The extracted corpus feeds TWO consumers (the dedup signature leg
    # and the survivors side of the anti-join): persist it so the WARC
    # parse + HTML extraction runs ONCE per run instead of once per
    # consumer — the §8 "decide on small rows, move big rows once"
    # shape needs the ingest leg evaluated once, and at any scale the
    # parsed text is no larger than the shingle table the dedup stage
    # already persists. Session-scoped like the shingle persists (lazy
    # result — the builder cannot unpersist; the next reset() does).
    ext = persist_scoped(ext)
    # twin filter pushed into LSH candidate generation: row-identical
    # (the `removed` filter below keeps only twin pairs anyway), and the
    # Jaccard-verification joins never see non-twin candidates
    pairs = minhash_lsh_pairs(
        ext,
        min_jaccard=0.6,
        pair_filter=lambda a, b: b - a == twin_offset,
    )
    removed = (
        pairs.where(F.col("doc_b") - F.col("doc_a") == twin_offset)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    survivors = ext.join(removed, "doc_id", "left_anti")
    toks = survivors.select(
        "doc_id",
        "text",
        F.size(F.split(F.col("text"), TOKEN_SEP)).cast("long").alias("n_tokens"),
    )
    # text rides THROUGH the pack scatter (carry_cols): joining the
    # assignment back would re-evaluate the whole ingest+dedup lineage a
    # second time and shuffle the same text bytes anyway
    return pack_sequences(
        toks,
        budget=budget,
        n_buckets=n_buckets,
        strategy="next_fit",
        bucket_expr=hash_bucket("doc_id", n_buckets, "xbs-pack"),
        carry_cols=["text"],
    ).select("doc_id", "text", "n_tokens", "pack_id")


def _e2e_pipeline_oracle() -> str:
    from xarray_beam_spark.functions.text import sql_html_to_text

    wrap = (
        "'<html><head><title>t</title></head><body><h1>' || source || "
        "'</h1><p>' || text || '</p></body></html>'"
    )
    # Survivors of the near-dedup stage are exactly the original docs:
    # the planted twins (doc_id + 1e9, last two tokens dropped) are the
    # only pairs the twin-offset filter admits, so the oracle models the
    # post-dedup corpus as the originals and replays extraction + the
    # next-fit packing walk on them. A single missed twin on the Spark
    # side changes the pack layout and fails the hash.
    return rf"""
WITH RECURSIVE page AS (
  SELECT doc_id, {wrap} AS html
  FROM documents WHERE text IS NOT NULL
),
ex AS (
  SELECT doc_id, {sql_html_to_text('html')} AS text FROM page
),
toks AS (
  SELECT doc_id, text,
         CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
         {sql_hash_bucket("CAST(doc_id AS VARCHAR)", 8, salt="xbs-pack")} AS bucket
  FROM ex
),
ordered AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n_tokens DESC, doc_id) AS rn
  FROM toks
),
walk AS (
  SELECT bucket, rn, doc_id, n_tokens, text,
         CAST(0 AS BIGINT) AS pack, n_tokens AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.n_tokens, o.text,
         CASE WHEN w.fill + o.n_tokens <= 1024 THEN w.pack ELSE w.pack + 1 END,
         CASE WHEN w.fill + o.n_tokens <= 1024 THEN w.fill + o.n_tokens ELSE o.n_tokens END
  FROM walk w JOIN ordered o ON o.bucket = w.bucket AND o.rn = w.rn + 1
)
SELECT bucket * 4294967296 + pack AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(SUM(CAST('0x' || substr(md5(text), 25, 8) AS BIGINT)) AS BIGINT) AS text_fp
FROM walk GROUP BY 1
"""


@_register("corpus_e2e_train_pipeline", _e2e_pipeline_oracle())
def corpus_e2e_train_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data funnel as ONE chain, ingest to export:
    WARC ``response`` records (originals + planted near-dup twins) →
    distributed response parse → ``html_to_text`` → MinHash-LSH
    near-dedup (twins excised, lowest-id copy kept) → next-fit sequence
    packing → TFRecord export → crc-verified re-read → per-pack rollup.
    Each stage is individually gated elsewhere (``corpus_warc_responses``,
    ``text_html_extract``, ``dedup_minhash_lsh``, ``corpus_pack_sequences``,
    ``corpus_tfrecord_roundtrip``); this gate certifies their
    COMPOSITION through one Spark plan — recall of the dedup stage (a
    surviving twin changes the pack layout), extraction fidelity (the
    per-doc 32-bit md5 fingerprint is computed from the text AFTER the
    TFRecord round-trip, so export corruption surfaces), and the packing
    walk over the post-dedup corpus (replayed by the recursive-CTE
    oracle). Scale shape: extraction fuses into the WARC scan; the only
    shuffles are the dedup group-bys/joins and the pack bucket scatter,
    which carries the text (pinned by tests/test_corpus.py)."""
    from xarray_beam_spark.grid_queries import _materialized
    from xarray_beam_spark.sources import tfrecord, warc

    def build_warc(p: str) -> None:
        docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
        words = F.split(F.col("text"), TOKEN_SEP)
        twins = docs.select(
            (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(words, 1, F.greatest(F.size(words) - 2, F.lit(1)))
            ).alias("text"),
            "source",
        )
        corpus = docs.select("doc_id", "text", "source").unionAll(twins)
        html = F.concat(
            F.lit("<html><head><title>t</title></head><body><h1>"),
            F.col("source"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        )
        rows = corpus.select(
            F.concat(
                F.lit("http://"),
                F.col("source"),
                F.lit(".example.com/page/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            html.alias("body"),
            F.lit("text/html; charset=utf-8").alias("ct"),
        )
        warc.write_warc_responses(
            rows.repartition(8, "url"), p, content_type_col="ct",
            shard_records=128,
        )

    # The WARC corpus is a pure INPUT fixture (its write leg is certified
    # by corpus_warc_responses) — persistent, built once per machine. The
    # chain under test (ingest -> dedup -> pack -> export) is the
    # ephemeral, rebuilt-per-run store.
    warc_path = _materialized(
        spark, sf_dir, "e2e_warc", build_warc, persistent=True, params="twins-v1"
    )

    def build(p: str) -> None:
        out = ingest_dedup_pack(spark, warc_path)
        # export straight from the pack scatter's partitioning: a
        # repartition(8, doc_id) here re-shuffled every text byte a
        # second time purely to pick shard file names (guide §8: the
        # payload must move ONCE — the pack bucket scatter is that one
        # move). Shard contents differ, but the gate's result is the
        # read-back rollup, which is layout-independent.
        tfrecord.write_tfrecords(out, f"{p}/tfrec", shard_records=128)

    path = _materialized(spark, sf_dir, "e2e_pipe", build)
    back = tfrecord.read_tfrecords(spark, f"{path}/tfrec")
    # fingerprint computed from the text that CAME BACK from the export
    fp = F.conv(F.substring(F.md5(F.col("text")), 25, 8), 16, 10).cast("long")
    return (
        back.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.sum(fp).alias("text_fp"),
        )
        .orderBy("pack_id")
    )
