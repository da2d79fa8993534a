"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side Spark SQL expressions (no Python UDFs):
shingling, hashing, MinHash, LSH banding, SimHash, and exact Jaccard all
compile to Catalyst expressions, so they scale to 100 TB corpora with
map-side combine and AQE skew handling. The only shuffles are the
candidate-pair groupBys on hash keys.

Gate queries at the bottom register with DuckDB oracles wherever the
semantics are SQL-expressible; MinHash/SimHash signatures use xxhash64
(no DuckDB equivalent), so their end-to-end checks go through an exact
Jaccard verification step that IS oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_beam_spark.functions.text import TOKEN_SEP
from xarray_beam_spark.registry import registrar
from xarray_beam_spark.session import memo, persist_scoped, reset
from xarray_beam_spark.tables import fan_out_narrow_scan, load

REGISTRY: dict = {}
_register = registrar(REGISTRY)


# ---------------------------------------------------------------------------
# building blocks (all JVM-side)
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>).

    Pure Spark SQL, built from ``zip_with`` over shifted copies of the
    word array so the ``split`` is evaluated O(n) times per row. (The
    obvious ``transform(sequence(...), i -> element_at(words, i+j))``
    formulation re-evaluates the embedded ``split`` on every element
    lookup inside the lambda — O(words²) per document, ~40x slower at
    500-word documents.)
    """
    words = F.split(text, TOKEN_SEP)
    k = F.size(words)
    grams = words
    for j in range(1, n):
        shifted = F.slice(words, j + 1, k)  # words[j:], null-padded by zip_with
        grams = F.zip_with(grams, shifted, lambda g, w: F.concat(g, F.lit(" "), w))
    grams = F.slice(grams, 1, F.greatest(k - (n - 1), F.lit(0)))
    out = F.when(k >= n, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(" ", words))
    )
    # NULL text must stay NULL — concat_ws would fold it to [""], the
    # same shingle set as an empty document, making every pair of
    # NULL-text rows a jaccard-1.0 "duplicate" (exact_dedup's contract
    # says the opposite: NULL rows are never duplicates of each other).
    # Downstream explodes then simply emit no rows for such docs.
    return F.when(text.isNull(), F.lit(None).cast("array<string>")).otherwise(out)


def minhash_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    n_hashes: int = 64,
) -> DataFrame:
    """MinHash signatures in ONE aggregation pass: explode shingles, hash
    each shingle once per hash function (``xxhash64(shingle, i)``), take
    per-doc minima as 64 map-side-combinable ``min`` aggregates.

    (A per-row ``array_min(transform(...))×64`` expression is 100x slower:
    it re-evaluates the shingle array per hash function and defeats
    whole-stage codegen.)
    """
    exploded = fan_out_narrow_scan(docs).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh")
    )
    return exploded.groupBy(id_col).agg(*_minhash_aggs(n_hashes))


def _minhash_aggs(n_hashes: int, col: str = "sh") -> list[Column]:
    """The 64 per-doc min-hash aggregates, built as ONE parsed SQL string
    per aggregate instead of nested Column calls: each ``F.xxhash64(col,
    F.lit(i))`` costs ~7 py4j round trips, so the 64-aggregate list alone
    was ~0.4 s of driver latency per query construction (measured r16;
    guide §1.2 — the fix is fewer driver↔JVM hops, the parsed expressions
    are identical)."""
    quoted = "`" + col.replace("`", "``") + "`"
    return [F.expr(f"min(xxhash64({quoted}, {i})) AS mh{i}") for i in range(n_hashes)]


def band_hash_cols(n_bands: int, rows_per_band: int) -> list[Column]:
    """LSH band hashes from ``mh*`` signature columns (parsed SQL strings
    for the same py4j-latency reason as ``_minhash_aggs``)."""
    return [
        F.expr(
            "xxhash64({}) AS band{}".format(
                ", ".join(
                    [str(b)]
                    + [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
                ),
                b,
            )
        )
        for b in range(n_bands)
    ]


def exact_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays — integer set sizes,
    one double division (deterministic across engines)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / union


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    bits: int = 64,
    hash_fn: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """SimHash per document (JVM-side, no UDF).

    Standard SimHash (Charikar 2002): explode shingles, hash each once
    (default xxhash64 — fastest JVM hash; pass ``hash_fn`` to swap in an
    engine-portable hash for cross-engine verification), then one
    aggregation pass computes all bit-position ±1 sums (map-side
    combinable); the fingerprint assembles sign bits with shiftleft. One
    shuffle on ``id_col``.
    """
    hf = hash_fn if hash_fn is not None else F.xxhash64
    exploded = fan_out_narrow_scan(df).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh")
    ).withColumn("h", hf(F.col("sh")))
    # parsed SQL strings: the 64 bit-sum aggregates and the 64-term
    # fingerprint fold each cost hundreds of py4j round trips as nested
    # Column calls (see _minhash_aggs) — the parsed expressions are
    # identical
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {pos}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS b{pos}"
        )
        for pos in range(bits)
    ]
    agg = exploded.groupBy(id_col).agg(*bit_sums)
    fp_terms = " + ".join(
        f"(CASE WHEN b{pos} > 0 THEN shiftleft(CAST(1 AS BIGINT), {pos})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for pos in range(bits)
    )
    return agg.select(
        F.col(id_col), F.expr(f"CAST(0 AS BIGINT) + {fp_terms}").alias("simhash")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keep the minimum id per distinct text.
    Hash-groupBy — fully map-side-combinable, one shuffle on the digest.
    NULL-text rows are NOT duplicates of each other (their content is
    unknown): each keeps its own row (``content_hash`` NULL,
    ``n_copies`` 1) via a per-row group key, never a single collapsed
    NULL group — one pass, no skew hotspot."""
    key = F.coalesce(
        F.md5(F.col(text_col)),
        # md5 output is lowercase hex, so a \x00-prefixed key can never
        # collide with a real digest
        F.concat(F.lit("\x00"), F.col(id_col).cast("string")),
    )
    return (
        df.groupBy(key.alias("_k"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(
            F.when(F.col("_k").startswith("\x00"), F.lit(None))
            .otherwise(F.col("_k"))
            .alias("content_hash"),
            id_col,
            "n_copies",
        )
    )


def dedup_against_reference(
    docs: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_hash_col: str | None = None,
) -> DataFrame:
    """Incremental / cross-snapshot dedup: keep only rows whose content
    hash does NOT appear in a reference corpus — the standard shape for
    "dedup this crawl against every previous crawl", eval-set removal by
    exact content, or a licensed-content blocklist.

    ``ref_hash_col``: pass a column of precomputed md5 digests instead of
    raw text — the production layout, where the historical corpus is kept
    as a compact digest table (16 bytes/doc at any corpus size) and never
    re-read.

    Scale design: the reference side reduces to DISTINCT digests before
    the join (map-side combinable), then ONE hash anti-join on the
    digest; AQE broadcasts it when small. No reference text crosses the
    shuffle. NULL text never matches (kept) — the same answer SQL
    NOT EXISTS gives."""
    if ref_hash_col is None:
        ref_hashes = ref.select(F.md5(F.col(text_col)).alias("__xbs_ref_hash"))
    else:
        ref_hashes = ref.select(F.col(ref_hash_col).alias("__xbs_ref_hash"))
    return docs.join(
        ref_hashes.distinct(),
        on=F.md5(F.col(text_col)) == F.col("__xbs_ref_hash"),
        how="left_anti",
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    n_hashes: int = 64,
    n_bands: int = 32,
    min_jaccard: float = 0.6,
    max_bucket_size: int | None = None,
    pair_filter: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH with exact-Jaccard verification.

    Pipeline (all JVM): shingle → signature → explode band hashes →
    self-join within buckets (the only shuffle; band hash is the join key,
    uniformly distributed by construction) → dedupe candidate pairs →
    exact Jaccard filter. Scales as O(candidates), not O(n²).

    ``max_bucket_size``: at corpus scale a degenerate band bucket (e.g.
    thousands of boilerplate documents sharing a signature band) turns the
    self-join quadratic on that key. Setting a cap drops over-full buckets
    (standard LSH practice: members of such buckets collide in OTHER bands
    with overwhelming probability, so recall loss is negligible while the
    worst-case join cost becomes bounded).

    ``pair_filter``: optional predicate ``(doc_a, doc_b) -> Column``
    applied to candidate pairs BEFORE the exact-Jaccard verification
    join. A caller that will filter the returned pairs on an id predicate
    anyway (the gate queries keep only planted-twin pairs) should push it
    here: filters commute with the verify join, so the result is
    row-identical while the (shingle-array) verification joins run over
    the filtered candidate set only — and the physical plan stops
    flip-flopping across broadcast-size boundaries as candidate counts
    scale (the r14 non-monotone scale-curve artifact).
    """
    if n_bands > n_hashes or n_hashes % n_bands != 0:
        # rows_per_band = 0 would make every band hash a constant (the
        # self-join goes quadratic over the whole corpus); a non-dividing
        # n_bands would silently drop trailing signature hashes
        raise ValueError(
            f"n_bands={n_bands} must divide n_hashes={n_hashes}"
        )
    rows_per_band = n_hashes // n_bands
    # The shingle table feeds three consumers (signatures, and both sides
    # of the verification join); persist it so the split/distinct work runs
    # once instead of three times through the lineage. At cluster scale
    # this is the natural checkpoint of the dedup pipeline. The persist is
    # session-scoped: the returned plan is lazy, so this function cannot
    # know when to unpersist — without the next reset(), repeated runs
    # pile shingle tables into the CacheManager, which never GCs them.
    #
    # Stored as int64 xxhash64 fingerprints, not strings: every consumer
    # (the 64 min-hash aggregates AND the exact-Jaccard verify join) is
    # set-based, and xxhash64 is injective on any realistic shingle
    # universe (collision odds ~1e-14 per pair — the verify join already
    # relied on exactly this). The fingerprint also makes the signature
    # aggregation ~4x cheaper: each of the 64 hash functions hashes the
    # 8-byte fingerprint instead of re-scanning the shingle string, and
    # the exploded rows / persisted arrays ship longs, not strings.
    # Fan out a narrow scan before the shingle transform: the split +
    # zip_with shingling and the persisted frame's partitioning (which the
    # signature aggregation's map side inherits) must not serialize on one
    # core because the gate corpus is a single parquet split. No-op on a
    # many-file corpus, and the helper bails on composed inputs (e.g. the
    # e2e funnel's parsed-WARC frame) — see fan_out_narrow_scan.
    shingles = persist_scoped(fan_out_narrow_scan(docs).select(
        F.col(id_col),
        F.transform(
            word_shingles(F.col(text_col), shingle_n), lambda x: F.xxhash64(x)
        ).alias("shingles"),
    ))
    exploded = shingles.select(F.col(id_col), F.explode("shingles").alias("sh"))
    aggs = _minhash_aggs(n_hashes)
    # the signature table feeds BOTH sides of the band self-join, and
    # exchange reuse does not materialize across the two aliased
    # branches — persist it (64 longs per doc, far smaller than the
    # already-persisted shingle table) so the explode + 64-min-hash agg
    # runs once, not twice
    sig = persist_scoped(exploded.groupBy(id_col).agg(*aggs))
    banded = sig.select(
        id_col, F.explode(F.array(*band_hash_cols(n_bands, rows_per_band))).alias("band_hash")
    )
    if max_bucket_size is not None:
        sizes = banded.groupBy("band_hash").agg(F.count(F.lit(1)).alias("__n"))
        banded = (
            banded.join(sizes.where(F.col("__n") <= max_bucket_size), on="band_hash")
            .drop("__n")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, on="band_hash")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
    )
    if pair_filter is not None:
        cand = cand.where(pair_filter(F.col("doc_a"), F.col("doc_b")))
    cand = cand.dropDuplicates(["doc_a", "doc_b"])
    # Verify on the int64-hashed shingle sets (the persisted
    # representation): |∩|/|∪| is identical to the string-set Jaccard —
    # see the injectivity note on the persist above — while the shuffle
    # payload and the intersect/union comparisons shrink ~10x.
    sa = shingles.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = shingles.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn("jaccard", exact_jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def _cc_driver(spark, edge_rows) -> DataFrame:
    """Min-label union-find on the driver for a metadata-sized edge set.

    The alternating-star rounds below exist for edge sets that exceed one
    node's memory; below the threshold, scheduling even ONE distributed
    round (5+ jobs of sub-millisecond tasks) costs ~100× more wall time
    than solving the graph outright. Same output contract as the
    distributed path: every node labelled with its component minimum —
    a parity pytest pins the two implementations together."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        u, v = int(row[0]), int(row[1])
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min: the smaller id stays root, so every root IS
            # its component minimum when the loop ends
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    nodes = set(parent)
    for x in list(nodes):
        nodes.add(find(x))
    rows = [(x, find(x)) for x in sorted(nodes)]
    return spark.createDataFrame(rows, "doc_id long, cluster_id long")


def _cc_two_phase(
    edges: DataFrame,
    max_iters: int,
    _rounds_out: list | None = None,
    driver_edge_threshold: int = 100_000,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., SoCC 2014). The graph is kept as canonical directed
    edges ``(u, v), u > v``; each round rewires neighborhoods toward
    their minimum, and the edge set converges to a min-rooted star
    forest in O(log n) rounds independent of diameter.

    Per round: two keyed aggregations + one equality probe — every stage
    a plain shuffle on node id that AQE sizes; ``localCheckpoint`` keeps
    lineage flat across rounds.
    """
    canon = (
        edges.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # ONE bounded job decides the path AND feeds the small-graph solver:
    # limit(threshold+1) collects at most threshold+1 rows off the
    # checkpoint — if fewer came back, that IS the whole edge set, so the
    # driver union-find runs on it directly (the previous count()-then-
    # collect() shape paid a second full job for the same rows).
    probe = canon.limit(driver_edge_threshold + 1).collect()
    if len(probe) <= driver_edge_threshold:
        if _rounds_out is not None:
            _rounds_out.append(0)
        return _cc_driver(canon.sparkSession, probe)
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # large-star: every neighbor of u that is LARGER than u gets an
        # edge to min(N(u) ∪ {u}); connectivity-preserving (paper, Lm 1).
        und = canon.union(
            canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            und.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: u and all its (strictly smaller) out-neighbors get
        # an edge to the minimum of that neighborhood.
        sm = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(sm, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(sm.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        unchanged = (
            small.count() == canon.count()
            and small.exceptAll(canon).limit(1).count() == 0
        )
        canon = small
        if unchanged:
            break
    else:
        # falling out of the loop mid-convergence would hand downstream a
        # partially-rewired edge set read as a star forest: some doc_id
        # labels would silently NOT be component minima, splitting one
        # duplicate cluster into several. O(log n) rounds means hitting
        # this bound signals a real problem, never routine input.
        raise RuntimeError(
            f"connected components did not converge in max_iters={max_iters} "
            "rounds; raise max_iters (rounds needed grow ~log n)"
        )
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    # converged: canon is a star forest (u → component min). Roots never
    # appear on the left; emit their self-labels.
    roots = (
        canon.select(F.col("v").alias("doc_id"))
        .distinct()
        .join(canon.select(F.col("u").alias("doc_id")).distinct(), "doc_id", "left_anti")
    )
    return canon.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")).union(
        roots.select("doc_id", F.col("doc_id").alias("cluster_id"))
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
    algorithm: str = "star",
    _rounds_out: list | None = None,
    driver_edge_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → duplicate
    clusters ``(doc_id, cluster_id)`` with ``cluster_id = min(doc_id)`` of
    the component — the step that turns pairwise near-dup evidence into
    keep/drop decisions for a training corpus.

    ``algorithm="star"`` (default) is the alternating large-star /
    small-star algorithm (Kiveris et al., *Connected Components in
    MapReduce and Beyond*, SoCC 2014): each round contracts every node's
    neighborhood toward its minimum, converging in O(log n) rounds
    regardless of graph diameter — the property that matters at 100 TB,
    where templated-document chains make diameter-bound label
    propagation arbitrarily slow. ``algorithm="label"`` keeps the
    classic min-label propagation (O(diameter) rounds) for comparison.
    Both run one-shuffle rounds with ``localCheckpoint`` lineage
    truncation and a driver-side convergence check.

    ``driver_edge_threshold``: edge sets at or below this size short-cut
    to a driver-side min-label union-find (``algorithm="star"`` only) —
    a graph this small is metadata, and one distributed round costs more
    wall time than solving it outright (the same small-graph fast path
    production CC implementations ship). Set 0 to force the distributed
    rounds; a parity pytest pins both paths to identical output.
    """
    edges = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    if algorithm == "star":
        return _cc_two_phase(edges, max_iters, _rounds_out, driver_edge_threshold)
    if algorithm != "label":
        raise ValueError(f"unknown algorithm {algorithm!r}; use 'star' or 'label'")
    # localCheckpoint truncates lineage: without it every iteration's plan
    # contains all previous iterations (exponential recomputation).
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nbr_min = (
            und.join(labels, und.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, on="node", how="left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
                (F.col("nbr_label") < F.col("label")).alias("changed"),
            )
        ).localCheckpoint(eager=True)
        n_changed = new_labels.where(F.col("changed")).count()
        labels = new_labels.select("node", "label")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge in max_iters={max_iters} "
            "rounds; labels would silently not be component minima "
            "(rounds needed grow with graph diameter — prefer 'star')"
        )
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# gate queries
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT md5(MIN(text)) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY COALESCE(text, chr(0) || doc_id)
"""


@_register("dedup_exact", _EXACT_ORACLE)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load(spark, sf_dir, "documents"))


_INCREMENTAL_ORACLE = """
WITH ref AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 7 = 0)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.h = md5(d.text))
"""


@_register("dedup_incremental_new_docs", _INCREMENTAL_ORACLE)
def dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 7th document plays the prior snapshot; the anti-join must
    return exactly the docs whose content is genuinely new. Hash-
    certified: both engines pick the identical surviving rows."""
    docs = load(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 7 == 0)
    return dedup_against_reference(docs, ref).select("doc_id", "source", "n_chars")


# Near-dup corpus constructed inside the query: every document plus a
# "twin" with the last 2 words dropped (ids shifted by 10^9). Ground-truth
# near-dup pairs are (id, id + 10^9); the oracle computes exact word-3gram
# Jaccard for exactly those pairs. The Spark side must *discover* them via
# MinHash+LSH (no peeking at the construction) and verify with the same
# exact Jaccard — with 32 bands × 2 rows the miss probability at j≥0.6 is
# < 1e-6 per pair, so the outputs agree.
_TWIN_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id,
         array_to_string(list_slice(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), 1,
                         greatest(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) - 2, 1)), ' ') AS text
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS w FROM corpus)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000000
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.6
"""


@_register("dedup_minhash_lsh", _TWIN_ORACLE)
def dedup_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), TOKEN_SEP)
    twins = docs.select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(words, 1, F.greatest(F.size(words) - 2, F.lit(1))),
        ).alias("text"),
    )
    corpus = docs.unionAll(twins)
    # the twin filter is pushed into candidate generation (pair_filter):
    # row-identical to filtering the returned pairs — the verification
    # join then runs over the twin candidates only (guide §3.2: reduce
    # the join's big side before shuffling it)
    pairs = minhash_lsh_pairs(
        corpus,
        min_jaccard=0.6,
        pair_filter=lambda a, b: b - a == 1000000000,
    )
    return pairs.where(F.col("doc_b") - F.col("doc_a") == 1000000000)


_NGRAM_PAIRS_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS w FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


@_register("ngram_jaccard_adjacent", _NGRAM_PAIRS_ORACLE)
def ngram_jaccard_adjacent_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard between consecutive doc ids — validates the
    shingling + set-similarity machinery against pure SQL."""
    docs = load(spark, sf_dir, "documents")
    sh = fan_out_narrow_scan(docs).select(
        "doc_id", word_shingles(F.col("text"), 3).alias("s")
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            exact_jaccard(F.col("a.s"), F.col("b.s")).alias("jaccard"),
        )
    )


def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int | None = None,
    candidate_jaccard: float = 0.3,
    pair_filter: Callable[[Column, Column], Column] | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Fuzzy (edit-distance) near-duplicate pairs: MinHash-LSH candidate
    generation, Levenshtein verification — the standard two-phase shape
    for fuzzy dedup at corpus scale (all-pairs Levenshtein is O(n²·L²)
    and never viable; LSH candidates make it O(candidates·L²)).

    ``prefix_len`` bounds the DP cost per pair by comparing only the
    first N characters (edit distance on a prefix lower-bounds full-text
    distance for prefix-aligned edits; choose it ≥ the edit window you
    care about). ``candidate_jaccard`` is the loose recall knob for the
    LSH phase — pairs below it are never considered (documents within a
    small edit distance share almost all shingles, so a loose 0.3
    default loses essentially nothing).

    Returns (doc_a, doc_b, dist) with ``dist <= max_dist``; Levenshtein
    is JVM-side (`F.levenshtein`), no Python in the verify path.
    """
    cand = minhash_lsh_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        min_jaccard=candidate_jaccard,
        pair_filter=pair_filter,
        **lsh_kwargs,
    ).select("doc_a", "doc_b")
    txt = F.col(text_col)
    if prefix_len is not None:
        txt = F.substring(txt, 1, prefix_len)
    t = docs.select(F.col(id_col), txt.alias("__t"))
    ta = t.select(F.col(id_col).alias("doc_a"), F.col("__t").alias("__ta"))
    tb = t.select(F.col(id_col).alias("doc_b"), F.col("__t").alias("__tb"))
    return (
        cand.join(ta, on="doc_a")
        .join(tb, on="doc_b")
        .withColumn("dist", F.levenshtein("__ta", "__tb"))
        .where(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )


def passjoin_pairs(
    docs: DataFrame,
    max_dist: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """COMPLETE edit-distance pair discovery (PassJoin, Li et al. 2011):
    every pair with ``levenshtein <= max_dist`` is found — no recall
    loss, unlike the MinHash-LSH candidates of :func:`edit_distance_pairs`.

    Pigeonhole: partition each indexed string into ``k+1`` contiguous
    segments (k = ``max_dist``). Any string within edit distance k must
    contain at least one segment EXACTLY, shifted by at most k positions
    (an alignment has ≤ k indels), with overall lengths differing by
    ≤ k. So:

    - index side: each doc emits its k+1 (length, seg_idx, segment)
      keys — O(k) keys per doc;
    - probe side: each doc emits, for every candidate indexed length
      m1 ∈ [m2-k, m2+k] and segment i, the substrings of b at start
      positions inside the MULTI-MATCH-AWARE window (Lemma 3 of the
      PassJoin paper): with Δ = m2-m1 and 0-based segment index i, the
      shift d = start - p_i must satisfy |d| ≤ i, |Δ-d| ≤ k-i and
      |d| + |Δ-d| ≤ k — ~3× fewer probe keys than a loose ±k window,
      with zero recall loss. Completeness: an optimal alignment splits r
      into regions r_j with Σ ed(s_j, r_j) ≤ k; walking g(i) = (edits
      left of segment i) − i from g(0)=0 down to g(k+2)<Σ−k, g only
      steps −1 at edit-free segments, so some edit-free segment i has
      exactly Σ−k ≤ g(i) ≤ 0 — i.e. ≤ i edits to its left and ≤ k−i to
      its right, which bound |d| and |Δ−d| since each region's length
      differs from its segment's by at most its edit count. (Also
      re-verified here by brute force: tests/test_dedup_passjoin.py);
    - candidates are the (m1, i, substring) hash equi-join of the two —
      never an all-pairs comparison — then one JVM ``levenshtein``
      verifies each distinct pair.

    Strings shorter than k+1 cannot be segmented (a zero-length segment
    matches everywhere); they pair all-vs-all within the sub-(k+1)-char
    population — a deliberate, documented exception that stays tiny for
    any real document corpus (and such strings are all trivially within
    a few edits of each other anyway).

    Use this for small k where exactness matters; for large k (loose
    fuzzy matching) the LSH path's O(k)-independent candidates win.
    Returns (doc_a, doc_b, dist) with doc_a < doc_b.
    """
    k = int(max_dist)
    if k < 1:
        raise ValueError("max_dist must be >= 1 (use exact_dedup for 0)")
    k1 = k + 1
    t = F.col(text_col)
    base = fan_out_narrow_scan(docs).select(
        F.col(id_col).alias("__id"), t.alias("__t"), F.length(t).alias("__m")
    ).where(F.col("__t").isNotNull())

    # ---- index side: k+1 segments of every string with m >= k+1 --------
    seg_struct = f"""
      transform(sequence(0, {k}), i -> struct(
        i AS i,
        substring(__t,
          CAST(i * (__m DIV {k1}) + greatest(i - ({k1} - __m % {k1}), 0) + 1 AS INT),
          CAST(IF(i < {k1} - __m % {k1}, __m DIV {k1}, __m DIV {k1} + 1) AS INT)
        ) AS s))
    """
    idx = (
        base.where(F.col("__m") >= k1)
        .select("__id", F.col("__m").alias("m1"), F.explode(F.expr(seg_struct)).alias("e"))
        .select(
            F.col("__id").alias("id_a"),
            "m1",
            F.col("e.i").alias("si"),
            F.col("e.s").alias("seg"),
        )
    )

    # ---- probe side: candidate substrings per (m1, segment, ±k shift) --
    probe = base.select(
        F.col("__id").alias("id_b"),
        "__t",
        "__m",
        F.explode(
            F.expr(f"sequence(greatest(__m - {k}, {k1}), __m + {k})")
        ).alias("m1"),
    )
    pos_struct = f"""
      transform(sequence(0, {k}), i -> struct(
        i AS i,
        CAST(i * (m1 DIV {k1}) + greatest(i - ({k1} - m1 % {k1}), 0) AS INT) AS p,
        CAST(IF(i < {k1} - m1 % {k1}, m1 DIV {k1}, m1 DIV {k1} + 1) AS INT) AS ln))
    """
    # multi-match-aware start-position window (see docstring): with
    # Δ = __m - m1 ∈ [-k, k], lower/upper bounds on d = s - e.p are
    #   d ≥ max(-i, ⌈(Δ-k)/2⌉, Δ-(k-i)),  d ≤ min(i, ⌊(Δ+k)/2⌋, Δ+(k-i))
    # (Δ+k ≥ 0 and k-Δ ≥ 0, so DIV is already floor for both halves)
    lo = (
        f"greatest(e.p - e.i, e.p - (({k} - (__m - m1)) DIV 2), "
        f"e.p + (__m - m1) - ({k} - e.i), 0)"
    )
    hi = (
        f"least(e.p + e.i, e.p + (((__m - m1) + {k}) DIV 2), "
        f"e.p + (__m - m1) + ({k} - e.i), __m - e.ln)"
    )
    probe_keys = (
        probe.select(
            "id_b", "__t", "__m", "m1", F.explode(F.expr(pos_struct)).alias("e")
        )
        .where(F.expr(f"({hi}) >= ({lo})"))
        .select(
            "id_b",
            "m1",
            F.col("e.i").alias("si"),
            F.explode(
                F.expr(
                    f"""array_distinct(transform(
                        sequence({lo}, {hi}),
                        s -> substring(__t, CAST(s + 1 AS INT), e.ln)))"""
                )
            ).alias("seg"),
        )
    )

    cand = (
        idx.join(probe_keys, ["m1", "si", "seg"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
        # no distinct here: the union with the short-string band below is
        # followed by one distinct that covers both legs — deduping this
        # leg separately paid a full extra exchange for the same rows
    )

    # ---- short-string band: all pairs among sub-(k+1)-char strings -----
    # one tiny reduce group (collect ids, explode the pair triangle) — no
    # join node, so the plan stays free of nested-loop joins; the
    # sub-(k+1)-char population is bounded for any real corpus (k is 1-4)
    short_pairs = (
        base.where(F.col("__m") < k1)
        .groupBy(F.lit(0).alias("__band"))
        .agg(F.collect_list("__id").alias("ids"))
        .select(
            F.explode(
                F.expr(
                    """flatten(transform(ids, (a, i) ->
                         transform(slice(ids, i + 2, size(ids)), b ->
                           struct(least(a, b) AS doc_a,
                                  greatest(a, b) AS doc_b))))"""
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
    )
    cand = cand.unionByName(short_pairs).distinct()

    # ---- verify: one JVM levenshtein per distinct candidate pair -------
    ta = base.select(F.col("__id").alias("doc_a"), F.col("__t").alias("__ta"))
    tb = base.select(F.col("__id").alias("doc_b"), F.col("__t").alias("__tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("dist", F.levenshtein("__ta", "__tb"))
        .where(F.col("dist") <= k)
        .select("doc_a", "doc_b", "dist")
    )


_LEVENSHTEIN_ORACLE = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id,
         array_to_string(list_slice(w, 3, len(w)), ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(left(a.text, 200), left(b.text, 200)) AS BIGINT) AS dist
FROM corpus a JOIN corpus b ON b.doc_id = a.doc_id + 1000000000
WHERE levenshtein(left(a.text, 200), left(b.text, 200)) <= 100
"""


@_register("dedup_levenshtein_twins", _LEVENSHTEIN_ORACLE)
def dedup_levenshtein_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup end to end: a head-mutated twin corpus (drop the FIRST
    two words, so the edit lands inside the compared prefix), LSH
    candidate discovery, Levenshtein-≤-100 verification on the first 200
    chars; ground-truth twin pairs kept, like the MinHash gate. The
    oracle enumerates the same pairs by id and computes the same
    ``levenshtein(left(…))`` in SQL — both engines run the classic DP,
    so the integer distances match exactly."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), TOKEN_SEP)
    twins = docs.select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(words, 3, F.greatest(F.size(words) - 2, F.lit(1)))
        ).alias("text"),
    )
    corpus = docs.unionAll(twins)
    # twin filter pushed into LSH candidate generation (see pair_filter
    # in minhash_lsh_pairs): row-identical, the Jaccard-verify and
    # Levenshtein-verify joins see the twin candidates only, and the
    # plan stays on one side of the broadcast boundary at every scale
    # factor (fixes the r14 non-monotone 1x/3x/10x curve)
    pairs = edit_distance_pairs(
        corpus,
        max_dist=100,
        prefix_len=200,
        pair_filter=lambda a, b: b - a == 1000000000,
    )
    return pairs.where(F.col("doc_b") - F.col("doc_a") == 1000000000).withColumn(
        "dist", F.col("dist").cast("long")
    )


_PASSJOIN_ORACLE = r"""
WITH corpus AS (
  SELECT doc_id, left(text, 24) AS t FROM documents
  UNION ALL
  SELECT doc_id + 1000000000,
         concat(left(text, 2), 'X', substring(left(text, 24), 4)) FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
FROM corpus a JOIN corpus b ON a.doc_id < b.doc_id
WHERE levenshtein(a.t, b.t) <= 2
"""


@_register("dedup_passjoin_exact", _PASSJOIN_ORACLE)
def dedup_passjoin_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE fuzzy dedup: PassJoin segment pigeonhole over a corpus of
    24-char prefixes plus single-substitution twins, k=2. The oracle is a
    BRUTE-FORCE all-pairs Levenshtein — so this gate certifies recall:
    every pair within distance 2 that exists must be emitted, which LSH
    candidates cannot promise. Candidate generation is a hash equi-join
    on (length, segment_idx, segment) keys; no all-pairs comparison runs
    on the Spark side at any scale."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    t24 = F.substring(F.col("text"), 1, 24)
    orig = docs.select("doc_id", t24.alias("text"))
    twins = docs.select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat(
            F.substring(t24, 1, 2), F.lit("X"), F.substring(t24, 4, 21)
        ).alias("text"),
    )
    corpus = orig.unionAll(twins)
    return passjoin_pairs(corpus, max_dist=2).withColumn(
        "dist", F.col("dist").cast("long")
    )


# Cluster gate: a 3-variant corpus (doc, doc minus last 2 words, doc minus
# last 4 words; ids offset by 1e9/2e9) yields chain-shaped components
# {i, i+1e9, i+2e9} whose A–C edge may fall under the threshold — so the
# result depends on TRANSITIVE closure, which is what the operator must
# get right. The oracle reproduces the edges in SQL and closes them with
# a recursive CTE.
_CLUSTERS_ORACLE = r"""
WITH RECURSIVE
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000,
         array_to_string(list_slice(w, 1, greatest(len(w) - 2, 1)), ' ')
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM documents)
  UNION ALL
  SELECT doc_id + 2000000000,
         array_to_string(list_slice(w, 1, greatest(len(w) - 4, 1)), ' ')
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM documents)
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM corpus)
),
edges AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON b.doc_id % 1000000000 = a.doc_id % 1000000000
                     AND b.doc_id > a.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.55
),
und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(node, label) AS (
  SELECT a, a FROM und
  UNION
  SELECT u.a, r.label FROM reach r JOIN und u ON u.b = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
"""


# The clusters gate and the canonical-docs gate share the identical
# 3-variant corpus + clustering; computing it once per (session, sf_dir)
# and localCheckpoint-ing the (tiny) cluster table halves the pair of
# queries' cost — the duplicate_clusters iteration already truncates
# lineage, so the cached frame is a handful of in-memory label rows.
# The clustering IS the certified work of the clusters gates, so it is an
# ephemeral entry of the session store: each bench run recomputes it.


def _variant_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), TOKEN_SEP)

    def variant(drop: int, shift: int) -> DataFrame:
        return docs.select(
            (F.col("doc_id") + F.lit(shift)).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(words, 1, F.greatest(F.size(words) - drop, F.lit(1)))
            ).alias("text"),
        )

    return docs.unionAll(variant(2, 10**9)).unionAll(variant(4, 2 * 10**9))


def _variant_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        corpus = _variant_corpus(spark, sf_dir)
        # the 3-leg union of single-split scans materializes 3 partitions —
        # fan out so the shingling and the jaccard self-join don't serialize
        # on 3 cores (no-op on a many-file corpus; measured 1.63 -> 1.24 s)
        sh = fan_out_narrow_scan(corpus).select(
            "doc_id", word_shingles(F.col("text"), 3).alias("s")
        ).persist()
        a, b = sh.alias("a"), sh.alias("b")
        edges = (
            a.join(
                b,
                (F.col("b.doc_id") % 10**9 == F.col("a.doc_id") % 10**9)
                & (F.col("b.doc_id") > F.col("a.doc_id")),
            )
            .where(exact_jaccard(F.col("a.s"), F.col("b.s")) >= 0.55)
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        )
        clusters = duplicate_clusters(edges).localCheckpoint(eager=True)
        # clusters is checkpointed (lineage-free): the shingle frame backing
        # edge generation can be freed now — leaving it persisted piles up
        # executor storage on every rebuild (bench best-of-N resets)
        sh.unpersist()
        return clusters

    # no release: the checkpoint has no lineage behind it, so an unpersist
    # would lose it; dropping the reference lets the ContextCleaner reclaim
    # its blocks
    return memo(spark, ("clusters", sf_dir), build, ephemeral=True)


# the name bench.py and perfbench/run.py call between runs
reset_ephemeral_caches = reset


@_register("dedup_duplicate_clusters", _CLUSTERS_ORACLE)
def dedup_duplicate_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters via iterative connected
    components; result must equal the oracle's recursive-CTE transitive
    closure."""
    return _variant_clusters(spark, sf_dir)


# Engine-portable SimHash for the gate: per-shingle hash = first 15 hex
# digits of md5 (60 bits, positive in both engines), 32-bit
# fingerprint. The production default stays xxhash64 (fastest JVM path);
# swapping ONLY the hash function exercises identical shingle/bit-sum/
# sign-assembly logic, so the oracle now checks values, not just rows.
_SIMHASH_ORACLE = r"""
WITH sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 2 THEN
             list_distinct(list_transform(generate_series(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1]))
           ELSE [array_to_string(w, ' ')] END) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM documents)
),
h AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h FROM sh),
b AS (
  SELECT doc_id,
       SUM(CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b0,
       SUM(CASE WHEN (h >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b1,
       SUM(CASE WHEN (h >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b2,
       SUM(CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b3,
       SUM(CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b4,
       SUM(CASE WHEN (h >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b5,
       SUM(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b6,
       SUM(CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b7,
       SUM(CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b8,
       SUM(CASE WHEN (h >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b9,
       SUM(CASE WHEN (h >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b10,
       SUM(CASE WHEN (h >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b11,
       SUM(CASE WHEN (h >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b12,
       SUM(CASE WHEN (h >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b13,
       SUM(CASE WHEN (h >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b14,
       SUM(CASE WHEN (h >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b15,
       SUM(CASE WHEN (h >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS b16,
       SUM(CASE WHEN (h >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS b17,
       SUM(CASE WHEN (h >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS b18,
       SUM(CASE WHEN (h >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS b19,
       SUM(CASE WHEN (h >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS b20,
       SUM(CASE WHEN (h >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS b21,
       SUM(CASE WHEN (h >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS b22,
       SUM(CASE WHEN (h >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS b23,
       SUM(CASE WHEN (h >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS b24,
       SUM(CASE WHEN (h >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS b25,
       SUM(CASE WHEN (h >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS b26,
       SUM(CASE WHEN (h >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS b27,
       SUM(CASE WHEN (h >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS b28,
       SUM(CASE WHEN (h >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS b29,
       SUM(CASE WHEN (h >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS b30,
       SUM(CASE WHEN (h >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS b31
  FROM h GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN b0 > 0 THEN CAST(1 AS BIGINT) << 0 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b1 > 0 THEN CAST(1 AS BIGINT) << 1 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b2 > 0 THEN CAST(1 AS BIGINT) << 2 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b3 > 0 THEN CAST(1 AS BIGINT) << 3 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b4 > 0 THEN CAST(1 AS BIGINT) << 4 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b5 > 0 THEN CAST(1 AS BIGINT) << 5 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b6 > 0 THEN CAST(1 AS BIGINT) << 6 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b7 > 0 THEN CAST(1 AS BIGINT) << 7 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b8 > 0 THEN CAST(1 AS BIGINT) << 8 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b9 > 0 THEN CAST(1 AS BIGINT) << 9 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b10 > 0 THEN CAST(1 AS BIGINT) << 10 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b11 > 0 THEN CAST(1 AS BIGINT) << 11 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b12 > 0 THEN CAST(1 AS BIGINT) << 12 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b13 > 0 THEN CAST(1 AS BIGINT) << 13 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b14 > 0 THEN CAST(1 AS BIGINT) << 14 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b15 > 0 THEN CAST(1 AS BIGINT) << 15 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b16 > 0 THEN CAST(1 AS BIGINT) << 16 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b17 > 0 THEN CAST(1 AS BIGINT) << 17 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b18 > 0 THEN CAST(1 AS BIGINT) << 18 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b19 > 0 THEN CAST(1 AS BIGINT) << 19 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b20 > 0 THEN CAST(1 AS BIGINT) << 20 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b21 > 0 THEN CAST(1 AS BIGINT) << 21 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b22 > 0 THEN CAST(1 AS BIGINT) << 22 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b23 > 0 THEN CAST(1 AS BIGINT) << 23 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b24 > 0 THEN CAST(1 AS BIGINT) << 24 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b25 > 0 THEN CAST(1 AS BIGINT) << 25 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b26 > 0 THEN CAST(1 AS BIGINT) << 26 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b27 > 0 THEN CAST(1 AS BIGINT) << 27 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b28 > 0 THEN CAST(1 AS BIGINT) << 28 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b29 > 0 THEN CAST(1 AS BIGINT) << 29 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b30 > 0 THEN CAST(1 AS BIGINT) << 30 ELSE CAST(0 AS BIGINT) END
     + CASE WHEN b31 > 0 THEN CAST(1 AS BIGINT) << 31 ELSE CAST(0 AS BIGINT) END AS simhash
FROM b
"""


@_register("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints with an engine-portable md5-derived shingle
    hash (value-checked against DuckDB); production callers use the
    xxhash64 default of :func:`simhash_table`."""
    docs = load(spark, sf_dir, "documents")
    portable = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")  # noqa: E731
    return simhash_table(docs, bits=32, hash_fn=portable)


def canonical_docs(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    length_col: str = "n_chars",
) -> DataFrame:
    """Pick one canonical representative per duplicate cluster — the
    keep/drop decision that follows clustering in a corpus pipeline.
    Canonical = longest document, ties to the smallest id (deterministic).

    One broadcast-sized shuffle on cluster_id over the *clusters* frame
    (already orders of magnitude smaller than the corpus); the corpus
    itself is only semi-joined, never reshuffled."""
    joined = clusters.join(docs.select(id_col, length_col), on=id_col)
    best = F.max(
        F.struct(
            F.col(length_col).alias("len"), (-F.col(id_col)).alias("negid")
        )
    ).alias("b")
    return (
        joined.groupBy("cluster_id")
        .agg(
            best,
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cluster_id",
            (-F.col("b.negid")).alias("canonical_doc"),
            F.col("b.len").alias("canonical_chars"),
            "n_members",
        )
    )


_CANONICAL_ORACLE = r"""
WITH RECURSIVE
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000,
         array_to_string(list_slice(w, 1, greatest(len(w) - 2, 1)), ' ')
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM documents)
  UNION ALL
  SELECT doc_id + 2000000000,
         array_to_string(list_slice(w, 1, greatest(len(w) - 4, 1)), ' ')
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM documents)
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM corpus)
),
edges AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON b.doc_id % 1000000000 = a.doc_id % 1000000000
                     AND b.doc_id > a.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.55
),
und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(node, label) AS (
  SELECT a, a FROM und
  UNION
  SELECT u.a, r.label FROM reach r JOIN und u ON u.b = r.node
),
clusters AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, length(t.text) AS n_chars,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY length(t.text) DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN corpus t USING (doc_id)
)
SELECT cluster_id, doc_id AS canonical_doc, n_chars AS canonical_chars,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


@_register("dedup_canonical_docs", _CANONICAL_ORACLE)
def dedup_canonical_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusters → canonical representative per cluster (longest text, ties
    to min id) — the full near-dup keep/drop pipeline end to end; oracle
    re-derives clusters with a recursive CTE and ranks with SQL windows.
    Shares the session-memoized clustering with the clusters gate."""
    clusters = _variant_clusters(spark, sf_dir)
    corpus = _variant_corpus(spark, sf_dir)
    lengths = corpus.select("doc_id", F.length("text").cast("long").alias("n_chars"))
    return canonical_docs(clusters, lengths)
