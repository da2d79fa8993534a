"""Text-analysis functions for training-data pipelines.

Language ID (marker-word heuristic), quality scoring, token counting and
document fingerprinting — all as JVM-side Spark SQL expressions so they
run at corpus scale without Python in the hot path. Each has an exact
DuckDB oracle: the heuristics are defined purely in terms of string
primitives (length/replace/regexp) both engines implement identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_beam_spark.registry import registrar
from xarray_beam_spark.session import persist_scoped
from xarray_beam_spark.tables import fan_out_narrow_scan as _fan_out_narrow_scan
from xarray_beam_spark.tables import load

REGISTRY: dict = {}
_register = registrar(REGISTRY)


# Java's \s is exactly [ \t\n\x0B\f\r] (ASCII, no Unicode flag) but
# RE2's \s LACKS \x0B — the one token-split divergence between the engine
# and its DuckDB oracles. Spell the class out on BOTH sides (the same
# bytes reach both regex engines) so tokenization can never diverge; the
# Spark-side semantics are unchanged (the class IS Java's \s).
TOKEN_SEP = r"[ \t\n\x0B\f\r]+"


def token_count(text: Column) -> Column:
    """Whitespace token count (split semantics shared with DuckDB)."""
    return F.size(F.split(text, TOKEN_SEP)).cast("long")


# GPT-2-flavoured pre-tokenizer classes (simplified to an engine-portable
# regex): word = letters, number = digits, else one punctuation char.
# The negated class spells whitespace out instead of \s for the same
# reason TOKEN_SEP does: Java's \s includes \x0B, RE2's does not, and
# the same bytes must reach both engines so a \x0B char is a separator
# (never a punctuation token) on both sides.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def bpe_token_count(text: Column) -> Column:
    """BPE-style pre-token count: contiguous letter runs, digit runs, and
    individual punctuation marks each count as one token (the unit a
    byte-pair encoder would start merging from)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)).cast("long")


def rolling_hash(text: Column, base: int = 131, mod: int = 1_000_003) -> Column:
    """Polynomial rolling hash over whitespace words (Rabin-Karp style):
    ``h = (h*base + (first_char_code + len(word))) % mod`` per word.

    Pure JVM expression (``aggregate`` over the split array); the per-step
    modulo keeps every intermediate < 2^40, so bigint arithmetic is exact
    in both Spark and DuckDB."""
    words = F.split(text, TOKEN_SEP)
    step = lambda acc, w: (acc * base + F.ascii(w) + F.length(w)) % mod  # noqa: E731
    return F.aggregate(words, F.lit(0).cast("long"), step)


def sql_rolling_hash(col: str, base: int = 131, mod: int = 1_000_003) -> str:
    # list_reduce has no init accumulator: prepend a 0 sentinel word whose
    # contribution (ascii('')=0 + len… ) must equal Spark's init path; we
    # instead fold with an explicit seed element mapped to 0.
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(regexp_split_to_array({col}, '[ \\t\\n\\x0B\\f\\r]+'), "
        f"w -> CAST(ascii(w) + length(w) AS BIGINT))), "
        f"(acc, x) -> (acc * {base} + x) % {mod})"
    )


def substr_count(text: Column, sub: str) -> Column:
    """Occurrences of ``sub`` via length arithmetic (engine-portable)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(sub), F.lit("")))) / F.lit(len(sub))


def sql_substr_count(col: str, sub: str) -> str:
    return f"(length({col}) - length(replace({col}, '{sub}', ''))) / {len(sub)}"


# Marker words per language (surrounded by spaces to approximate word
# boundaries). The corpus is synthetic, so this is a *determinism* surface,
# not a linguistics claim — the same counts are computed in both engines.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " die ", " und "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " los ", " y "],
    "zh": [" zh ", " zhong ", " hua "],
}


def lang_scores(text: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return {
        lang: sum((substr_count(padded, m) for m in markers), F.lit(0.0)).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def detect_language(text: Column) -> Column:
    """argmax over marker-word scores, ties broken by language-code order;
    'und' when every score is zero.

    Expressed as a compute-once score array + ``array_position(scores,
    array_max(scores))`` — NOT a nested CASE chain re-evaluating every
    score per branch: the chain form expands each marker count (two
    string scans) once per WHEN arm, and composed pipelines (langid +
    quality + dedup in one fused projection) blew whole-stage codegen
    past janino's 64 KB method limit, silently dropping the whole stage
    to interpreted mode. ``array_position`` returns the FIRST index of
    the max, which is exactly the earliest-language tie-break."""
    scores = lang_scores(text)
    langs = sorted(scores)
    scores_arr = F.array(*[scores[lang] for lang in langs])
    langs_arr = F.array(*[F.lit(lang) for lang in langs])
    best = F.array_max(scores_arr)
    idx = F.array_position(scores_arr, best).cast("int")
    return F.when(best > 0, F.element_at(langs_arr, idx)).otherwise(F.lit("und"))


def sql_lang_score(col: str, lang: str) -> str:
    padded = f"(' ' || {col} || ' ')"
    parts = " + ".join(sql_substr_count(padded, m) for m in LANG_MARKERS[lang])
    return f"CAST({parts} AS BIGINT)"


def sql_detect_language(col: str) -> str:
    langs = sorted(LANG_MARKERS)
    score = {lang: sql_lang_score(col, lang) for lang in langs}
    best = "GREATEST(" + ", ".join(score[lang] for lang in langs) + ")"
    expr = "'und'"
    for lang in reversed(langs):
        expr = f"CASE WHEN {score[lang]} = {best} AND {best} > 0 THEN '{lang}' ELSE {expr} END"
    return expr


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals (exact int
    counts; ratios as single fp divisions)."""
    n_chars = F.length(text).cast("long")
    tokens = token_count(text)
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    stop = sum(
        (substr_count(padded, f" {w} ") for w in ["the", "a", "and", "of", "to"]),
        F.lit(0.0),
    ).cast("long")
    punct = (
        F.length(text) - F.length(F.regexp_replace(text, r"[\.,;:!\?]", ""))
    ).cast("long")
    return {
        "n_chars": n_chars,
        "n_tokens": tokens,
        "n_stopwords": stop,
        "n_punct": punct,
        "stopword_ratio": stop.cast("double") / tokens,
        "mean_token_len": (n_chars - tokens + 1).cast("double") / tokens,
    }


# ---------------------------------------------------------------------------
# gate queries
# ---------------------------------------------------------------------------

_STATS_ORACLE = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens,
       CAST({sql_substr_count("(' ' || text || ' ')", ' the ')}
          + {sql_substr_count("(' ' || text || ' ')", ' a ')}
          + {sql_substr_count("(' ' || text || ' ')", ' and ')}
          + {sql_substr_count("(' ' || text || ' ')", ' of ')}
          + {sql_substr_count("(' ' || text || ' ')", ' to ')} AS BIGINT) AS n_stopwords,
       CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS BIGINT) AS n_punct,
       CAST({sql_substr_count("(' ' || text || ' ')", ' the ')}
          + {sql_substr_count("(' ' || text || ' ')", ' a ')}
          + {sql_substr_count("(' ' || text || ' ')", ' and ')}
          + {sql_substr_count("(' ' || text || ' ')", ' of ')}
          + {sql_substr_count("(' ' || text || ' ')", ' to ')} AS DOUBLE)
         / len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS stopword_ratio,
       CAST(length(text) - len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) + 1 AS DOUBLE)
         / len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS mean_token_len
FROM documents
"""


@_register("text_quality_stats", _STATS_ORACLE)
def text_quality_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heavy per-row text work must not serialize on a single-split scan
    docs = _fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    feats = quality_features(F.col("text"))
    return docs.select("doc_id", *[feats[k].alias(k) for k in
                                   ["n_chars", "n_tokens", "n_stopwords", "n_punct",
                                    "stopword_ratio", "mean_token_len"]])


_LANGID_ORACLE = f"""
SELECT doc_id, {sql_detect_language('text')} AS detected,
       lang AS labeled
FROM documents
"""


@_register("text_langid", _LANGID_ORACLE)
def text_langid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heavy per-row text work must not serialize on a single-split scan
    docs = _fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        detect_language(F.col("text")).alias("detected"),
        F.col("lang").alias("labeled"),
    )


_LANG_AGG_ORACLE = f"""
SELECT {sql_detect_language('text')} AS detected, source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


@_register("text_lang_rollup", _LANG_AGG_ORACLE)
def text_lang_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heavy per-row text work must not serialize on a single-split scan
    docs = _fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    return (
        docs.select(detect_language(F.col("text")).alias("detected"), "source", "text")
        .groupBy("detected", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text").cast("long")).alias("total_chars"),
        )
    )


_BPE_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS bpe_tokens
FROM documents
"""


@_register("text_token_counts", _BPE_ORACLE)
def text_token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-style pre-token counts per document."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


_ROLLHASH_ORACLE = f"""
SELECT doc_id, {sql_rolling_hash('text')} AS rhash,
       {sql_rolling_hash('text')} % 1024 AS shard
FROM documents
"""


@_register("doc_rolling_hash", _ROLLHASH_ORACLE)
def doc_rolling_hash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (word-level
    Rabin-Karp) — order-sensitive unlike the md5 content hash, usable for
    incremental / windowed fingerprinting."""
    docs = load(spark, sf_dir, "documents")
    rh = rolling_hash(F.col("text"))
    return docs.select("doc_id", rh.alias("rhash"), (rh % 1024).alias("shard"))


_FP_ORACLE = """
SELECT doc_id, md5(text) AS fingerprint,
       substr(md5(text), 1, 8) AS shard_key
FROM documents
"""


@_register("doc_fingerprint", _FP_ORACLE)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.col("text"))
    return docs.select("doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("shard_key"))


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------


def repetition_signals(text: Column) -> dict[str, Column]:
    """Within-document repetition quality signals (the Gopher / MassiveText
    filter family): fraction of duplicated words and the share of the most
    frequent word-bigram.

    Both are single JVM expressions over the split-word array — zero
    shuffles, zero Python, so they run as a row-local filter at any corpus
    scale. The bigram mode is computed by sorting the bigram array and
    folding a (prev, run, best) struct over it with ``aggregate`` instead
    of an explode + groupBy, trading a per-row O(g log g) sort for not
    shuffling the corpus."""
    words = F.split(text, TOKEN_SEP)
    n = F.size(words)
    n_unique = F.size(F.array_distinct(words))
    dup_word_fraction = F.lit(1.0) - n_unique.cast("double") / n.cast("double")

    grams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
    )

    def step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            g.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    best_run = F.aggregate(F.array_sort(grams), acc0, step, lambda acc: acc["best"])
    max_2gram_fraction = F.when(
        n > 1, best_run.cast("double") / (n - 1).cast("double")
    ).otherwise(F.lit(0.0))
    return {
        "dup_word_fraction": dup_word_fraction,
        "max_2gram_fraction": max_2gram_fraction,
    }


# Oracle computes the same numbers relationally (unnest → group → mode
# share) — different algorithm, same definition, so agreement is a real
# cross-check rather than the same code run twice.
_REPETITION_ORACLE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS words FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i + 1])) AS gram
  FROM w
), c AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
), m AS (
  SELECT doc_id, MAX(cnt) AS best, SUM(cnt) AS total FROM c GROUP BY 1
)
SELECT w.doc_id,
       1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
         AS dup_word_fraction,
       COALESCE(CAST(m.best AS DOUBLE) / m.total, 0.0) AS max_2gram_fraction
FROM w LEFT JOIN m USING (doc_id)
"""


@_register("text_repetition_signals", _REPETITION_ORACLE)
def text_repetition_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heavy per-row text work must not serialize on a single-split scan
    docs = _fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    sig = repetition_signals(F.col("text"))
    return docs.select(
        "doc_id",
        sig["dup_word_fraction"].alias("dup_word_fraction"),
        sig["max_2gram_fraction"].alias("max_2gram_fraction"),
    )


# ---------------------------------------------------------------------------
# corpus vocabulary
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = r"""
SELECT w AS word, COUNT(*) AS cnt
FROM (SELECT unnest(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS w FROM documents)
WHERE w <> ''
GROUP BY 1
ORDER BY cnt DESC, word ASC
LIMIT 50
"""


@_register("doc_vocab_topk", _VOCAB_ORACLE)
def doc_vocab_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-50 vocabulary by frequency — the tokenizer-training /
    corpus-stats primitive. One explode + one map-side-combinable count
    shuffle on the word key; the top-k is a driver-size sort of the
    (distinct-words)-row aggregate, never of the corpus. Ties broken by
    word so the result set is deterministic."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", TOKEN_SEP)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(50)
    )


# Sentence segmentation shared by the C4-style dedup and its oracle. The
# three alternatives cover every character ((body+punct+ws) | (tail with
# no terminal punct) | (bare punct run)), so concatenating the matches
# reproduces the input byte for byte — the splice below can remove
# sentence spans WITHOUT re-normalizing the survivors' formatting. No
# lookarounds, and the whitespace class is spelled explicitly as
# [ \t\n\f\r] rather than \s because the dialects disagree on \s: Java's
# includes vertical tab (\x0B) while RE2's does not, so \s would segment
# a "...!\x0Bnext" document differently in Spark vs the DuckDB oracle.
SENTENCE_PATTERN = r"[^.!?]+[.!?]+[ \t\n\f\r]*|[^.!?]+$|[.!?]+[ \t\n\f\r]*"


def split_sentences(text: Column) -> Column:
    """``text`` as an array of sentences (terminal punctuation and
    trailing whitespace kept with their sentence; concatenation of the
    array reproduces the input exactly)."""
    return F.regexp_extract_all(text, F.lit(SENTENCE_PATTERN), 0)


def _excise_duplicate_window_spans(
    docs: DataFrame,
    units: Column,
    window: int,
    hash_fn: str,
    min_count: int,
    keep_first_occurrence: bool,
    min_span_units: int,
    join_sep: str,
    id_col: str,
    n_units_name: str,
    removed_name: str,
    unit_filter: "Callable[[Column], Column] | None" = None,
    window_text: "Callable[[Column], Column] | None" = None,
) -> DataFrame:
    """Shared engine of :func:`remove_duplicate_spans` (token units,
    space join) and :func:`remove_duplicate_sentence_spans` (sentence
    units, verbatim join): ``window``-unit sliding hashes → global
    multiplicity (keep-first riding the same aggregation as a
    ``min(struct)``) → per-doc merged intervals → post-merge length
    floor → row-local splice. One unit-scale explode, one hash
    group-by, one equi-join back, one doc-id regroup; everything after
    the regroup is a JVM expression.

    ``window_text`` overrides how position ``i``'s window STRING is
    built (default: slice the units array and re-join).  The char mode
    passes a direct ``substr`` — windows there ARE substrings, and
    slicing a one-char-per-element array N times costs ~12x more than
    N substrs (measured 24.6 s -> 2.0 s on the sf0.1 hashing leg) for
    bit-identical hashes."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', not {hash_fn!r}")
    hasher = F.md5 if hash_fn == "md5" else F.xxhash64
    w = window
    # Bind the units expression to a REAL column before any lambda touches
    # it: higher-order functions get no common-subexpression elimination,
    # so a lambda referencing the raw `split(...)` expression re-tokenizes
    # the whole document once PER WINDOW POSITION — O(doc_len) work where
    # an attribute read is O(1) (measured 2.7 s -> 0.6 s on the sf0.1
    # token-mode hashing leg).  `_xbs_u` is dropped before returning.
    if "_xbs_u" in docs.columns:
        raise ValueError("input already has a column named '_xbs_u'")
    bound = _fan_out_narrow_scan(docs).withColumn("_xbs_u", units)
    u = F.col("_xbs_u")
    n = F.size(u)
    positions = F.when(
        n >= w, F.sequence(F.lit(1), n - w + 1)
    ).otherwise(F.array().cast("array<int>"))
    if window_text is None:
        window_text = lambda i: F.array_join(F.slice(u, i, w), join_sep)  # noqa: E731
    hashes = F.transform(positions, lambda i: hasher(window_text(i)))
    if unit_filter is not None:
        # Windows containing any EXEMPT unit (e.g. short/blank lines —
        # structure, not boilerplate) hash to null and never match.
        ok = F.transform(
            positions,
            lambda i: F.forall(F.slice(u, i, w), unit_filter),
        )
        hashes = F.zip_with(hashes, ok, lambda h, o: F.when(o, h))
    wins = (
        bound.select(F.col(id_col), F.posexplode(hashes).alias("pos0", "h"))
        .filter(F.col("h").isNotNull())
        .select(id_col, (F.col("pos0") + 1).alias("pos"), "h")
    )
    # wins feeds BOTH the multiplicity aggregation and the probe side of
    # the join back; the probe side of a broadcast join has no exchange
    # to reuse, so without a persist the whole scan→window-hash→explode
    # subtree evaluates twice (verified in the formatted plan: 2 xxhash64
    # trees, 6 scans). The persisted rows are (id, pos, hash) — the
    # suffix-array analog, ~24 bytes per unit position — the natural
    # checkpoint of this pipeline at any scale. Session-scoped: the
    # returned plan is lazy, so the builder cannot unpersist it itself;
    # the next reset() does.
    wins = persist_scoped(wins)
    if keep_first_occurrence:
        # The globally first copy rides the SAME multiplicity aggregation
        # (min over the lexicographic (doc_id, pos) struct), so keep-first
        # adds zero shuffles in every plan shape — broadcast or
        # sort-merge — where a row_number window would force an extra
        # unit-scale exchange whenever the multiplicity join broadcasts.
        dup_h = (
            wins.groupBy("h")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_first"),
            )
            .filter(F.col("c") >= min_count)
            .select("h", "_first")
        )
        marked = wins.join(dup_h, "h").filter(
            ~(
                (F.col(id_col) == F.col(f"_first.{id_col}"))
                & (F.col("pos") == F.col("_first.pos"))
            )
        )
    else:
        dup_h = (
            wins.groupBy("h")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= min_count)
            .select("h")
        )
        marked = wins.join(dup_h, "h")
    dup_pos = marked.groupBy(id_col).agg(
        F.array_sort(F.collect_set("pos")).alias("dps")
    )
    # join onto BOUND, not docs: the splice leg reuses the already-bound
    # (and fan-out-repartitioned) units column instead of re-tokenizing
    # the whole corpus a second time on the narrow scan
    d = bound.join(dup_pos, id_col, "left")
    dps = F.coalesce(F.col("dps"), F.array().cast("array<int>"))
    # Merge overlapping/adjacent removal intervals [p, p+w-1] (dps sorted):
    # fold each position into the last interval when it touches it, else
    # open a new one — acc stays disjoint and sorted throughout.
    iv_t = "array<struct<s:int,e:int>>"
    merged = F.aggregate(
        dps,
        F.array().cast(iv_t),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["e"] + 1),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], p + (w - 1)
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(p.alias("s"), (p + (w - 1)).alias("e"))))
        ),
    )
    if min_span_units > 1:
        # Post-merge length floor (the paper's minimum matching length):
        # merged-but-short spans are kept in the document.
        merged = F.filter(
            merged, lambda v: (v["e"] - v["s"] + 1) >= min_span_units
        )
    d = d.select(id_col, F.col("_xbs_u").alias("_units"), merged.alias("_iv"))
    kept = F.filter(
        F.col("_units"),
        lambda t, i: ~F.exists(
            F.col("_iv"),
            lambda v: (v["s"] <= i + 1) & (i + 1 <= v["e"]),
        ),
    )
    return d.select(
        id_col,
        F.array_join(kept, join_sep).alias("text"),
        F.size("_units").cast("long").alias(n_units_name),
        F.coalesce(
            F.aggregate(
                F.col("_iv"),
                F.lit(0).cast("long"),
                lambda a, v: a + (v["e"] - v["s"] + 1).cast("long"),
            ),
            F.lit(0).cast("long"),
        ).alias(removed_name),
        F.size("_iv").cast("long").alias("n_spans"),
    )


def remove_duplicate_sentence_spans(
    docs: DataFrame,
    window: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    min_count: int = 2,
    keep_first_occurrence: bool = True,
) -> DataFrame:
    """C4-style duplicate-span removal at SENTENCE granularity (Raffel et
    al. 2020, arXiv:1910.10683 §2.2: "we discarded all but one of any
    three-sentence span occurring more than once in the data set").
    Sentences are the units (``split_sentences``: punctuation and
    whitespace stay attached), every ``window``-sentence sliding span
    whose text occurs ``min_count``+ times corpus-wide is excised except
    — with ``keep_first_occurrence=True``, the C4 default — the lowest
    ``(doc_id, pos)`` copy; kept sentences are re-concatenated verbatim,
    so the survivors' formatting is untouched (the token-stream operator
    ``remove_duplicate_spans`` whitespace-normalizes; this one cannot,
    because C4's unit of meaning is the exact sentence text).

    Returns one row per document: rewritten ``text``, ``n_sentences``,
    ``removed_sentences``, ``n_spans`` (maximal merged spans). Same
    scale shape as the token operator: one sentence-scale explode, one
    hash group-by (keep-first rides it as ``min(struct)``), one equi-join
    back, one doc-id regroup; merge + splice are row-local JVM
    expressions.
    """
    return _excise_duplicate_window_spans(
        docs,
        units=split_sentences(F.col(text_col)),
        window=window,
        hash_fn=hash_fn,
        min_count=min_count,
        keep_first_occurrence=keep_first_occurrence,
        min_span_units=0,
        join_sep="",  # verbatim re-concatenation preserves formatting
        id_col=id_col,
        n_units_name="n_sentences",
        removed_name="removed_sentences",
    )


def remove_duplicate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    min_count: int = 2,
    min_line_chars: int = 8,
    keep_first_occurrence: bool = True,
) -> DataFrame:
    """Corpus-wide exact LINE deduplication — the boilerplate-removal
    stage of RefinedWeb-style pipelines (Penedo et al. 2023,
    arXiv:2306.01116 §3: exact duplicated lines — headers, nav bars,
    cookie banners — are excised line-wise across the corpus). A line
    whose exact text occurs ``min_count``+ times is removed from every
    document except (``keep_first_occurrence``) its lowest
    ``(doc_id, pos)`` copy. Lines whose trimmed length is under
    ``min_line_chars`` are EXEMPT — blank/short lines are document
    structure, not boilerplate, and would otherwise all collide.

    Third unit granularity on the shared span engine (tokens = Lee et
    al. ExactSubstr, sentences = C4, lines = RefinedWeb): split on
    ``\\n``, window 1, newline re-join — reconstruction is byte-exact,
    so surviving lines keep their formatting. Returns rewritten
    ``text``, ``n_lines``, ``removed_lines``, ``n_spans`` (merged runs
    of adjacent removed lines)."""
    return _excise_duplicate_window_spans(
        docs,
        units=F.split(F.col(text_col), "\n"),
        window=1,
        hash_fn=hash_fn,
        min_count=min_count,
        keep_first_occurrence=keep_first_occurrence,
        min_span_units=0,
        join_sep="\n",
        id_col=id_col,
        n_units_name="n_lines",
        removed_name="removed_lines",
        unit_filter=lambda u: F.length(F.trim(u)) >= min_line_chars,
    )


def remove_duplicate_char_spans(
    docs: DataFrame,
    window: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    min_count: int = 2,
    min_span_chars: int = 0,
    keep_first_occurrence: bool = True,
) -> DataFrame:
    """Exact-substring span removal at CHARACTER granularity — the unit
    Lee et al. 2022 actually operate at (their suffix array indexes
    bytes, not whitespace tokens), so duplicated substrings that straddle
    token boundaries — punctuation variants, no-space scripts — are
    caught here where the token-window mode (``remove_duplicate_spans``)
    is blind to them. Every ``window``-character sliding substring
    occurring ``min_count``+ times corpus-wide marks its characters;
    marked windows merge into maximal intervals (optionally floored at
    ``min_span_chars``) and are spliced out of every copy except —
    with ``keep_first_occurrence`` — the lowest ``(doc_id, pos)`` one.
    Units are single characters joined verbatim (``join_sep=""``), so
    reconstruction is byte-exact like the sentence/line modes.

    Fourth unit granularity of the shared engine (tokens / sentences /
    lines / chars). Scale shape is the same one-explode pipeline, but at
    one row per CHARACTER — ~5x the token mode's row count, the honest
    cost of byte-level exactness without a distributed suffix array
    (the paper's suffix array is likewise O(bytes)). At very large
    corpora prefer the token/sentence modes unless boundary-straddling
    duplicates matter, or raise ``window`` to shrink the duplicate set
    (candidate hashing stays O(chars) regardless).

    Returns rewritten ``text``, ``n_chars`` (note: the empty document
    splits to one empty unit in both Spark and DuckDB, so its n_chars
    is 1), ``removed_chars``, ``n_spans``."""
    return _excise_duplicate_window_spans(
        docs,
        units=F.split(F.col(text_col), ""),
        window=window,
        hash_fn=hash_fn,
        min_count=min_count,
        keep_first_occurrence=keep_first_occurrence,
        min_span_units=min_span_chars,
        join_sep="",  # verbatim char re-join: byte-exact reconstruction
        id_col=id_col,
        n_units_name="n_chars",
        removed_name="removed_chars",
        # char windows ARE substrings: hash substr(text, i, w) directly
        # instead of slicing the one-char-per-element array and
        # re-joining per position (~12x on the hashing leg, identical
        # hashes — the units array is still what the splice step uses)
        window_text=lambda i: F.col(text_col).substr(i, F.lit(window)),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf_scale: int = 1_000_000,
) -> DataFrame:
    """Per-document top-``k`` characteristic terms by tf-idf — the
    keyword-extraction / doc-representation primitive (complement of the
    global ``doc_vocab_topk``). The idf is the UNLOGGED rational
    ``floor(idf_scale * N / df)`` computed with integer division, so
    every score is an exact BIGINT (`tf * idf_scaled`) and the ranking
    is bit-reproducible in any engine — no libm ``ln`` in the pipeline
    (production users who want the classic ``ln(N/df)`` can post-scale;
    the RANKING under monotone idf transforms differs only in how terms
    sharing a df trade off against tf, and the exact variant is the one
    a hash oracle can certify).

    Scale shape: one token explode, one (doc, term) count (map-side
    combinable), one term-level df count, one term equi-join back, one
    per-doc top-k window — no pairwise work, no driver data collects;
    the corpus size ``N`` rides a 1-row broadcast. Ties break by term.
    """
    from pyspark.sql.window import Window as _W

    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), TOKEN_SEP)).alias("term")
    ).where(F.col("term") != "")
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))  # 1-row scalar (tabular.py:824 pattern)
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf").cast("long").alias("tf"),
            F.expr(
                f"tf * (CAST({idf_scale} AS BIGINT) * n_docs DIV df)"
            ).alias("score"),
        )
    )
    w = _W.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "score")
    )


# The synthetic documents carry no punctuation, so the gate derives a
# deterministic sentence structure first (". table " at every " table "
# occurrence — content-anchored, so duplicated substrings across docs
# yield identical sentence sequences), the same inline-fixture pattern
# the twin-corpus dedup gates use. Both engines run the identical
# replace + RE2/Java-compatible extraction.
_C4_SENT_ORACLE = r"""
WITH t AS (
  SELECT doc_id, replace(text, ' table ', '. table ') AS txt FROM documents
),
s AS (
  SELECT doc_id,
         regexp_extract_all(txt, '[^.!?]+[.!?]+[ \t\n\f\r]*|[^.!?]+$|[.!?]+[ \t\n\f\r]*') AS sents
  FROM t
),
wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(sents, i, i + 1), '')) AS h
  FROM s, UNNEST(generate_series(1, len(sents) - 1)) AS u(i)
),
dup_h AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT w.doc_id, w.pos,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY w.doc_id, w.pos) AS rn
    FROM wins w JOIN dup_h USING (h)
  ) WHERE rn > 1
),
iv AS (SELECT doc_id, pos AS st, pos + 1 AS e FROM marked),
flag AS (
  SELECT doc_id, st, e,
         CASE WHEN st > COALESCE(MAX(e) OVER (
             PARTITION BY doc_id ORDER BY st
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         THEN 1 ELSE 0 END AS ng
  FROM iv
),
grp AS (SELECT doc_id, st, e, SUM(ng) OVER (PARTITION BY doc_id ORDER BY st) AS g FROM flag),
merged AS (SELECT doc_id, g, MIN(st) AS st, MAX(e) AS e FROM grp GROUP BY doc_id, g),
audit AS (
  SELECT doc_id, SUM(e - st + 1) AS removed_sentences, COUNT(*) AS n_spans
  FROM merged GROUP BY doc_id
),
units AS (SELECT doc_id, i, sents[i] AS sent FROM s, UNNEST(generate_series(1, len(sents))) AS u(i)),
kept AS (
  SELECT un.doc_id, un.i, un.sent FROM units un
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m WHERE m.doc_id = un.doc_id AND un.i BETWEEN m.st AND m.e)
),
rew AS (SELECT doc_id, COALESCE(string_agg(sent, '' ORDER BY i), '') AS text FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       md5(COALESCE(r.text, '')) AS rewritten_fp,
       CAST(len(regexp_extract_all(replace(d.text, ' table ', '. table '),
                 '[^.!?]+[.!?]+[ \t\n\f\r]*|[^.!?]+$|[.!?]+[ \t\n\f\r]*')) AS BIGINT) AS n_sentences,
       CAST(COALESCE(a.removed_sentences, 0) AS BIGINT) AS removed_sentences,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans
FROM documents d
LEFT JOIN audit a USING (doc_id)
LEFT JOIN rew r ON d.doc_id = r.doc_id
"""


@_register("text_c4_sentence_dedup", _C4_SENT_ORACLE)
def text_c4_sentence_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-policy sentence-span dedup: derive deterministic sentence
    boundaries, excise every duplicated 2-sentence span except its
    lowest-(doc_id, pos) copy, certify the formatting-preserving rewrite
    via md5 fingerprint plus the removal audit. Window 2 (not the
    paper's 3) because the gate corpus averages ~2.7 derived sentences
    per doc; the operator default stays 3."""
    # heavy per-row text work must not serialize on a single-split scan
    docs = _fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    derived = docs.select(
        "doc_id",
        F.replace(  # plain replace-all, identical scan semantics to the
            F.col("text"), F.lit(" table "), F.lit(". table ")
        ).alias("text"),  # oracle's replace() on adjacent occurrences
    )
    out = remove_duplicate_sentence_spans(
        derived, window=2, hash_fn="xxhash64", keep_first_occurrence=True
    )
    return out.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("rewritten_fp"),  # oracle: md5(COALESCE(text,''))
        "n_sentences",
        "removed_sentences",
        "n_spans",
    )


# Line boundaries derived content-anchored like the C4 gate's sentences
# (the synthetic corpus is single-line): identical substrings across docs
# yield identical line sequences, so the planted duplicate spans produce
# real cross-document duplicate lines. Short lines (< 8 trimmed chars)
# are exempt in both engines.
_LINE_DEDUP_ORACLE = r"""
WITH t AS (
  SELECT doc_id, replace(text, ' row ', chr(10) || 'row ') AS txt FROM documents
),
s AS (SELECT doc_id, regexp_split_to_array(txt, '\n') AS lines FROM t),
u AS (
  SELECT doc_id, i AS pos, lines[i] AS line
  FROM s, UNNEST(generate_series(1, len(lines))) AS g(i)
),
wins AS (
  SELECT doc_id, pos, md5(line) AS h FROM u WHERE length(trim(line)) >= 8
),
dup_h AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT w.doc_id, w.pos,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY w.doc_id, w.pos) AS rn
    FROM wins w JOIN dup_h USING (h)
  ) WHERE rn > 1
),
flag AS (
  SELECT doc_id, pos AS st, pos AS e,
         CASE WHEN pos > COALESCE(MAX(pos) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         THEN 1 ELSE 0 END AS ng
  FROM marked
),
grp AS (SELECT doc_id, st, e, SUM(ng) OVER (PARTITION BY doc_id ORDER BY st) AS g FROM flag),
merged AS (SELECT doc_id, g, MIN(st) AS st, MAX(e) AS e FROM grp GROUP BY doc_id, g),
audit AS (
  SELECT doc_id, SUM(e - st + 1) AS removed_lines, COUNT(*) AS n_spans
  FROM merged GROUP BY doc_id
),
kept AS (
  SELECT un.doc_id, un.i, un.line FROM (
    SELECT doc_id, i, lines[i] AS line
    FROM s, UNNEST(generate_series(1, len(lines))) AS g(i)
  ) un
  WHERE NOT EXISTS (
    SELECT 1 FROM marked m WHERE m.doc_id = un.doc_id AND m.pos = un.i)
),
rew AS (
  SELECT doc_id, COALESCE(string_agg(line, chr(10) ORDER BY i), '') AS text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       md5(COALESCE(r.text, '')) AS rewritten_fp,
       CAST(len(regexp_split_to_array(replace(d.text, ' row ', chr(10) || 'row '), '\n')) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.removed_lines, 0) AS BIGINT) AS removed_lines,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans
FROM documents d
LEFT JOIN audit a USING (doc_id)
LEFT JOIN rew r ON d.doc_id = r.doc_id
"""


@_register("text_line_dedup", _LINE_DEDUP_ORACLE)
def text_line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-policy exact line dedup: derive deterministic line
    boundaries, excise every >=8-char line occurring twice corpus-wide
    except its first copy, certify the byte-exact rewrite fingerprint
    plus the removal audit."""
    docs = load(spark, sf_dir, "documents")
    derived = docs.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" row "), F.lit("\nrow ")).alias("text"),
    )
    out = remove_duplicate_lines(
        derived, hash_fn="xxhash64", min_line_chars=8, keep_first_occurrence=True
    )
    return out.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("rewritten_fp"),  # oracle: md5(COALESCE(text,''))
        "n_lines",
        "removed_lines",
        "n_spans",
    )


_TFIDF_ORACLE = r"""
WITH words AS (
  SELECT doc_id, w AS term
  FROM (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS ws FROM documents),
       UNNEST(ws) AS u(w)
  WHERE w != ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
         tf.tf * ((CAST(1000000 AS BIGINT) * n.n_docs) // df.df) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, CAST(score AS BIGINT) AS score
FROM ranked WHERE rank <= 5
"""


@_register("text_tfidf_topterms", _TFIDF_ORACLE)
def text_tfidf_topterms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms per document, exact-integer scoring."""
    docs = load(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=5)
    return out.select(
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        "term",
        "tf",
        F.col("score").cast("long").alias("score"),
    )


# ---------------------------------------------------------------------------
# normalization / scrubbing
# ---------------------------------------------------------------------------


def normalize_text(text: Column) -> Column:
    """Canonicalizing scrub for dedup keys and tokenizer input: lowercase,
    digit runs → ``0``, punctuation → space, whitespace collapsed+trimmed.
    All JVM regexp primitives shared verbatim with the oracle dialect."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[0-9]+", "0")
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


_SCRUB_SQL_EXPR = (
    "trim(regexp_replace(regexp_replace(regexp_replace(lower(text), "
    "'[0-9]+', '0', 'g'), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
)

_SCRUB_ORACLE = f"""
SELECT doc_id,
       CAST(length({_SCRUB_SQL_EXPR}) AS BIGINT) AS n_chars_norm,
       md5({_SCRUB_SQL_EXPR}) AS norm_fingerprint
FROM documents
"""


@_register("text_normalize_scrub", _SCRUB_ORACLE)
def text_normalize_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.md5(norm).alias("norm_fingerprint"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Oracle-dialect patterns (DuckDB/RE2): RE2's \b is an ASCII word
# boundary ([0-9A-Za-z_] vs not). Java's \b is Unicode-aware — 'é'
# counts as a word char — so running THESE patterns in Spark would
# under-redact 'café192.168.0.1' while the oracle redacts it. The Spark
# side therefore spells the boundary as explicit ASCII lookarounds
# (_java_pii_pattern below; lookarounds exist in Java, not in RE2) —
# two spellings, one match set. Scrub order matters — emails first
# (their domains contain dots/digits an IP pattern could bite into).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    "phone": (r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
}


def _java_pii_pattern(pat: str) -> str:
    """Java-dialect spelling: replace leading/trailing ``\\b`` with
    zero-width ASCII-word lookarounds so Spark matches exactly RE2's
    ASCII boundary semantics (incl. against non-ASCII neighbors)."""
    if pat.startswith(r"\b"):
        pat = r"(?<![0-9A-Za-z_])" + pat[2:]
    if pat.endswith(r"\b"):
        pat = pat[:-2] + r"(?![0-9A-Za-z_])"
    return pat


def scrub_pii(text: Column) -> Column:
    """Redact emails, IPv4 addresses and phone numbers with typed
    placeholder tokens — the C4/RefinedWeb-style PII pass a web corpus
    runs before training. Pure JVM ``regexp_replace`` chain: zero
    shuffle, whole-stage-codegen friendly; patterns match the SQL
    oracle dialect's set exactly (see ``_java_pii_pattern``)."""
    out = text
    for pat, token in PII_PATTERNS.values():
        out = F.regexp_replace(out, _java_pii_pattern(pat), token)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII match counts on the raw text (audit metrics)."""
    return {
        f"n_{name}": F.size(
            F.regexp_extract_all(text, F.lit(_java_pii_pattern(pat)), 0)
        ).cast("long")
        for name, (pat, _) in PII_PATTERNS.items()
    }


def sql_scrub_pii(col: str) -> str:
    """DuckDB expression mirroring :func:`scrub_pii` (global-flag
    replaces; DuckDB's default replaces only the first match)."""
    out = col
    for pat, token in PII_PATTERNS.values():
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    return out


# The synthetic docs carry no PII, so the gate plants deterministic PII
# derived from doc_id — both engines build the identical augmented text,
# scrub it, and must agree on counts and the scrubbed fingerprint.
_PII_AUG_SQL = (
    "text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555-123-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

_PII_ORACLE = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_PATTERNS["email"][0]}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{PII_PATTERNS["ipv4"][0]}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(t, '{PII_PATTERNS["phone"][0]}')) AS BIGINT) AS n_phone,
       md5({sql_scrub_pii('t')}) AS scrubbed_fp
FROM aug
"""


@_register("text_scrub_pii", _PII_ORACLE)
def text_scrub_pii_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heavy per-row text work must not serialize on a single-split scan
    docs = _fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    aug = F.concat(
        F.col("text"),
        F.lit(" user"), F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    d = docs.select("doc_id", aug.alias("t"))
    counts = pii_counts(F.col("t"))
    return d.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_ipv4"].alias("n_ipv4"),
        counts["n_phone"].alias("n_phone"),
        F.md5(scrub_pii(F.col("t"))).alias("scrubbed_fp"),
    )


def substring_dup_windows(
    docs: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Exact-substring duplication detector (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" pipeline
    shape): every ``window``-token sliding window is hashed; a window
    whose hash occurs more than once in the corpus is a duplicated span.
    Returns per-document ``n_windows`` / ``dup_windows`` / ``dup_frac``.

    Scale shape: the explode emits ~one row per corpus token (inherent to
    substring dedup) with an 8-byte ``xxhash64`` key; the only shuffle is
    the hash group-by + the hash equi-join back — both partition cleanly
    at any corpus size, no pairwise comparison anywhere. ``hash_fn="md5"``
    switches to md5 (4x wider keys) for engine-portable certification —
    DuckDB has no xxhash64."""
    # Bind the token array to a real column before the window lambdas:
    # HOFs get no subexpression elimination, so referencing the raw
    # split() inside the transform re-tokenizes the doc once per window
    # position (see _excise_duplicate_window_spans — same fix, ~4.7x on
    # the hashing leg).
    if "_xbs_u" in docs.columns:
        raise ValueError("input already has a column named '_xbs_u'")
    bound = _fan_out_narrow_scan(docs).withColumn(
        "_xbs_u", F.split(F.col(text_col), TOKEN_SEP)
    )
    toks = F.col("_xbs_u")
    n = F.size(toks)
    positions = F.when(
        n >= window, F.sequence(F.lit(1), n - window + 1)
    ).otherwise(F.array().cast("array<int>"))
    win_text = lambda i: F.concat_ws(" ", F.slice(toks, i, window))  # noqa: E731
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', not {hash_fn!r}")
    hasher = F.md5 if hash_fn == "md5" else F.xxhash64
    wins = bound.select(
        F.col(id_col),
        F.explode(F.transform(positions, lambda i: hasher(win_text(i)))).alias("h"),
    )
    counts = wins.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        wins.join(counts, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("c") > 1).cast("long")).alias("dup_windows"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.coalesce("dup_windows", F.lit(0))
                / F.coalesce("n_windows", F.lit(1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


_SUBSTRING_DUP_ORACLE = r"""
WITH t AS (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM documents),
wins AS (
  SELECT doc_id, md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS h
  FROM t, UNNEST(generate_series(1, len(w) - 7)) AS u(i)
),
counts AS (SELECT h, COUNT(*) AS c FROM wins GROUP BY h),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS dup_windows
  FROM wins JOIN counts USING (h) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(dup_windows, 0) AS BIGINT) AS dup_windows,
       CASE WHEN COALESCE(n_windows, 0) > 0
            THEN CAST(COALESCE(dup_windows, 0) AS DOUBLE) / n_windows
            ELSE 0.0 END AS dup_frac
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
"""


@_register("text_substring_dup", _SUBSTRING_DUP_ORACLE)
def text_substring_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring duplication stats over 8-token
    windows. The window hash is internal to the plan (the oracle's md5
    and this xxhash64 run flag the same duplicate set — equivalence
    pinned by pytest); xxhash64's 8-byte keys shuffle ~4x lighter than
    md5 hex strings."""
    docs = load(spark, sf_dir, "documents")
    return substring_dup_windows(docs, window=8, hash_fn="xxhash64")


def remove_duplicate_spans(
    docs: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    min_count: int = 2,
    min_span_tokens: int = 0,
    keep_first_occurrence: bool = False,
) -> DataFrame:
    """Exact-substring span REMOVAL — the rewrite half of the Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    pipeline (``substring_dup_windows`` is the stats half). Every
    ``window``-token sliding window whose hash occurs ``min_count``+
    times in the corpus marks its tokens as duplicated; per document the
    duplicated windows are merged into maximal disjoint intervals and
    those token spans are spliced out.

    Returns one row per input document: the rewritten ``text`` (kept
    tokens joined by single spaces — the operator is defined over the
    whitespace-token stream, so output is whitespace-normalized),
    ``n_tokens`` (original), ``removed_tokens``, and ``n_spans``
    (maximal removed intervals, adjacent/overlapping windows merged).
    Like the paper's ExactSubstr, spans are excised from EVERY copy
    (all occurrences of a duplicated window have count >= min_count).

    Two knobs align the policy with the paper's ExactSubstr (Lee et al.
    2022 §4.1 run their suffix-array dedup with a 50-token minimum match
    and excise all but one occurrence):

    - ``min_span_tokens``: after merging, removal intervals SHORTER than
      this many tokens are kept in place (0 = remove everything marked).
      Filtering happens post-merge, so two adjacent short windows that
      merge past the threshold are still excised — the paper's "minimum
      matching substring length", applied to the merged span.
    - ``keep_first_occurrence``: the globally first copy of each
      duplicated window (lowest ``(doc_id, pos)``, carried as a
      ``min(struct)`` on the existing multiplicity aggregation — zero
      additional shuffles) is NOT marked for removal, approximating
      "excise all but one".
      A first occurrence may still fall inside a span marked by a
      DIFFERENT overlapping duplicated window; that is the documented
      (and cheap) approximation.

    Scale shape: one token-scale explode (inherent to substring dedup),
    one hash group-by for global multiplicity, one hash equi-join back,
    one doc-id shuffle to regroup positions — no pairwise work anywhere.
    The interval merge and splice are row-local JVM expressions
    (``aggregate`` over the sorted position array + ``filter`` over the
    token array); per-doc cost is O(tokens x merged_spans), bounded by
    document length, never by corpus size. ``hash_fn="md5"`` switches
    from xxhash64 to md5 for engine-portable certification (DuckDB has
    no xxhash64); the two paths are pinned equivalent by pytest.
    """
    return _excise_duplicate_window_spans(
        docs,
        units=F.split(F.col(text_col), TOKEN_SEP),
        window=window,
        hash_fn=hash_fn,
        min_count=min_count,
        keep_first_occurrence=keep_first_occurrence,
        min_span_units=min_span_tokens,
        join_sep=" ",  # whitespace-normalized by construction
        id_col=id_col,
        n_units_name="n_tokens",
        removed_name="removed_tokens",
    )

# Oracle mirrors the operator exactly: window hashes -> global
# multiplicity -> per-doc gaps-and-islands interval merge (running-max
# window) -> NOT EXISTS range anti-join to splice, string_agg rewrite.
_REMOVE_DUP_SPANS_ORACLE = r"""
WITH t AS (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM documents),
wins AS (
  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS h
  FROM t, UNNEST(generate_series(1, len(w) - 7)) AS u(i)
),
dup_h AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
dpos AS (SELECT DISTINCT doc_id, pos FROM wins JOIN dup_h USING (h)),
iv AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM dpos),
flag AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
             PARTITION BY doc_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         THEN 1 ELSE 0 END AS ng
  FROM iv
),
grp AS (SELECT doc_id, s, e, SUM(ng) OVER (PARTITION BY doc_id ORDER BY s) AS g FROM flag),
merged AS (SELECT doc_id, g, MIN(s) AS s, MAX(e) AS e FROM grp GROUP BY doc_id, g),
audit AS (
  SELECT doc_id, SUM(e - s + 1) AS removed_tokens, COUNT(*) AS n_spans
  FROM merged GROUP BY doc_id
),
toks AS (SELECT doc_id, i, w[i] AS tok FROM t, UNNEST(generate_series(1, len(w))) AS u(i)),
kept AS (
  SELECT tk.doc_id, tk.i, tk.tok FROM toks tk
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m WHERE m.doc_id = tk.doc_id AND tk.i BETWEEN m.s AND m.e)
),
rew AS (SELECT doc_id, COALESCE(string_agg(tok, ' ' ORDER BY i), '') AS text FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       md5(COALESCE(r.text, '')) AS rewritten_fp,
       CAST(len(regexp_split_to_array(d.text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans
FROM documents d
LEFT JOIN audit a USING (doc_id)
LEFT JOIN rew r ON d.doc_id = r.doc_id
"""


@_register("text_remove_dup_spans", _REMOVE_DUP_SPANS_ORACLE)
def text_remove_dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. 2022 exact-substring dedup rewrite over 8-token windows.
    The window hash never leaves the plan, so the production xxhash64 run
    matches the oracle's internal-md5 run exactly (pinned equivalent by
    pytest). Certifies the rewritten text via its md5 fingerprint plus
    the removal audit counts."""
    docs = load(spark, sf_dir, "documents")
    out = remove_duplicate_spans(docs, window=8, hash_fn="xxhash64")
    return out.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("rewritten_fp"),  # oracle: md5(COALESCE(text,''))
        "n_tokens",
        "removed_tokens",
        "n_spans",
    )


# Same gaps-and-islands pipeline with the two paper-policy knobs: the
# keep-first row_number over the hash group and the post-merge span
# length floor (HAVING on the merged interval).
_REMOVE_DUP_SPANS_KEEPFIRST_ORACLE = r"""
WITH t AS (SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS w FROM documents),
wins AS (
  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS h
  FROM t, UNNEST(generate_series(1, len(w) - 7)) AS u(i)
),
dup_h AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
dpos AS (
  SELECT doc_id, pos FROM (
    SELECT w.doc_id, w.pos, ROW_NUMBER() OVER (PARTITION BY h ORDER BY w.doc_id, w.pos) AS rn
    FROM wins w JOIN dup_h USING (h)
  ) WHERE rn > 1
),
iv AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM dpos),
flag AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
             PARTITION BY doc_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         THEN 1 ELSE 0 END AS ng
  FROM iv
),
grp AS (SELECT doc_id, s, e, SUM(ng) OVER (PARTITION BY doc_id ORDER BY s) AS g FROM flag),
merged AS (
  SELECT doc_id, g, MIN(s) AS s, MAX(e) AS e FROM grp GROUP BY doc_id, g
  HAVING MAX(e) - MIN(s) + 1 >= 30
),
audit AS (
  SELECT doc_id, SUM(e - s + 1) AS removed_tokens, COUNT(*) AS n_spans
  FROM merged GROUP BY doc_id
),
toks AS (SELECT doc_id, i, w[i] AS tok FROM t, UNNEST(generate_series(1, len(w))) AS u(i)),
kept AS (
  SELECT tk.doc_id, tk.i, tk.tok FROM toks tk
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m WHERE m.doc_id = tk.doc_id AND tk.i BETWEEN m.s AND m.e)
),
rew AS (SELECT doc_id, COALESCE(string_agg(tok, ' ' ORDER BY i), '') AS text FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       md5(COALESCE(r.text, '')) AS rewritten_fp,
       CAST(len(regexp_split_to_array(d.text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans
FROM documents d
LEFT JOIN audit a USING (doc_id)
LEFT JOIN rew r ON d.doc_id = r.doc_id
"""


@_register("text_remove_dup_spans_keepfirst", _REMOVE_DUP_SPANS_KEEPFIRST_ORACLE)
def text_remove_dup_spans_keepfirst_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paper-policy variant of exact-substring dedup: keep the
    globally first copy of each duplicated window ("excise all but one")
    and only excise merged spans of >= 30 tokens (the minimum matching
    length knob; Lee et al. 2022 use 50 over BPE tokens)."""
    docs = load(spark, sf_dir, "documents")
    out = remove_duplicate_spans(
        docs,
        window=8,
        hash_fn="xxhash64",
        min_span_tokens=30,
        keep_first_occurrence=True,
    )
    return out.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("rewritten_fp"),  # oracle: md5(COALESCE(text,''))
        "n_tokens",
        "removed_tokens",
        "n_spans",
    )


# Character-granularity variant: windows are substr(text, i, 20) — the
# per-char unit array joined verbatim — so the oracle can hash substr
# directly; splice/rewrite walk the per-char list. n_chars mirrors
# Spark's split(text, '') exactly (the empty document yields [''] in
# BOTH engines, hence n_chars 1).
_REMOVE_DUP_SPANS_CHARS_ORACLE = r"""
WITH wins AS (
  SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 20)) AS h
  FROM documents, UNNEST(generate_series(1, length(text) - 19)) AS u(i)
),
dup_h AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
dpos AS (
  SELECT doc_id, pos FROM (
    SELECT w.doc_id, w.pos, ROW_NUMBER() OVER (PARTITION BY h ORDER BY w.doc_id, w.pos) AS rn
    FROM wins w JOIN dup_h USING (h)
  ) WHERE rn > 1
),
iv AS (SELECT doc_id, pos AS s, pos + 19 AS e FROM dpos),
flag AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
             PARTITION BY doc_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         THEN 1 ELSE 0 END AS ng
  FROM iv
),
grp AS (SELECT doc_id, s, e, SUM(ng) OVER (PARTITION BY doc_id ORDER BY s) AS g FROM flag),
merged AS (SELECT doc_id, g, MIN(s) AS s, MAX(e) AS e FROM grp GROUP BY doc_id, g),
audit AS (
  SELECT doc_id, SUM(e - s + 1) AS removed_chars, COUNT(*) AS n_spans
  FROM merged GROUP BY doc_id
),
chars AS (
  SELECT doc_id, i, c FROM (
    SELECT doc_id, UNNEST(regexp_split_to_array(text, '')) AS c,
           UNNEST(generate_series(1, len(regexp_split_to_array(text, '')))) AS i
    FROM documents
  )
),
kept AS (
  SELECT ch.doc_id, ch.i, ch.c FROM chars ch
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m WHERE m.doc_id = ch.doc_id AND ch.i BETWEEN m.s AND m.e)
),
rew AS (SELECT doc_id, COALESCE(string_agg(c, '' ORDER BY i), '') AS text FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       md5(COALESCE(r.text, '')) AS rewritten_fp,
       CAST(len(regexp_split_to_array(d.text, '')) AS BIGINT) AS n_chars,
       CAST(COALESCE(a.removed_chars, 0) AS BIGINT) AS removed_chars,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans
FROM documents d
LEFT JOIN audit a USING (doc_id)
LEFT JOIN rew r ON d.doc_id = r.doc_id
"""


@_register("text_remove_dup_spans_chars", _REMOVE_DUP_SPANS_CHARS_ORACLE)
def text_remove_dup_spans_chars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte/char-level ExactSubstr (Lee et al. 2022 operate on suffix
    positions, not tokens): every duplicated 20-character window is
    excised except its globally first copy — catching duplicates that
    straddle token boundaries, invisible to the token-window gate."""
    docs = load(spark, sf_dir, "documents")
    out = remove_duplicate_char_spans(
        docs, window=20, hash_fn="xxhash64", keep_first_occurrence=True
    )
    return out.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("rewritten_fp"),  # oracle: md5(COALESCE(text,''))
        "n_chars",
        "removed_chars",
        "n_spans",
    )


_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_signals(text: Column) -> dict[str, Column]:
    """The published Gopher / MassiveText document-quality rule inputs
    (Rae et al. 2021, arXiv:2112.11446 §A.1.1), each as one row-local JVM
    expression (integer counts; single exact divisions) so the whole
    ruleset fuses into the scan at any corpus scale:

    word count, mean word length, symbol-to-word ratio (``#`` + ``...``),
    bullet-start / ellipsis-end line fractions, fraction of words with an
    alphabetic character, and how many of the 8 Gopher stop words appear.
    """
    words = F.split(text, TOKEN_SEP)
    n = F.size(words)
    n_chars = F.length(text)
    mean_word_len = (n_chars - n + 1).cast("double") / n.cast("double")
    symbols = substr_count(text, "#") + substr_count(text, "...")
    symbol_ratio = symbols.cast("double") / n.cast("double")
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*([•‣◦]|-\s)")))
        .cast("double") / n_lines.cast("double")
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
        .cast("double") / n_lines.cast("double")
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / n.cast("double")
    )
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    n_stop_kinds = sum(
        (
            F.when(substr_count(padded, f" {w} ") > 0, F.lit(1)).otherwise(F.lit(0))
            for w in _GOPHER_STOPS
        ),
        F.lit(0),
    ).cast("long")
    return {
        "n_words": n.cast("long"),
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "n_stop_kinds": n_stop_kinds,
    }


def gopher_quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_kinds: int = 2,
) -> DataFrame:
    """Apply the Gopher quality rules with their published default
    thresholds; adds every signal column plus a ``keep`` verdict (rows are
    NOT dropped — auditing which rule fired is half the point of the
    ruleset, and a ``where(keep)`` fuses into the same scan)."""
    sig = gopher_quality_signals(F.col(text_col))
    out = docs
    for name, col in sig.items():
        out = out.withColumn(name, col)
    keep = (
        F.col("n_words").between(min_words, max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_frac") <= max_bullet_frac)
        & (F.col("ellipsis_frac") <= max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("n_stop_kinds") >= min_stop_kinds)
    )
    return out.withColumn("keep", keep)


_GOPHER_ORACLE = r"""
WITH s AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_words,
         CAST(length(text) - len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) + 1 AS DOUBLE)
           / len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS mean_word_len,
         CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
           / len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS symbol_ratio,
         CAST(len(list_filter(regexp_split_to_array(text, '\n'),
                              l -> regexp_matches(l, '^\s*([•‣◦]|-\s)'))) AS DOUBLE)
           / len(regexp_split_to_array(text, '\n')) AS bullet_frac,
         CAST(len(list_filter(regexp_split_to_array(text, '\n'),
                              l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
           / len(regexp_split_to_array(text, '\n')) AS ellipsis_frac,
         CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                              w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
           / len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS alpha_word_frac,
         CAST(
           (CASE WHEN length(' '||text||' ') > length(replace(' '||text||' ', ' the ', '')) THEN 1 ELSE 0 END) +
           (CASE WHEN length(' '||text||' ') > length(replace(' '||text||' ', ' be ', '')) THEN 1 ELSE 0 END) +
           (CASE WHEN length(' '||text||' ') > length(replace(' '||text||' ', ' to ', '')) THEN 1 ELSE 0 END) +
           (CASE WHEN length(' '||text||' ') > length(replace(' '||text||' ', ' of ', '')) THEN 1 ELSE 0 END) +
           (CASE WHEN length(' '||text||' ') > length(replace(' '||text||' ', ' and ', '')) THEN 1 ELSE 0 END) +
           (CASE WHEN length(' '||text||' ') > length(replace(' '||text||' ', ' that ', '')) THEN 1 ELSE 0 END) +
           (CASE WHEN length(' '||text||' ') > length(replace(' '||text||' ', ' have ', '')) THEN 1 ELSE 0 END) +
           (CASE WHEN length(' '||text||' ') > length(replace(' '||text||' ', ' with ', '')) THEN 1 ELSE 0 END)
         AS BIGINT) AS n_stop_kinds
  FROM documents
)
SELECT *,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1
        AND bullet_frac <= 0.9
        AND ellipsis_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND n_stop_kinds >= 2) AS keep
FROM s
"""


@_register("text_gopher_filter", _GOPHER_ORACLE)
def text_gopher_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full published Gopher ruleset per document, signals + verdict,
    hash-exact against the SQL replay (all ratios are exact integer
    counts with one final division)."""
    # heavy per-row text work must not serialize on a single-split scan
    docs = _fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    return gopher_quality_filter(docs).select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio", "bullet_frac",
        "ellipsis_frac", "alpha_word_frac", "n_stop_kinds", "keep",
    )


# ---------------------------------------------------------------------------
# HTML → text extraction (web-corpus ingest)
# ---------------------------------------------------------------------------

# The C4/RefinedWeb pipelines start from crawled HTML; this is the
# boilerplate-stripping stage that turns markup into trainable text.
# Every step is one engine-portable regexp (no lookarounds/backrefs;
# (?s) inline flags and lazy .*? parse identically in Java regex and
# DuckDB's RE2; explicit [ \t\n\r\f] instead of \s — Java's \s includes
# \x0B, RE2's does not; explicit [sS][cC]… case classes instead of (?i) —
# Java's (?i) folds ASCII only while RE2's folds full Unicode, so e.g.
# U+212A KELVIN SIGN matches RE2's (?i)k but not Java's; explicit
# name-terminator classes instead of \b — Java's \b treats non-ASCII
# letters as word chars while RE2's is ASCII-only, so '<scriptK>'
# ends a "word" in RE2 but not in Java. A tag name is terminated by
# whitespace, '/', or '>' per the HTML tokenizer, which every dialect
# spells identically). Steps, in order:
#   1. script/style/title elements dropped WITH their contents
#   2. comments and <!DOCTYPE>/CDATA-ish declarations dropped
#   3. block-level tags become newlines (paragraph structure survives)
#   4. every remaining tag becomes a space
#   5. the common named entities decode (&amp; LAST, so "&amp;lt;" comes
#      out as the literal text "&lt;", never as a tag)
#   6. whitespace normalizes: runs of spaces/tabs collapse, blank lines
#      collapse, edges trim


def _ci(word: str) -> str:
    """ASCII-case-insensitive literal: 'br' → '[bB][rR]' (dialect-safe
    in a way (?i) is not — see the KELVIN SIGN note above)."""
    return "".join(f"[{c}{c.upper()}]" if c.isalpha() else c for c in word)


_BLOCK_TAGS = (
    "p div br li ul ol h1 h2 h3 h4 h5 h6 tr td th table blockquote "
    "section article header footer pre form"
).split()

# after a tag name: either the tag closes immediately or a terminator
# (whitespace / '/') starts the attribute region
_TAG_REST = r"([ \t\n\r\f/][^>]*)?>"

_HTML_STEPS: list[tuple[str, str]] = [
    (rf"(?s)<{_ci('script')}{_TAG_REST}.*?</{_ci('script')}{_TAG_REST}", ""),
    (rf"(?s)<{_ci('style')}{_TAG_REST}.*?</{_ci('style')}{_TAG_REST}", ""),
    (rf"(?s)<{_ci('title')}{_TAG_REST}.*?</{_ci('title')}{_TAG_REST}", ""),
    (r"(?s)<!--.*?-->", ""),
    (r"(?s)<![^>]*>", ""),
    (rf"</?({'|'.join(_ci(t) for t in _BLOCK_TAGS)}){_TAG_REST}", "\n"),
    (r"(?s)</?[a-zA-Z][^>]*>", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
    (r"[ \t\f\r]+", " "),
    (r" *\n *", "\n"),
    (r"\n+", "\n"),
    (r"^[ \n]+|[ \n]+$", ""),
]


def html_to_text(html: Column) -> Column:
    """Strip an HTML document to its visible text (C4-ingest stage).

    Heuristic, not a browser: drops script/style/comments/declarations,
    keeps paragraph structure as newlines, decodes the six common
    entities, normalizes whitespace. Pure JVM regexp expressions — fuses
    into the scan, no shuffle, no Python."""
    t = html
    for pat, repl in _HTML_STEPS:
        t = F.regexp_replace(t, pat, repl)
    return t


def sql_html_to_text(col: str) -> str:
    """The identical chain in DuckDB SQL (oracle dialect)."""
    expr = col
    for pat, repl in _HTML_STEPS:
        if repl == "\n":
            rsql = "chr(10)"
        else:
            rsql = "'" + repl.replace("'", "''") + "'"
        psql = "'" + pat.replace("'", "''") + "'"
        expr = f"regexp_replace({expr}, {psql}, {rsql}, 'g')"
    return expr


# Deterministic fixture markup wrapped around each document: exercises
# nested block tags, dropped script/style/comment/doctype content,
# attributes, entities (including the &amp;lt; double-escape trap), and
# NULL text (the whole page concats to NULL on both sides).
_HTML_WRAP_SQL = (
    "'<!DOCTYPE html><html><head><title>t</title>"
    "<style>p { color: red }</style>"
    "<script type=\"text/javascript\">var x = ''1 < 2'';</script></head>"
    "<body><!-- doc ' || CAST(doc_id AS VARCHAR) || ' -->"
    "<h1 class=\"hd\">' || source || '</h1>"
    "<p>' || text || '</p>"
    "<div>footer &amp; &lt;i&gt;&nbsp;&amp;lt;' || lang || '</div>"
    "</body></html>'"
)

_HTML_ORACLE = f"""
WITH page AS (
  SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents
),
ex AS (
  SELECT doc_id, {sql_html_to_text('html')} AS extracted FROM page
)
SELECT doc_id, extracted,
       CAST(length(extracted) AS BIGINT) AS n_extracted
FROM ex
"""


@_register("text_html_extract", _HTML_ORACLE)
def text_html_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping, value-exact: each document is wrapped
    in deterministic fixture markup (script/style/comment/doctype
    content to drop, block structure to keep, entity traps) and both
    engines run the identical portable regexp chain."""
    # heavy per-row text work must not serialize on a single-split scan
    docs = _fan_out_narrow_scan(load(spark, sf_dir, "documents"))
    html = F.concat(
        F.lit(
            '<!DOCTYPE html><html><head><title>t</title>'
            "<style>p { color: red }</style>"
            "<script type=\"text/javascript\">var x = '1 < 2';</script></head>"
            "<body><!-- doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit(' --><h1 class="hd">'),
        F.col("source"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><div>footer &amp; &lt;i&gt;&nbsp;&amp;lt;"),
        F.col("lang"),
        F.lit("</div></body></html>"),
    )
    extracted = html_to_text(html)
    return docs.select(
        "doc_id",
        extracted.alias("extracted"),
        F.length(extracted).cast("long").alias("n_extracted"),
    )
