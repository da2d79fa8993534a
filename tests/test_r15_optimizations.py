"""Focused pins for the r15 optimization-round internals changes.

Each test pins an operator whose PHYSICAL shape changed (the declared
results must be identical): from_table's inline coordinate-index path,
minhash_lsh_pairs' pair_filter pushdown, bpe_train's chained-fold
checkpointing, fan_out_narrow_scan's composed-plan bail-out, and the
connected-components limit-probe fast path.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestFromTableInlineCoordIndex:
    """from_table maps small int/string/datetime axes to indexes via a
    literal-array array_position projection instead of a broadcast
    mapping join; results must be identical, including the inner-join
    drop semantics for rows whose value is absent from the coords."""

    def _table(self, spark):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "x": [0, 0, 1, 1, 2, 9],  # 9 is ABSENT from coords
                "cat": ["a", "b", "a", "b", "a", "a"],
                "v": [1.0, 2.0, 3.0, 4.0, 5.0, 99.0],
            }
        )
        return spark.createDataFrame(pdf)

    def test_inline_matches_join_path_and_drops_missing(self, spark, monkeypatch):
        from xarray_beam_spark.dataset import Dataset

        coords = {"x": np.arange(3, dtype=np.int64), "cat": np.array(["a", "b"])}

        def build():
            return Dataset.from_table(
                self._table(spark),
                dims=["x", "cat"],
                coords=coords,
                var_cols=["v"],
                chunks={"x": 2},
            ).to_table(dropna=True)

        got = _rows(build())
        # drop semantics: the absent x=9 row must vanish exactly as the
        # inner mapping join dropped it (array_position returns 0 for a
        # miss — the >= 0 filter must catch it, not map it to index -1)
        assert not any(v == 99.0 for *_, v in got)
        assert len(got) == 5

    def test_float_axis_keeps_join_path_same_result(self, spark):
        import pandas as pd

        from xarray_beam_spark.dataset import Dataset

        pdf = pd.DataFrame({"fx": [0.5, 1.5, 2.5], "v": [1.0, 2.0, 3.0]})
        got = Dataset.from_table(
            spark.createDataFrame(pdf),
            dims=["fx"],
            coords={"fx": np.array([0.5, 1.5, 2.5])},
            var_cols=["v"],
            chunks={"fx": 2},
        ).to_table(dropna=True)
        assert _rows(got) == [(0.5, 1.0), (1.5, 2.0), (2.5, 3.0)]

    def test_datetime_axis_inline(self, spark):
        import pandas as pd

        from xarray_beam_spark.dataset import Dataset

        days = np.array(["2031-01-01", "2031-01-02"], dtype="datetime64[us]")
        pdf = pd.DataFrame(
            {"day": days.astype("datetime64[ns]"), "v": [1.0, 2.0]}
        )
        got = Dataset.from_table(
            spark.createDataFrame(pdf),
            dims=["day"],
            coords={"day": days},
            var_cols=["v"],
            chunks={"day": 1},
        ).to_table(dropna=True)
        vals = _rows(got)
        assert [v for _, v in vals] == [1.0, 2.0]

    def test_ns_precision_datetime_coords(self, spark):
        # datetime64[ns].item() returns an int (nanoseconds) — the inline
        # path must normalize to µs before building timestamp literals
        import pandas as pd

        from xarray_beam_spark.dataset import Dataset

        days_ns = np.array(["2031-02-01", "2031-02-02"], dtype="datetime64[ns]")
        pdf = pd.DataFrame({"day": days_ns, "v": [3.0, 4.0]})
        got = Dataset.from_table(
            spark.createDataFrame(pdf),
            dims=["day"],
            coords={"day": days_ns},
            var_cols=["v"],
            chunks={"day": 1},
        ).to_table(dropna=True)
        assert [v for _, v in _rows(got)] == [3.0, 4.0]


class TestPairFilterPushdown:
    def test_pair_filter_equals_post_filter(self, spark, sf_dir):
        from xarray_beam_spark.operators.dedup import minhash_lsh_pairs
        from xarray_beam_spark.functions.text import TOKEN_SEP
        from xarray_beam_spark.tables import load

        docs = load(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
        words = F.split(F.col("text"), TOKEN_SEP)
        twins = docs.select(
            (F.col("doc_id") + F.lit(10**9)).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(words, 1, F.greatest(F.size(words) - 2, F.lit(1)))
            ).alias("text"),
        )
        corpus = docs.unionAll(twins)
        twin = lambda a, b: b - a == 10**9  # noqa: E731
        pushed = minhash_lsh_pairs(corpus, min_jaccard=0.6, pair_filter=twin)
        baseline = minhash_lsh_pairs(corpus, min_jaccard=0.6).where(
            F.col("doc_b") - F.col("doc_a") == 10**9
        )
        assert _rows(pushed) == _rows(baseline)


class TestBpeCheckpointCadence:
    def test_chained_folds_match_per_round_checkpoints(self, spark, sf_dir, monkeypatch):
        from xarray_beam_spark.operators import bpe
        from xarray_beam_spark.tables import load

        docs = load(spark, sf_dir, "documents").limit(40)
        # force the distributed loop (cadence is a distributed-path
        # property; the driver path has no checkpoints)
        monkeypatch.setattr(bpe, "_DRIVER_VOCAB_THRESHOLD", 0)
        merges_chained = bpe.bpe_train(docs, n_merges=5)
        # checkpoint EVERY round — the pre-r15 physical shape
        monkeypatch.setattr(bpe, "_TRAIN_CHECKPOINT_EVERY", 1)
        merges_eager = bpe.bpe_train(docs, n_merges=5)
        assert merges_chained == merges_eager
        assert len(merges_chained) == 5

    def test_crossing_checkpoint_boundary(self, spark, sf_dir, monkeypatch):
        from xarray_beam_spark.operators import bpe
        from xarray_beam_spark.tables import load

        docs = load(spark, sf_dir, "documents").limit(25)
        monkeypatch.setattr(bpe, "_DRIVER_VOCAB_THRESHOLD", 0)
        monkeypatch.setattr(bpe, "_TRAIN_CHECKPOINT_EVERY", 2)
        crossing = bpe.bpe_train(docs, n_merges=5)  # re-checkpoints twice
        baseline = bpe.bpe_train(docs, n_merges=5)
        assert crossing == baseline


class TestFanOutComposedPlanBailout:
    def test_aggregate_over_scan_not_probed(self, spark, sf_dir):
        from xarray_beam_spark.tables import fan_out_narrow_scan, load

        docs = load(spark, sf_dir, "documents")
        agg = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        assert agg.inputFiles()  # the hole ADVICE r14 named: files visible
        assert fan_out_narrow_scan(agg) is agg  # bailed out, no probe

    def test_join_over_scans_not_probed(self, spark, sf_dir):
        from xarray_beam_spark.tables import fan_out_narrow_scan, load

        docs = load(spark, sf_dir, "documents")
        j = docs.alias("a").join(docs.alias("b"), on="doc_id")
        assert fan_out_narrow_scan(j) is j

    def test_scan_backed_union_still_fans_out(self, spark, sf_dir):
        from xarray_beam_spark.tables import fan_out_narrow_scan, load

        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        u = docs.unionAll(docs.select(F.col("doc_id") + 1, "text"))
        out = fan_out_narrow_scan(u)
        target = spark.sparkContext.defaultParallelism
        if u.rdd.getNumPartitions() < target:
            assert out.rdd.getNumPartitions() == target  # fanned out
        else:
            assert out is u  # already wide: untouched
        assert out.count() == u.count()


class TestClusterLimitProbe:
    def test_driver_path_equals_distributed(self, spark):
        from xarray_beam_spark.operators.dedup import duplicate_clusters

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (5, 5), (20, 21), (21, 22), (22, 23)],
            "doc_a long, doc_b long",
        )
        drv = duplicate_clusters(pairs, driver_edge_threshold=100)
        dist = duplicate_clusters(pairs, driver_edge_threshold=0)
        assert _rows(drv) == _rows(dist)


class TestContinuation2FanOutAndSingleEval:
    """Pins for the second continuation pass: LSH shingle fan-out, the
    MapInArrow bail-out alias, clean_corpus's single langid evaluation,
    and decontaminate's filterless corpus side."""

    def test_lsh_shingle_frame_fans_out_on_narrow_scan(self, spark, sf_dir, monkeypatch):
        # the persisted shingle fingerprint table must inherit cluster
        # width, not the single-split gate scan, or the signature
        # aggregation's map side serializes on one core
        from xarray_beam_spark import session
        from xarray_beam_spark.operators import dedup
        from xarray_beam_spark.tables import load

        scoped = []

        def spy(df):
            scoped.append(df)
            return session.persist_scoped(df)

        monkeypatch.setattr(dedup, "persist_scoped", spy)
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        try:
            pairs = dedup.minhash_lsh_pairs(docs)
            shingles = scoped[-2]  # [shingles, sig]
            target = spark.sparkContext.defaultParallelism
            assert shingles.rdd.getNumPartitions() >= min(
                target, docs.rdd.getNumPartitions() + 1
            )
            pairs.count()  # plan stays executable end to end
        finally:
            dedup.reset_ephemeral_caches()

    def test_fan_out_bails_on_map_in_arrow_frame(self, spark):
        # the e2e funnel's parsed frame: LogicalRDD + MapInArrow — the
        # helper must return it untouched (no probe, no repartition)
        import pyarrow as pa
        from xarray_beam_spark.tables import fan_out_narrow_scan

        def ident(it):
            yield from it

        base = spark.range(0, 10, 1, 1)
        mapped = base.mapInArrow(ident, "id long")
        assert fan_out_narrow_scan(mapped) is mapped

    def test_fan_out_bails_on_grouped_arrow_frame(self, spark, tmp_path):
        # a grouped applyInArrow over a file scan (every grouped chunk
        # source plans as FlatMapGroupsInArrow): an exchange sits above
        # the scan, so the helper must not probe or repartition it
        from xarray_beam_spark.tables import fan_out_narrow_scan

        path = str(tmp_path / "kv.parquet")
        spark.range(0, 10, 1, 1).selectExpr("id % 2 AS k", "id AS v").write.parquet(path)
        grouped = spark.read.parquet(path).groupBy("k").applyInArrow(
            lambda t: t, "k long, v long"
        )
        assert fan_out_narrow_scan(grouped) is grouped

    def test_clean_corpus_plan_evaluates_langid_once(self, spark, sf_dir):
        # detected != 'und' must read the aggregated struct field, not
        # push the ~45-expression langid chain into the scan filter; the
        # physical plan then carries exactly ONE copy of the chain
        from xarray_beam_spark.functions.text import detect_language
        from xarray_beam_spark.operators.corpus import clean_corpus
        from xarray_beam_spark.tables import load

        docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        # calibrate: how many replace( calls one langid evaluation carries
        bare = docs.select(detect_language(F.col("text")).alias("d"))
        one = bare._jdf.queryExecution().explainString(mode).count("replace(")
        assert one > 0
        plan = clean_corpus(docs)._jdf.queryExecution().explainString(mode)
        assert plan.count("replace(") == one, (plan.count("replace("), one)

    def test_decontaminate_short_docs_never_match(self, spark):
        # the corpus side carries no size filter; a sub-n-token doc's
        # single short gram must join against nothing
        from xarray_beam_spark.operators.corpus import decontaminate

        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha beta gamma delta alpha beta gamma")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(9, "alpha beta gamma delta")], "doc_id long, text string"
        )
        out = {tuple(r) for r in decontaminate(docs, bench, n=4).collect()}
        # doc 2 shares the 4-gram; doc 1 (2 tokens) must not appear even
        # though its short gram 'alpha beta' is a substring of the bench
        assert out == {(2, 1)}
