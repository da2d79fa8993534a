"""Registry order: stalest certification evidence first, derived from the
committed CORRECTNESS_rNN.json files.

The order tests read a copy of rounds 1-16 in a temporary directory, so a
later round's file changes nothing they assert.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from xarray_beam_spark import grid_queries, registry, tabular

ROOT = Path(__file__).resolve().parents[1]
certified_rounds = registry._certified_rounds

# every query whose last green row is in round 13, the stalest round of r01-r16
R13 = {
    "ann_ivf_topk", "ann_lsh_topk", "corpus_wet_ingest", "multimodal_mp4_frames",
    "xb_grid_anomaly_dow", "xb_grid_argmin_hour", "xb_grid_concat_halves",
    "xb_grid_cumsum_day", "xb_grid_diff_day", "xb_grid_differentiate_hour",
    "xb_grid_ffill_day", "xb_grid_integrate_hour", "xb_grid_interp_day",
    "xb_grid_merge_vars", "xb_grid_rank_day", "xb_grid_rolling7_mean",
    "xb_grid_thin_take", "xb_grid_weighted_mean_hour",
}


def _order(monkeypatch, rounds: dict[str, int]) -> list[str]:
    monkeypatch.setattr(registry, "_certified_rounds", lambda: rounds)
    return list(registry._collect())


def test_order_is_stalest_round_first_and_module_order_within_a_round(tmp_path, monkeypatch):
    for n in range(1, 17):
        shutil.copy(ROOT / f"CORRECTNESS_r{n:02d}.json", tmp_path)
    rounds = certified_rounds(tmp_path)
    assert rounds["xb_grid_bfill_day"] == 16
    # failed in round 3 (no oracle yet), green again through round 13
    assert json.loads((ROOT / "CORRECTNESS_r03.json").read_text())["ann_lsh_topk"]["err"] == "no_oracle"
    assert rounds["ann_lsh_topk"] == 13

    monkeypatch.setitem(grid_queries.REGISTRY, "xb_never_certified", (None, None))
    module_order = _order(monkeypatch, {})
    assert module_order[-1] == "xb_never_certified"
    order = _order(monkeypatch, rounds)
    assert order[0] == "xb_never_certified"
    assert set(order[1 : 1 + len(R13)]) == R13
    keys = [rounds.get(name, 0) for name in order]
    assert keys == sorted(keys)
    assert order == sorted(module_order, key=lambda name: (rounds.get(name, 0), module_order.index(name)))


def test_no_files_means_module_order(tmp_path, monkeypatch):
    assert certified_rounds(tmp_path) == {}
    order = _order(monkeypatch, certified_rounds(tmp_path))
    assert order[: len(tabular.REGISTRY)] == list(tabular.REGISTRY)
    assert order[-len(grid_queries.REGISTRY) :] == list(grid_queries.REGISTRY)


def test_a_failed_or_erroring_row_is_not_green(tmp_path):
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": green, "b": green, "c": green}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "a": green,
        "b": {**green, "schema_match": False},
        "c": {**green, "err": "boom"},
    }))
    (tmp_path / "CORRECTNESS_r02_c8.json").write_text(json.dumps({"b": green}))
    assert certified_rounds(tmp_path) == {"a": 2, "b": 1, "c": 1}
