"""Tests of the benchmark's own arithmetic and generator (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import registry  # noqa: E402
import sparkstats  # noqa: E402
import stats  # noqa: E402
import tripgen  # noqa: E402
from spans import Tracer  # noqa: E402


# -- generator ---------------------------------------------------------------

@pytest.fixture(scope="module")
def month():
    table, expect = tripgen.generate_month(np.random.default_rng(7), 1, 3000)
    return table.to_pandas(), expect


def _silver_like(df: pd.DataFrame, month: str) -> pd.DataFrame:
    """The silver model's row filter, restated in pandas: pickup inside the
    load month, payment_type in 1..6, one row per surrogate-key tuple."""
    pick = df["tpep_pickup_datetime"]
    keep = (pick.dt.strftime("%Y-%m") == month) & df["payment_type"].isin(
        [1, 2, 3, 4, 5, 6])
    return df[keep].drop_duplicates(
        ["vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime",
         "pulocationid", "dolocationid", "passenger_count", "trip_distance"])


def test_expected_silver_rows_match_a_pandas_restatement(month):
    df, expect = month
    assert len(_silver_like(df, expect["month"])) == expect["silver_rows"]
    assert len(df) == expect["source_rows"] > expect["silver_rows"]


def test_expected_revenue_matches_a_pandas_restatement(month):
    df, expect = month
    silver = _silver_like(df, expect["month"])
    revenue = sum(silver[c].fillna(0).abs().sum() for c in tripgen.MONEY)
    assert revenue == pytest.approx(expect["revenue"], rel=1e-12)


def test_month_carries_the_adversarial_mix(month):
    df, expect = month
    in_month = df["tpep_pickup_datetime"].dt.strftime("%Y-%m") == "2024-02"
    assert df["tpep_pickup_datetime"].isna().any()
    assert (~in_month & df["tpep_pickup_datetime"].notna()).any()  # strays
    assert df["payment_type"].isna().any()
    assert df["payment_type"].isin([0, 7, 9]).any()
    assert df["vendorid"].isin([3, 99]).any()
    assert df["ratecodeid"].isna().any() and (df["ratecodeid"] == 99).any()
    assert (df["fare_amount"] < 0).any() and df["tip_amount"].isna().any()
    assert df.duplicated(keep=False).any()  # whole-row re-deliveries
    picks = set(df.loc[in_month, "tpep_pickup_datetime"])
    assert pd.Timestamp("2024-02-01 00:00:00") in picks
    assert pd.Timestamp("2024-02-29 23:59:59") in picks
    assert expect["last_midnight_rows"] == sum(
        p == pd.Timestamp("2024-02-29 00:00:00") for p in picks) == 1


def test_month_rows_pass_the_bronze_not_null_gates(month):
    df, _ = month
    bronze = df[df["tpep_pickup_datetime"].dt.strftime("%Y-%m") == "2024-02"]
    assert bronze[["vendorid", "tpep_dropoff_datetime"]].notna().all().all()


def test_same_seed_same_months_other_seed_other_months(tmp_path):
    a_paths, a = tripgen.write_months(str(tmp_path / "a"), 5, 2, 500)
    _, b = tripgen.write_months(str(tmp_path / "b"), 5, 2, 500)
    _, c = tripgen.write_months(str(tmp_path / "c"), 6, 2, 500)
    assert a == b and a != c
    assert [os.path.basename(p) for p in a_paths] == [
        "yellow_tripdata_2024-01.parquet", "yellow_tripdata_2024-02.parquet"]


# -- percentile and failure arithmetic ----------------------------------------

@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(q):
    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    assert stats.percentile(values, q) == pytest.approx(
        float(np.percentile(values, q)))


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_samples_beyond_a_percentile():
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(109, 90) == 11
    assert stats.beyond(10, 90) == 1
    assert stats.beyond(1, 50) == 0


def test_median_of_medians_ignores_the_gap_between_operations():
    # pooled, the median would be (0.55 + 1.1) / 2, set by the slowest
    # run of "b" and the fastest of "c"
    groups = {"a": [0.2, 0.3, 0.25], "b": [0.5, 0.45, 0.55],
              "c": [1.4, 1.1, 1.5], "d": [2.6, 2.5, 2.7]}
    assert stats.median_of_medians(groups) == pytest.approx((0.5 + 1.4) / 2)
    assert stats.median_of_medians({"a": [3.0, 1.0]}) == 2.0
    for bad in ({}, {"a": []}):
        with pytest.raises(ValueError):
            stats.median_of_medians(bad)


def test_failed_fraction():
    assert stats.failed_frac(0, 12) == 0
    assert stats.failed_frac(3, 12) == 0.25
    for bad in ((1, 0), (-1, 3), (4, 3)):
        with pytest.raises(ValueError):
            stats.failed_frac(*bad)


# -- spans and counters --------------------------------------------------------

def test_self_time_subtracts_children_union():
    t = Tracer("r", True)
    t.spans = [
        {"id": 0, "parent": None, "name": "month", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "a", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "name": "b", "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "name": "c", "start": 1.5, "end": 2.0},
    ]
    assert t.self_times() == {0: 5.0, 1: 2.5, 2: 3.0, 3: 0.5}
    assert t.innermost_at(1.7) == 3 and t.innermost_at(5.0) == 2
    assert t.innermost_at(11.0) is None


def test_disabled_tracer_records_nothing_but_wrap_still_times():
    t = Tracer("r", False)
    seen = []

    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    undo = t.wrap(Owner, "f", "f", lambda n, s, ok: seen.append((n, ok)))
    assert Owner.f(1) == 2 and seen == [("f", True)] and t.spans == []
    undo()
    assert Owner.f(1) == 2 and len(seen) == 1


def test_sql_metric_values_parse_to_ms_and_bytes():
    assert sparkstats.metric_value("1,201") == 1201
    assert sparkstats.metric_value(
        "total (min, med, max (stageId: taskId))\n612 ms (126 ms, 1 s)") == 612
    assert sparkstats.metric_value("total (min, med, max)\n1.5 s (x)") == 1500
    assert sparkstats.metric_value("total\n2.0 KiB (1 KiB)") == 2048


def test_attribute_by_group_and_by_time():
    snap = {
        "jobs": [
            {"jobId": 0, "jobGroup": "g1", "stageIds": [0, 1],
             "submissionTime": "2026-01-01T00:00:00.000GMT"},
            {"jobId": 1, "jobGroup": "stream-run",
             "description": "q\nid = x\nrunId = stream-run\nbatch = 0",
             "submissionTime": "2026-01-01T00:00:05.000GMT", "stageIds": [2]},
        ],
        "stages": [
            {"stageId": 0, "status": "COMPLETE", "numCompleteTasks": 4,
             "executorRunTime": 100, "inputBytes": 10},
            {"stageId": 1, "status": "SKIPPED", "numCompleteTasks": 0},
            {"stageId": 2, "status": "COMPLETE", "numCompleteTasks": 1,
             "executorRunTime": 7, "inputBytes": 3},
        ],
        "sql": [{"successJobIds": [1], "nodes": [
            {"nodeName": "Scan parquet ", "metrics": []},
            {"nodeName": "MapInPandas", "metrics": [
                {"name": "time to run Python workers",
                 "value": "total\n3 ms (1 ms)"}]}],
            "planDescription": "Location: InMemoryFileIndex [file:/d/events.parquet]"}],
    }
    out = sparkstats.attribute(snap, {"g1": "A"}.get, lambda t: "B")
    assert out["A"]["jobs"] == 1 and out["A"]["stages"] == 1
    assert out["A"]["tasks"] == 4 and out["A"]["input_bytes"] == 10
    assert out["B"]["jobs"] == 1 and out["B"]["executor_run_ms"] == 7
    assert out["A"]["stream_jobs"] == 0 and out["B"]["stream_jobs"] == 1
    assert out["B"]["scan_nodes"] == 1 and out["B"]["python_nodes"] == 1
    assert out["B"]["python_run_ms"] == 3
    assert out["B"]["locations"] == {"file:/d/events.parquet"}


def test_classification_rule():
    wh = "/w/spark-warehouse"
    data = registry.DATA_DIR
    assert registry.table_of(f"file:{data}/orders.parquet", wh) == "orders"
    assert registry.table_of(f"file:{wh}/tok_postings_data", wh) == \
        "warehouse:tok_postings_data"
    assert registry.table_of("file:/dev/shm/stream_x/out", wh) is None
    assert registry.class_of({"orders", "events"}) == "relational"
    assert registry.class_of({"orders", "documents"}) == "corpus"
    assert registry.class_of({"warehouse:ivf_idx_data_lists"}) == "corpus"
    assert registry.class_of(set()) == "relational"


def _profile(cls, stream=0, rounds=0, error=None):
    return {"class": cls, "stream_jobs": stream, "iterative_rounds": rounds,
            "error": error}


def test_sample_covers_layers_then_fills_classes_in_md5_order():
    keys = {f"k{i}": _profile("corpus" if i % 3 else "relational")
            for i in range(30)}
    order = registry.md5_order(keys)
    stream, rounds = order[-1], order[-2]
    keys[stream]["stream_jobs"] = 2
    keys[rounds]["iterative_rounds"] = 5
    keys[order[0]]["error"] = "boom"
    got = registry.choose_sample(keys)
    picked = [k for ks in got.values() for k in ks]
    assert stream in picked and rounds in picked and order[0] not in picked
    for cls, n in registry.SAMPLE.items():
        assert all(keys[k]["class"] == cls for k in got[cls])
        assert len(got[cls]) == max(
            n, sum(keys[k]["class"] == cls for k in (stream, rounds)))
        fill = [k for k in got[cls] if k not in (stream, rounds)]
        assert fill == [k for k in order[1:] if keys[k]["class"] == cls
                        and k not in (stream, rounds)][:len(fill)]


def test_sample_of_an_md5_prefix_equals_the_whole_registry_sample():
    keys = {f"k{i}": _profile("corpus" if i % 2 else "relational",
                              stream=i % 7 == 3, rounds=i % 11 == 5)
            for i in range(60)}
    whole = registry.choose_sample(keys)
    order = registry.md5_order(keys)
    first = next(n for n in range(1, 61) if registry.choose_sample(
        {k: keys[k] for k in order[:n]}) is not None)
    assert registry.choose_sample({k: keys[k] for k in order[:first]}) == whole
    assert registry.choose_sample({k: keys[k] for k in order[:first - 1]}) \
        is None


def test_drift_names_keys_whose_class_or_layers_changed():
    committed = {"keys": {"a": _profile("relational", stream=3),
                          "b": _profile("corpus", rounds=4)}}
    same = {"a": _profile("relational", stream=5),
            "b": _profile("corpus", rounds=2)}
    assert registry.drift(committed, same) == {}
    moved = {"a": _profile("corpus", stream=5),
             "b": _profile("corpus", rounds=0)}
    got = registry.drift(committed, moved)
    assert set(got) == {"a", "b"}
    assert got["a"]["committed"]["class"] == "relational"
    assert got["a"]["now"]["class"] == "corpus"
    assert got["b"]["now"]["iterative_rounds"] == 0


def test_committed_sample_follows_the_rule():
    committed = registry.load_keys()
    assert committed["sample"] == registry.choose_sample(committed["keys"])
    picked = registry.workload_keys(committed)
    for layer in registry.LAYERS:
        assert any(committed["keys"][k][layer] for k in picked), layer
