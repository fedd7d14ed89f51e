import json
import os
import random

import pandas as pd

import digests
import layers
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_printed_end_to_end_metrics_equal_benchmark_json():
    bench = _benchmark()
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared == run.END_TO_END


def test_printed_per_layer_metrics_equal_benchmark_json():
    bench = _benchmark()
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == layers.metric_names(workloads.QUERY_MIX)


def test_workloads_equal_benchmark_json():
    assert [w["name"] for w in _benchmark()["workloads"]] == list(run.WORKLOADS)


def test_stored_digests_cover_the_query_mix():
    expected = digests.load_expected()
    assert expected["tables"] == {"sf": workloads.TABLES_SF, "seed": workloads.TABLES_SEED}
    assert set(expected["digests"]) == set(workloads.QUERY_MIX)


def test_digest_ignores_row_and_column_order_but_not_value_kind():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    b = a.iloc[::-1][["v", "k"]]
    assert digests.digest(a) == digests.digest(b)
    c = a.assign(k=a["k"].astype(float))
    assert digests.digest(a) != digests.digest(c)


def test_request_stream_is_seeded_and_of_one_shape():
    first = list(zip(range(20), workloads.request_stream(random.Random(7))))
    again = list(zip(range(20), workloads.request_stream(random.Random(7))))
    assert first == again
    assert first != list(zip(range(20), workloads.request_stream(random.Random(8))))
    stored = {(t, d) for t in workloads.TICKERS for d in range(workloads.STORED_DAYS)}
    for _, (tickers, d0, d1) in first:
        assert len(set(tickers)) == workloads.REQUEST_TICKERS
        assert set(tickers) <= set(workloads.TICKERS)
        assert d1 - d0 + 1 == workloads.REQUEST_DAYS and 0 <= d0 <= d1 < workloads.N_DAYS
        keys = {(t, d) for t in tickers for d in range(d0, d1 + 1)}
        assert len(keys & stored) == len(tickers) * workloads.REQUEST_STEP
        stored |= keys
