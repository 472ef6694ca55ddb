"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench -q        (from the repository root)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def test_metric_names_match_benchmark_json():
    e2e = {m["name"]: (m["unit"], m["better"]) for m in BENCH["end_to_end"]}
    assert e2e == metrics.END_TO_END
    assert BENCH["per_layer"] == metrics.per_layer_spec()
    names = list(e2e) + [m["name"] for m in BENCH["per_layer"]]
    assert len(names) == len(set(names))
    assert {w["name"] for w in BENCH["workloads"]} <= set(W.WORKLOADS)


def test_per_layer_names_cover_the_benchmarked_queries():
    names = set(metrics.per_layer_names())
    for q in W.TPCH_QUERIES:
        assert f"queries.{q}.build_s" in names and f"exec.{q}.wall_s" in names


def test_pins_cover_every_batch_query():
    assert set(W.load_pins()) == set(W.TPCH_QUERIES + W.LLM_QUERIES)


def _digests(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_batch_inputs_are_deterministic_per_seed(tmp_path):
    a = _digests(W.make_batch_inputs(str(tmp_path / "a"), 7))
    b = _digests(W.make_batch_inputs(str(tmp_path / "b"), 7))
    c = _digests(W.make_batch_inputs(str(tmp_path / "c"), 8))
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_batch_inputs_keep_rows_and_schema(tmp_path):
    import pyarrow.parquet as pq

    out = W.make_batch_inputs(str(tmp_path / "p"), 3)
    for t in W.TABLES:
        src = pq.read_table(os.path.join(W.DATA_DIR, f"{t}.parquet"))
        got = pq.read_table(os.path.join(out, f"{t}.parquet"))
        assert got.schema == src.schema
        key = src.column_names[0]
        assert sorted(got[key].to_pylist(), key=repr) == sorted(src[key].to_pylist(), key=repr)


def test_output_digest_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [1, 2, 3], "b": [0.1, 0.2, 0.3],
                       "c": [np.array([1.0, 2.0]), np.array([3.0]), np.array([])]})
    shuffled = df.iloc[[2, 0, 1]][["c", "a", "b"]]
    assert W.output_digest(df) == W.output_digest(shuffled)
    changed = df.assign(b=[0.1, 0.2, 0.30000000000000004])
    assert W.output_digest(df) != W.output_digest(changed)


def _result(metrics_, nulls=None, failed=0):
    return {"attempted": 5, "failed": failed, "failures": [], "metrics": metrics_,
            "null_reasons": nulls or {}, "detail": {}}


def _args(trace):
    return SimpleNamespace(workload="stream_keyed", seed=1, trace=trace)


def test_missed_measurement_is_null_with_reason_never_zero():
    got = {"setup_s": 1.5, "pass_s": None, "latency_ms_p50": None}
    _, line = run.assemble(_result(got, {"pass_s": "a pipeline missed its batch count"}),
                           _args(0), 1024.0)
    assert line["metrics"]["pass_s"] == {
        "value": None, "unit": "s", "reason": "a pipeline missed its batch count"}
    assert line["metrics"]["latency_ms_p50"]["value"] is None
    assert line["metrics"]["latency_ms_p50"]["reason"]
    assert line["metrics"]["latency_ms_p90"] == {
        "value": None, "unit": "ms", "reason": "not measured"}
    assert line["correct"] is False


def test_result_line_lists_every_declared_metric():
    e2e = {k: 1.0 for k in metrics.END_TO_END}
    detail, line = run.assemble(_result(e2e), _args(0), 2048.0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(metrics.END_TO_END)
    assert line["correct"] is True and detail["failed_frac"] == 0
    layer = {n: 0.0 for n in metrics.per_layer_names()}
    _, line = run.assemble(_result(layer), _args(1), 1234.0)
    assert line["metrics"]["host.peak_rss_mb"] == {"value": 1234.0, "unit": "MB"}
    assert [k for k in line["metrics"]] == metrics.per_layer_names()
    assert line["correct"] is True


def test_failed_operation_makes_run_incorrect():
    e2e = {k: 1.0 for k in metrics.END_TO_END}
    detail, line = run.assemble(_result(e2e, failed=1), _args(0), 1.0)
    assert line["correct"] is False and detail["failed_frac"] == 0.2


def test_event_latencies_from_offsets():
    created = 1_000_000
    # one trigger took seconds [2, 4) and committed 4.5 s after creation
    p = {"sources": [{"startOffset": "2", "endOffset": "4"}],
         "timestamp": pd.Timestamp(created + 4000, unit="ms", tz="UTC").isoformat(),
         "durationMs": {"triggerExecution": 500}}
    lat, w = W.event_latencies_ms([p], created, rows_per_s=100, buckets=10)
    assert len(lat) == 20 and w.sum() == pytest.approx(200)
    assert lat.max() == pytest.approx(4500 - 2000 - 50)
    assert lat.min() == pytest.approx(4500 - 3000 - 950)
    assert W.weighted_quantile(lat, w, 0.5) == pytest.approx(1500 - 50)


def _events(n, rows_per_batch, seed=0):
    rng = np.random.default_rng(seed)
    ids = np.arange(n)
    ts = pd.Timestamp("2026-01-01") + pd.to_timedelta(ids * (1_000_000 // rows_per_batch), unit="us")
    return pd.DataFrame({"id": ids, "key": rng.integers(0, 5, n),
                         "v": rng.integers(0, 100, n).astype(float), "ts": ts})


def test_check_windows_accepts_reference_and_rejects_a_change():
    ev = _events(4000, 1000)
    ref = W.window_reference(ev)
    ref["window_end"] = ref["window_start"] + pd.Timedelta(seconds=1)
    emitted = ref[ref["window_end"] <= pd.Timestamp("2026-01-01 00:00:02")]
    assert W.check_windows(emitted, ev) is None
    assert W.check_windows(emitted.assign(s=emitted["s"] + 1), ev) is not None
    assert W.check_windows(emitted.iloc[1:], ev) is not None


def test_check_lag_accepts_reference_and_rejects_a_change():
    ev = _events(3000, 1000)
    ref = W.lag_reference(ev, 1000)
    emitted = ref[ref["batch"] <= 1][["key", "ts", "values"]]
    emitted = emitted.assign(values=[np.array(v) for v in emitted["values"]])
    assert W.check_lag(emitted, ev, 1000) is None
    assert W.check_lag(emitted.iloc[:-1], ev, 1000) is not None
    bad = emitted.assign(values=[v[::-1] for v in emitted["values"]])
    assert W.check_lag(bad, ev, 1000) is not None


def test_check_join_accepts_reference_and_rejects_a_change():
    ev = _events(2000, 1000)
    dim = pd.DataFrame({"dkey": range(5), "attr": [10, 11, 12, 13, 14]})
    emitted = ev.merge(dim, left_on="key", right_on="dkey", how="left").drop(columns="dkey")
    assert W.check_join(emitted, ev, dim, 1000) is None
    assert W.check_join(emitted.iloc[:-1], ev, dim, 1000) is not None


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    yield s
    s.stop()


def _keyed(spark, seed, n=50_000, rate=10_000):
    src = spark.range(n).withColumnRenamed("id", "value")
    return W.keyed_events(src, seed, rate, keep_id=True).toPandas()


def test_stream_inputs_are_deterministic_per_seed(spark):
    a, b, c = _keyed(spark, 5), _keyed(spark, 5), _keyed(spark, 6)
    pd.testing.assert_frame_equal(a, b)
    assert not a["key"].equals(c["key"])


def test_stream_inputs_shape(spark):
    rate = 10_000
    ev = _keyed(spark, 5, rate=rate)
    assert ev["key"].between(0, W.N_KEYS - 1).all()
    assert ev["key"].nunique() > 0.9 * W.N_KEYS
    # skew: the lowest tenth of the keys carries about a third of the rows
    assert (ev["key"] < W.N_KEYS // 10).mean() > 0.25
    assert ev["ts"].is_unique
    in_order = W.EPOCH_US + ev["id"] * (1_000_000 // rate)
    shift_us = (ev["ts"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1) - in_order
    assert (shift_us != 0).mean() > 0.1  # a share arrives out of order
    assert shift_us.abs().max() <= 250_000  # within a quarter second, inside the watermark
