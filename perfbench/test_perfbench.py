"""The benchmark's own tests: a wrong output counts as a failed
operation, inputs repeat for a seed, and BENCHMARK.json names exactly the
metrics run.py prints. No Spark needed:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import json
import os

import pandas as pd
import pytest

import checks
import datagen
import imdb_fixture
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle(df: pd.DataFrame):
    return list(df.columns), checks.canon_rows(df)


@pytest.fixture
def table():
    return pd.DataFrame({
        "l_returnflag": ["A", "N", "R"],
        "n": [3, 5, 7],
        "avg_price": [1.25, 2.5, 3.75],
    })


def test_same_rows_in_another_order_pass(table):
    assert checks.check_table(table.iloc[::-1], *_oracle(table)) is None


def test_one_altered_row_fails(table):
    bad = table.copy()
    bad.loc[1, "avg_price"] = 2.51
    assert "value mismatch" in checks.check_table(bad, *_oracle(table))


def test_missing_row_and_renamed_column_fail(table):
    assert "rows" in checks.check_table(table.iloc[:2], *_oracle(table))
    renamed = table.rename(columns={"n": "count"})
    assert "columns" in checks.check_table(renamed, *_oracle(table))


@pytest.fixture
def windows():
    return pd.DataFrame({
        "window_start": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00"]),
        "event_type": ["click", "view"],
        "n_events": [4, 6],
        "sum_value": [10.01, 20.02],
    })


def test_rounded_sums_compare_within_a_cent(windows):
    close = windows.assign(sum_value=[10.02, 20.02])
    assert checks.check_tumbling_counts(close.iloc[::-1], windows) is None
    off = windows.assign(sum_value=[10.05, 20.02])
    assert "sum_value" in checks.check_tumbling_counts(off, windows)
    miscount = windows.assign(n_events=[4, 7])
    assert "n_events" in checks.check_tumbling_counts(miscount, windows)
    moved = windows.assign(event_type=["click", "error"])
    assert "windows" in checks.check_tumbling_counts(moved, windows)


def test_stream_left_active_fails():
    assert checks.check_drain([]) is None
    assert "still active" in checks.check_drain(["pb_stream_tumbling_counts_p1"])


def _record(tmp_path, op, df, **extra):
    path = os.path.join(tmp_path, f"{op}.parquet")
    df.to_parquet(path)
    return {"op": op, "pass": 1, "error": None, "output": path, **extra}


def test_query_mix_counts_each_wrong_output_once(tmp_path, table, windows):
    want = {"pricing_summary": _oracle(table), "stream_tumbling_counts": windows}
    altered = table.copy()
    altered.loc[0, "n"] = 4
    records = [
        _record(tmp_path, "pricing_summary", table),
        _record(tmp_path, "stream_tumbling_counts", windows, active_after=[]),
    ]
    assert run.check_query_mix(records, want) == []

    records = [
        _record(tmp_path, "pricing_summary", altered),
        _record(tmp_path, "stream_tumbling_counts", windows,
                active_after=["pb_stream_tumbling_counts_p1"]),
        {"op": "pricing_summary", "pass": 2, "error": "Traceback ...", "output": None},
    ]
    failures = run.check_query_mix(records, want)
    assert len(failures) == 3
    assert "still active" in failures[1]


def test_imdb_predictions_checked_against_model_order_and_truth():
    ids = ["tt0000001", "tt0000002", "tt0000003", "tt0000004"]
    truth = dict(zip(ids, [True, False, True, True]))
    ordered = pd.DataFrame({"tconst": ids, "prediction": [1.0, 0.0, 1.0, 0.0]})
    lines = ["True", "False", "True", "False"]
    reason, acc = checks.check_predictions(lines, ordered, ids, truth, 0.7)
    assert reason is None and acc == 0.75
    flipped = ["True", "True", "True", "False"]
    assert "line 1" in checks.check_predictions(flipped, ordered, ids, truth, 0.7)[0]
    assert "lines" in checks.check_predictions(lines[:3], ordered, ids, truth, 0.7)[0]
    shuffled = ordered.iloc[[1, 0, 2, 3]]
    assert "tconst order" in checks.check_predictions(lines, shuffled, ids, truth, 0.7)[0]
    assert "floor" in checks.check_predictions(lines, ordered, ids, truth, 0.8)[0]


def test_tables_repeat_for_a_seed(tmp_path):
    a, b, c = (os.path.join(tmp_path, x) for x in "abc")
    datagen.generate(a, 5)
    datagen.generate(b, 5)
    datagen.generate(c, 6)
    for name in ("lineitem", "events", "documents", "embeddings"):
        pa = pd.read_parquet(os.path.join(a, f"{name}.parquet"))
        assert pa.equals(pd.read_parquet(os.path.join(b, f"{name}.parquet")))
    assert not pd.read_parquet(os.path.join(a, "lineitem.parquet")).equals(
        pd.read_parquet(os.path.join(c, "lineitem.parquet")))


def test_imdb_fixture_has_the_reference_shapes(tmp_path):
    fx = imdb_fixture.generate(str(tmp_path), 3)
    shards = sorted(f for f in os.listdir(tmp_path) if f.startswith("train-"))
    assert shards == [f"train-{i}.csv" for i in range(1, 9)]
    rows = []
    for s in shards:
        with open(os.path.join(tmp_path, s), newline="") as fh:
            r = list(csv.reader(fh))
        assert r[0][0] == "" and r[0][-1] == "label"
        rows += r[1:]
    assert len(rows) == imdb_fixture.TRAIN_ROWS
    assert any(row[5] == "\\N" for row in rows)
    assert any(row[3] == "" for row in rows)
    assert any(not row[2].isascii() for row in rows)
    with open(os.path.join(tmp_path, "directing.json")) as fh:
        directing = json.load(fh)
    assert set(directing["movie"]) != set(directing["director"])
    with open(os.path.join(tmp_path, "validation_gemma3_4b_cache.csv")) as fh:
        cached = {r[0] for r in list(csv.reader(fh))[1:]}
    assert cached == set(fx.validation_ids)
    with open(os.path.join(tmp_path, "validation_hidden.csv")) as fh:
        assert "label" not in fh.readline()


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def _train_rows(data_dir: str) -> list[list[str]]:
    rows = []
    for s in range(1, imdb_fixture.N_SHARDS + 1):
        with open(os.path.join(data_dir, f"train-{s}.csv"), newline="") as fh:
            rows += [r[1:] for r in list(csv.reader(fh))[1:]]
    return rows


def test_imdb_seed_orders_the_same_content(tmp_path):
    a, b, c = (os.path.join(tmp_path, x) for x in "abc")
    fa, fb, fc = (imdb_fixture.generate(d, s) for d, s in ((a, 5), (b, 5), (c, 6)))
    assert _train_rows(a) == _train_rows(b)
    assert fa.validation_truth == fb.validation_truth == fc.validation_truth
    assert sorted(_train_rows(a)) == sorted(_train_rows(c))
    assert _train_rows(a) != _train_rows(c)
