"""Output checks. Pure pandas: no Spark, so the benchmark's own tests can
feed them altered outputs.

Every check returns ``None`` when the output is right, else a one-line
reason. A reason counts the operation as failed.
"""

from __future__ import annotations

import math
from datetime import date, datetime

import pandas as pd

# Absolute tolerance for sums the stream operators round to 2 decimals:
# a float accumulated in another order may land on the other side of a
# rounding boundary.
ROUNDED_SUM_TOL = 0.0100001


def _canon_value(v) -> str:
    if v is None or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, float):
        return "<NULL>" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return f"{float(v):.6f}"
    if isinstance(v, (datetime, date)):
        if isinstance(v, datetime) and v.tzinfo is not None:
            v = v.replace(tzinfo=None)
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _canon_value(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    """Rows with columns in name order, values as canonical strings,
    sorted: equal for two frames that hold the same multiset of rows."""
    cols = sorted(pdf.columns)
    return sorted(
        tuple(_canon_value(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def check_table(got: pd.DataFrame, want_columns: list[str],
                want_rows: list[tuple[str, ...]]) -> str | None:
    """Column names, row count and order-insensitive values against an
    oracle's canonical rows."""
    if sorted(got.columns) != sorted(want_columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want_columns)}"
    if len(got) != len(want_rows):
        return f"{len(got)} rows != oracle {len(want_rows)}"
    rows = canon_rows(got)
    if rows != want_rows:
        bad = next(i for i, (a, b) in enumerate(zip(rows, want_rows)) if a != b)
        return f"value mismatch at sorted row {bad}: {rows[bad]} != {want_rows[bad]}"
    return None


def check_tumbling_counts(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The tumbling-window drain: the same (window_start, event_type)
    windows, equal ``n_events``, and ``sum_value`` within ROUNDED_SUM_TOL."""
    keys = ["window_start", "event_type"]
    cols = keys + ["n_events", "sum_value"]
    if sorted(got.columns) != sorted(cols):
        return f"columns {sorted(got.columns)} != {sorted(cols)}"
    if len(got) != len(want):
        return f"{len(got)} rows != expected {len(want)}"
    g, w = (df[cols].assign(window_start=[_canon_value(v) for v in df["window_start"]])
            .sort_values(keys).reset_index(drop=True)
            for df in (got, want))
    if list(g[keys].itertuples(index=False)) != list(w[keys].itertuples(index=False)):
        return "windows do not match the expected output"
    if list(g["n_events"].astype(int)) != list(w["n_events"].astype(int)):
        return "column n_events does not match the expected output"
    diff = (g["sum_value"].astype(float) - w["sum_value"].astype(float)).abs()
    if diff.isna().any() or (diff > ROUNDED_SUM_TOL).any():
        return f"column sum_value is off the expected output by up to {diff.max()}"
    return None


def check_drain(active_after: list[str]) -> str | None:
    """A drain that returns while a stream is still running returned a
    partial result (``awaitTermination`` times out silently)."""
    if active_after:
        return f"streams still active after the drain returned: {active_after}"
    return None


def check_predictions(lines: list[str], ordered: pd.DataFrame,
                      validation_ids: list[str], truth: dict[str, bool],
                      floor: float) -> tuple[str | None, float]:
    """IMDB sink: one True/False line per validation row, in ``tconst``
    order, matching the model's predictions, and accurate enough.

    ``ordered`` is the prediction frame (``tconst``, ``prediction``)
    sorted by ``tconst``. Returns ``(reason, holdout_accuracy)``.
    """
    if len(lines) != len(validation_ids):
        return f"{len(lines)} lines != {len(validation_ids)} validation rows", 0.0
    if not set(lines) <= {"True", "False"}:
        return f"values outside True/False: {sorted(set(lines) - {'True', 'False'})[:3]}", 0.0
    if list(ordered["tconst"]) != list(validation_ids):
        return "prediction ids are not the validation ids in tconst order", 0.0
    expected = ["True" if p == 1.0 else "False" for p in ordered["prediction"]]
    if lines != expected:
        bad = next(i for i, (a, b) in enumerate(zip(lines, expected)) if a != b)
        return f"line {bad} is {lines[bad]}, the model predicted {expected[bad]}", 0.0
    hits = sum((line == "True") == truth[t] for line, t in zip(lines, validation_ids))
    accuracy = hits / len(lines)
    if accuracy < floor:
        return f"holdout accuracy {accuracy:.3f} below the floor {floor}", accuracy
    return None, accuracy
