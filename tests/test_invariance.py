"""Metamorphic invariance gate for the prefix-scan callers.

Every registered query whose source calls ``distributed_cumsum``,
``group_quantiles`` or ``rank_value_lookup`` must return the same
canonical frame (``oracle_harness._canon_frame``) under perturbations
that change the physical plan but not the answer: AQE off, 1 and 7
shuffle partitions, broadcast joins off, and persisted table reads. A
new caller of those primitives joins the gate on its own; the pinned
list below makes that visible.
"""

from __future__ import annotations

import inspect
import sys

import pytest

from big_data_imdb_classifier_spark import plans
from big_data_imdb_classifier_spark.sources import readers

from .conftest import SF_SMOKE
from .oracle_harness import _canon_frame

plans.load_all()

SCAN_PRIMITIVES = ("distributed_cumsum", "group_quantiles", "rank_value_lookup")
SCAN_CALLERS = sorted(
    name
    for name, fn in plans.QUERIES.items()
    if any(p in inspect.getsource(fn) for p in SCAN_PRIMITIVES)
)

PERTURBATIONS = {
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "shuffle_partitions_1": {"spark.sql.shuffle.partitions": "1"},
    "shuffle_partitions_7": {"spark.sql.shuffle.partitions": "7"},
    "broadcast_off": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    },
    "persisted_reads": {},
}


def test_scan_callers_are_pinned():
    assert SCAN_CALLERS == [
        "approx_percentile_price",
        "histogram_equidepth_price",
        "stats_gini_customer_revenue",
        "stats_ks_two_sample",
        "stats_mad_outliers",
        "stats_percentiles_by_flag",
        "text_length_quantile_normalize",
        "winsorize_extendedprice",
    ]


def _persist_table_reads(monkeypatch):
    """Route every plans module's ``load_table`` through ``persist()``."""

    def load_persisted(*args, **kwargs):
        return readers.load_table(*args, **kwargs).persist()

    for mod in list(sys.modules.values()):
        if (
            getattr(mod, "__name__", "").startswith(plans.__name__ + ".")
            and getattr(mod, "load_table", None) is readers.load_table
        ):
            monkeypatch.setattr(mod, "load_table", load_persisted)


def _run(spark, name) -> list[tuple]:
    return _canon_frame(plans.QUERIES[name](spark, SF_SMOKE).toPandas())


@pytest.mark.parametrize("name", SCAN_CALLERS)
def test_scan_caller_is_plan_invariant(name, spark, monkeypatch):
    want = _run(spark, name)
    differ = []
    for label, conf in PERTURBATIONS.items():
        prev = {k: spark.conf.get(k, None) for k in conf}
        with monkeypatch.context() as mp:
            if label == "persisted_reads":
                _persist_table_reads(mp)
            for k, v in conf.items():
                spark.conf.set(k, v)
            try:
                got = _run(spark, name)
            finally:
                for k, v in prev.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
                spark.catalog.clearCache()
        if got != want:
            differ.append(label)
    assert differ == [], f"{name} differs from its default run under {differ}"
