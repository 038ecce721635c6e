"""Oracle-differential tests: every registered query with an oracle is run
through Spark AND DuckDB and compared with driver semantics.

Runs at sf0.001 for speed in the default suite; set
SPARK_GRAFT_ORACLE_SF=sf0.01 to reproduce the driver's exact gate.
"""

from __future__ import annotations

import os

import pytest

from big_data_imdb_classifier_spark import plans

from .conftest import SF_ORACLE, SF_SMOKE
from .oracle_harness import compare

plans.load_all()

ORACLE_NAMES = sorted(plans.ORACLES)

# scale factor -> (testdata dir, DuckDB fixture with that SF's views)
ORACLE_SFS = {"sf0.001": (SF_SMOKE, "duck_smoke"), "sf0.01": (SF_ORACLE, "duck")}


@pytest.fixture(scope="module")
def oracle_sf(request):
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.001")
    if sf not in ORACLE_SFS:
        raise ValueError(
            f"SPARK_GRAFT_ORACLE_SF={sf!r}: supported are {sorted(ORACLE_SFS)}"
        )
    sf_dir, duck_fixture = ORACLE_SFS[sf]
    return sf_dir, request.getfixturevalue(duck_fixture)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(name, spark, oracle_sf):
    sf_dir, con = oracle_sf
    df = plans.QUERIES[name](spark, sf_dir)
    compare(df, con, plans.ORACLES[name])


def test_all_queries_return_rows(spark):
    for name, fn in plans.QUERIES.items():
        n = fn(spark, SF_SMOKE).count()
        assert n >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"nation", "custkey", "cust_name", "revenue"}
