"""Differential test: every oracle-paired catalog query vs DuckDB at
sf0.001 (the driver runs the same comparison at sf0.01 - SURVEY.md
section 5.2), plus the approximate-search contracts at sf0.1, the
scale whose fixture broke their earlier hard-coded oracles."""

from __future__ import annotations

import duckdb
import pytest

from reactive_data_pipeline_spark.queries import QUERIES

from .conftest import SF_DIR
from .helpers import canon

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


SF01_DIR = "/root/testdata/sf0.1"

#: Contracts whose approximate legs the oracle recomputes, also checked
#: at sf0.1.
SF01_CONTRACTS = ("knn_lsh_cosine", "knn_ivf_cosine", "embedding_recall_contract")


@pytest.fixture(scope="module")
def oracles():
    cons = {}

    def connect(sf_dir):
        if sf_dir not in cons:
            con = cons[sf_dir] = duckdb.connect()
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return cons[sf_dir]

    return connect


@pytest.mark.parametrize(
    "name, sf_dir",
    [pytest.param(n, SF_DIR, id=n) for n, q in QUERIES.items() if q.oracle]
    + [pytest.param(n, SF01_DIR, id=f"{n}-sf0.1") for n in SF01_CONTRACTS],
)
def test_oracle_parity(spark, oracles, name, sf_dir):
    q = QUERIES[name]
    sdf = q.build(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    res = oracles(sf_dir).sql(q.oracle)
    ocols, orows = list(res.columns), res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert canon(srows, sdf.columns) == canon(orows, ocols)


@pytest.mark.parametrize("name", [n for n, q in QUERIES.items() if q.oracle is None])
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name].build(spark, SF_DIR)
    assert df.collect() is not None
