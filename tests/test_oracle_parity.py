"""Local replica of the driver's correctness gate: every queries() entry runs
on Spark AND its oracle_sql() runs on DuckDB over the same parquet tables;
results must match exactly after sorting columns by name and rows by value
(the driver hashes values the same way — an exact match here predicts a
value-hash match there).

Runs at sf0.001 for speed; the driver runs sf0.01. The queries over the
navigation graph, which is empty at sf0.001, also run at sf0.01.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from giranking_spark.sources.tables import TABLES
from tests.conftest import SF_SMALL


def _oracle_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="module")
def oracle_con():
    return _oracle_con(SF_SMALL)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


QUERY_NAMES = sorted(entrymod.queries().keys())


def _assert_matches_oracle(spark, con, name: str, sf_dir: str) -> None:
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    df = q(spark, sf_dir)
    # registry invariant: no raw temporal output columns — pandas hashes
    # Spark's ns-unit timestamps differently from DuckDB's µs ones even for
    # equal values, so temporal outputs must be emitted as epoch longs or
    # canonical strings (see rel_shipping_priority)
    temporal = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if "timestamp" in f.dataType.simpleString()
        or f.dataType.simpleString() == "date"
    ]
    assert not temporal, f"raw temporal output columns: {temporal}"
    sdf = df.toPandas()
    if name not in oracles:
        assert len(sdf) >= 0  # rows-only check (driver does the same)
        return
    odf = con.execute(oracles[name]).df()
    s, o = _normalize(sdf), _normalize(odf)
    assert list(s.columns) == list(o.columns), (s.columns, o.columns)
    assert len(s) == len(o), f"row count {len(s)} vs oracle {len(o)}"
    pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, oracle_con, name):
    _assert_matches_oracle(spark, oracle_con, name, SF_SMALL)


#: the queries built on derive_nav_edges: the navigation graph is empty at
#: sf0.001, so there they return zero rows (or all-zero counts) and parity
#: checks nothing; the next scale factor gives them a real graph
NAV_QUERY_NAMES = [
    "graph_scc",
    "graph_bowtie",
    "graph_motifs",
    "graph_ktruss",
    "graph_diameter_est",
    "graph_hyperball",
    "graph_harmonic",
    "graph_coreness",
    "graph_betweenness",
    "graph_closeness",
    "graph_rich_club",
    "graph_reciprocity",
    "graph_transitivity",
]
SF_NAV = os.path.join(os.path.dirname(SF_SMALL.rstrip("/")), "sf0.01")


@pytest.fixture(scope="module")
def nav_oracle_con():
    if not os.path.isdir(SF_NAV):
        pytest.skip(f"no sf0.01 tables next to {SF_SMALL}")
    return _oracle_con(SF_NAV)


@pytest.mark.parametrize("name", NAV_QUERY_NAMES)
def test_nav_query_matches_oracle_at_sf001(spark, nav_oracle_con, name):
    _assert_matches_oracle(spark, nav_oracle_con, name, SF_NAV)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["id", "score"]
