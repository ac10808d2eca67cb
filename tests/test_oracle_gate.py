"""Query-level oracle gate for the queries built on the shared exact
set-similarity join (``minhash._set_overlap_pairs``): each runs at
sf0.001 and must match its DuckDB ``oracle_sql()`` twin on row count and
``tools/check_oracles.py``'s value hash."""

import importlib.util
import os
import pathlib

import pytest

import __spark_entry__ as entrymod

_SPEC = importlib.util.spec_from_file_location(
    "check_oracles",
    pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_oracles.py",
)
check_oracles = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(check_oracles)

SF_DIR = "/root/testdata/sf0.001"  # TESTDATA.md

SET_JOIN_QUERIES = [
    "ngram_jaccard_pairs",
    "jaccard_topk_neighbors",
    "dup_threshold_sensitivity",
    "snm_recall_audit",
    "bag_jaccard_pairs",
    "containment_pairs",
    "conversation_dups",
    "conversation_dup_clusters",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.001 test data not present"
)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in check_oracles.TABLES:
        con.execute(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", SET_JOIN_QUERIES)
def test_set_join_query_matches_oracle(spark, duck, name):
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    exp = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    assert sorted(got.columns) == sorted(exp.columns)
    assert len(got) == len(exp)
    assert check_oracles.value_hash(got) == check_oracles.value_hash(exp)
