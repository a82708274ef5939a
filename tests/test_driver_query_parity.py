"""Cross-engine parity for the triplet assemblies, the BM25 scorer and the
negative strategies: each driver query against its DuckDB oracle twin at
sf0.001, exact value comparison with the normalizer of
scripts/check_correctness.py.

The triplet assemblies share one finish step (negative join, swap, weight
model, degenerate rejection) and BM25 has one scoring path; the twins are
written out independently, so this pins the shared Spark code to the
oracle for every caller.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
)
from check_correctness import TABLES, compare  # noqa: E402

SF = "/root/testdata/sf0.001"

QUERIES = [
    "triplet_assembly",
    "pairs_from_triplets",
    "temporal_offset_triplets",
    "selector_triplets",
    "temporal_selector_triplets",
    "simcse_triplets",
    "selector_chunk_triplets",
    "bm25_topk",
    "bm25_hard_negatives",
    "wrong_article_negatives",
    "wrong_date_negatives",
    "qa_mismatch_negatives",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_driver_query_matches_oracle(spark, duck, name):
    from rust_triplets_spark.plans import driver_queries as DQ

    sdf = DQ.QUERIES[name](spark, SF).toPandas()
    ddf = duck.execute(DQ.ORACLES[name]).df()
    assert len(sdf) > 0, "sf0.001 produced an empty frame — nothing exercised"
    problems = compare(name, sdf, ddf)
    assert not problems, problems
