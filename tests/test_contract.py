"""Driver-contract guard: a fast subset of the queries()/oracle_sql()
gate (full sweep: tools/check_contract.py). Uses sf0.001."""

import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.001"
TABLES = ["events", "documents", "embeddings"]
SUBSET = [
    "edge_derivation",
    "pagerank",
    "connected_components",
    "label_propagation",
    "triangles_per_vertex",
    "sssp_hops",
    "ngram_jaccard_pairs",
    "embedding_cosine_topk",
    "hits_scores",
    "kcore_membership",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entrymod

    sdf = _normalize(entrymod.queries()[name](spark, SF).toPandas())
    odf = _normalize(duck.execute(entrymod.oracle_sql()[name]).df())
    assert list(sdf.columns) == list(odf.columns)
    assert len(sdf) == len(odf)
    pd.testing.assert_frame_equal(sdf, odf, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["id", "pr"]


def test_every_query_has_oracle_or_is_documented(spark):
    import __spark_entry__ as entrymod

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    # every query is oracle-gated — including multimodal_features, whose
    # scalar projection (media_id, kind, n_bytes) is analytically
    # determined by synth_media's construction even though the feature
    # vector comes from the stubbed decode; every hash-seeded pipeline
    # (MinHash, SimHash, sign-LSH, IVF, sampling) uses portable
    # md5-derived constants so DuckDB reproduces it exactly
    assert set(qs) == set(os_)


def test_maintained_stream_removes_its_state_tree(spark, duck):
    """The query's ingest/state/checkpoint tree is removed before it
    returns, and the labels it returns were read before the removal."""
    import glob
    import tempfile

    import __spark_entry__ as entrymod

    pattern = f"{tempfile.gettempdir()}/mstream_gate_*"
    before = set(glob.glob(pattern))
    name = "maintained_stream_state"
    sdf = _normalize(entrymod.queries()[name](spark, SF).toPandas())
    assert set(glob.glob(pattern)) <= before
    odf = _normalize(duck.execute(entrymod.oracle_sql()[name]).df())
    assert list(sdf.columns) == list(odf.columns)
    pd.testing.assert_frame_equal(sdf, odf, check_dtype=False)
