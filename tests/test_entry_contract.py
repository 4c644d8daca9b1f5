"""Driver-contract conformance: run every queries() entry at sf0.01 in
Spark AND its oracle_sql() in DuckDB, compare row count + schema names
+ order-insensitive values — the same gate the driver applies."""

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].round(9)
        elif np.issubdtype(pdf[c].dtype, np.integer):
            pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


QUERY_NAMES = sorted(entry_mod.queries().keys())

# The contract check samples the first 50 registry keys, so deleting
# or reordering queries must leave this head untouched.
REGISTRY_HEAD = [
    "tile_assign", "tile_assign_dist", "tile_counts", "knn_ocean",
    "hex_tile_counts", "s2_tile_counts", "codelist_translate",
    "codelist_families", "temporal_tiles", "temporal_asof",
    "lineitem_pricing", "top_orders", "regional_revenue",
    "events_tumbling", "events_sliding", "events_attribution",
    "dedup_exact", "doc_token_stats", "doc_repetition", "decontaminate",
    "lm_quality", "dsir_score", "mixture_sample", "ppl_buckets",
    "similarity_topk", "hard_negatives", "ngram_jaccard", "doc_quality",
    "sessionize_batch", "corpus_curation", "curate_images", "seq_pack",
    "select_budget", "duplicate_spans", "batch_pack",
    "image_training_batches", "phash_incremental",
    "embedding_incremental", "ivf_search", "corpus_split",
    "minhash_relational", "minhash_incremental", "minhash_pairs",
    "simhash_pairs", "lang_id", "embedding_near_dups",
    "image_decode_verify", "phash_near_dups", "media_features",
    "video_frames",
]


def test_registry_head_is_pinned():
    assert list(entry_mod.queries())[:50] == REGISTRY_HEAD


def test_query_and_oracle_keys_match():
    queries, oracles = set(entry_mod.queries()), set(entry_mod.oracle_sql())
    assert queries - oracles == set(), "queries without an oracle"
    assert oracles - queries == set(), "oracles without a query"


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    sdf = q(spark, SF_DIR).toPandas()
    assert len(sdf) > 0, f"{name}: empty Spark result"
    odf = ddb.sql(oracles[name]).df()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    a, b = _canon(sdf), _canon(odf)
    assert list(a.columns) == list(b.columns), f"{name}: columns differ"
    pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-9)


def test_minhash_relational_no_single_partition_exchange(spark):
    # the shingle-id used to come from row_number() over a global
    # orderBy — ONE task sorting every distinct shingle. sid is now a
    # per-row content hash; the executed plan must not funnel the data
    # through a single partition anywhere.
    from ksj2gp_spark.plans import assert_no_single_partition_exchange

    df = entry_mod.queries()["minhash_relational"](spark, SF_DIR)
    assert_no_single_partition_exchange(df)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    names = [f.name for f in df.schema.fields]
    assert names == ["image_id", "h3_cell", "admin_code"]
    assert df.count() > 0
