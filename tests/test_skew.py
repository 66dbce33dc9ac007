"""Hot-term skew handling: the save-time salt must physically spread a
pathological term across partitions.

The clustering shuffle keys on (field, term, pmod(ord // block_size,
term_salt)) precisely so that a term appearing in EVERY document — the
worst-case reducer key at 10^12 turns — lands in ``term_salt``
block-complete partition slices instead of one giant reducer
(build/indexer.py save, "phase 3"). This test builds such a corpus and
inspects the physical parquet layout of the loaded index.
"""

import os

import pytest
from pyspark.sql import functions as F

from ex_elasticlunr_spark import Index


@pytest.fixture(scope="module")
def hot_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("skew") / "wh")
    # every doc contains the hot term; filler terms are low-df
    rows = [(str(i), f"hotword filler{i % 97} extra{i % 53}")
            for i in range(2000)]
    df = spark.createDataFrame(rows, "docid string, text string")
    idx = Index(name="skew").add_field("text")
    idx.add_documents(df, docid_col="docid")
    # small blocks so 2000 ordinals span many blocks; salt 8
    idx.inverted.save(path, block_size=64, term_salt=8)
    return Index.load(spark, path, name="skew")


def test_hot_term_spreads_over_salted_partitions(hot_index):
    # The salted clustering shuffle is what bounds reducer skew; the
    # postings table is the one table that rides it. Assert the
    # physical spread on that table.
    files = (
        hot_index.inverted.postings
        .where(F.col("term") == "hotword")
        .select(F.input_file_name().alias("f"))
        .groupBy("f").count()
        .collect()
    )
    n_files = len(files)
    total = sum(r["count"] for r in files)
    assert total == 2000
    # the hot term must be split across multiple physical partitions
    # (up to term_salt = 8); no single partition may hold it all
    assert n_files >= 4, f"hot term landed in only {n_files} file(s)"
    assert max(r["count"] for r in files) <= total * 0.6


def test_salted_blocks_stay_complete(hot_index):
    """Every (term, block) group must be COMPLETE within one file —
    the invariant that lets the segment encoder run with zero further
    shuffle (each posting block is encoded where it lives)."""
    per_block_files = (
        hot_index.inverted.postings
        .where(F.col("term") == "hotword")
        .select((F.col("ord") / 64).cast("long").alias("block"),
                F.input_file_name().alias("f"))
        .groupBy("block")
        .agg(F.countDistinct("f").alias("nf"))
        .collect()
    )
    assert per_block_files and all(r["nf"] == 1 for r in per_block_files)


def test_hot_term_queries_still_correct(hot_index):
    assert hot_index.count({"query": {"terms": {"text": "hotword"}}}) == 2000
    top = hot_index.search_bm25("hotword filler3", top_k=5).collect()
    assert len(top) == 5
