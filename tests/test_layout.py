"""The durable layout: one term-clustered ``postings`` table per
snapshot, carrying the positional columns exactly when positions are
stored, and a loader that refuses any other layout version."""

import json
import os

import pyarrow.parquet as pq
import pytest

from ex_elasticlunr_spark import Index
from ex_elasticlunr_spark.build.indexer import InvertedIndex, table_path

TABLES = {"postings", "docs", "doc_stats", "field_stats", "term_stats",
          "ordinals", "ordinals_extra", "segments", "seg_lens"}


@pytest.fixture(scope="module")
def warehouses(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("layout")
    df = spark.createDataFrame([("a", "merge window spark"),
                                ("b", "window join")],
                               "docid string, text string")
    out = {}
    for positions in (True, False):
        path = str(root / f"pos-{positions}")
        Index(name="layout", store_positions=positions).add_field("text") \
            .add_documents(df, docid_col="docid").save(path)
        out[positions] = path
    return out


def test_snapshot_holds_one_posting_table(spark, warehouses):
    for positions, path in warehouses.items():
        snap = os.path.dirname(table_path(path, "postings"))
        assert set(os.listdir(snap)) == TABLES
        cols = set(pq.read_schema(
            pq.ParquetDataset(table_path(path, "postings")).files[0]).names)
        assert {"field", "term", "ord", "tf_raw", "doc_len"} <= cols
        assert {"positions", "ords"} & cols == (
            {"positions", "ords"} if positions else set())

    path = warehouses[True]
    with open(os.path.join(path, "manifest.json")) as fh:
        manifest = json.load(fh)
    assert manifest["version"] == 6
    manifest["version"] = 5
    with open(os.path.join(path, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError, match="version 5.*rebuild"):
        InvertedIndex.load(spark, path)
