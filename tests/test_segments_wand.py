"""Codec round-trip, segment construction invariants, and WAND ==
exhaustive rank-identity on random queries (msm=1, operator-and /
msm>1, and the multi-field string-search sugar).
"""

import random

import pytest
from pyspark.sql import functions as F

from ex_elasticlunr_spark import Index
from ex_elasticlunr_spark.build import codec
from ex_elasticlunr_spark.build.indexer import table_path
from ex_elasticlunr_spark.build.ordinals import assign_doc_ordinals
from ex_elasticlunr_spark.build.segments import (
    build_len_blocks,
    build_segments,
    decode_len_blocks,
    decode_segments,
)
from ex_elasticlunr_spark.search import wand as wand_mod
from ex_elasticlunr_spark.search.wand import wand_topk
from ex_elasticlunr_spark.sources.transcripts import transcripts_df, with_docid


@pytest.fixture(autouse=True)
def _force_two_phase(monkeypatch):
    """Test corpora are far below SINGLE_PHASE_ENTRIES and
    DRIVER_SERVE_BYTES, which would route every query through the
    driver-serve / decode-everything paths and leave the distributed
    seed/threshold/block-pruning machinery untested — force the
    two-phase distributed plan module-wide
    (test_single_phase_matches_two_phase covers the adaptive phase
    choice, TestDriverServe pins driver-serve == distributed)."""
    monkeypatch.setattr(wand_mod, "SINGLE_PHASE_ENTRIES", 0)
    monkeypatch.setattr(wand_mod, "DRIVER_SERVE_BYTES", 0)


class TestCodec:
    def test_roundtrip(self):
        rng = random.Random(7)
        ords = sorted(rng.sample(range(10_000_000), 500))
        tfs = [rng.randint(1, 50) for _ in ords]
        buf = codec.encode_block(ords, tfs)
        assert codec.decode_block(buf) == (ords, tfs)

    def test_roundtrip_base_ord(self):
        buf = codec.encode_block([4096, 4100], [1, 2], base_ord=4096)
        assert codec.decode_block(buf, base_ord=4096) == (
            [4096, 4100], [1, 2])

    def test_compression_wins(self):
        # dense ordinals -> ~2 bytes/entry vs 16 raw
        ords = list(range(100_000, 104_096))
        buf = codec.encode_block(ords, [1] * len(ords))
        assert len(buf) / len(ords) < 3

    def test_vectorized_matches_scalar_reference(self):
        # the numpy block codec must emit byte-identical output to the
        # scalar varint reference (same LEB128 stream)
        rng = random.Random(11)
        for n in (0, 1, 2, 17, 1000):
            base = rng.choice([0, 4096, 1 << 20])
            ords = sorted(rng.sample(range(base, base + 80_000), n))
            tfs = [rng.randint(0, 1 << rng.choice([3, 14, 30])) for _ in range(n)]
            ref = bytearray()
            codec.encode_varint(n, ref)
            prev = base
            for o, t in zip(ords, tfs):
                codec.encode_varint(o - prev, ref)
                codec.encode_varint(t, ref)
                prev = o
            buf = codec.encode_block(ords, tfs, base)
            assert buf == bytes(ref)
            assert codec.decode_block(buf, base) == (ords, tfs)

    def test_varint_edge(self):
        out = bytearray()
        codec.encode_varint(0, out)
        codec.encode_varint(127, out)
        codec.encode_varint(128, out)
        codec.encode_varint(1 << 40, out)
        v0, p = codec.decode_varint(bytes(out), 0)
        v1, p = codec.decode_varint(bytes(out), p)
        v2, p = codec.decode_varint(bytes(out), p)
        v3, p = codec.decode_varint(bytes(out), p)
        assert (v0, v1, v2, v3) == (0, 127, 128, 1 << 40)


@pytest.fixture(scope="module")
def index(spark):
    src = with_docid(transcripts_df(spark, n_convs=60, turns_per_conv=6))
    idx = Index(name="segtx").add_field("text").add_field("tool")
    idx.add_documents(src, docid_col="docid")
    idx.materialize()
    return idx


class TestOrdinals:
    def test_dense_and_sorted(self, spark, index):
        ords = assign_doc_ordinals(index.inverted.docs, partitions=5)
        rows = ords.orderBy("ord").collect()
        assert [r["ord"] for r in rows] == list(range(len(rows)))
        docids = [r["docid"] for r in rows]
        assert docids == sorted(docids)


class TestSegments:
    def test_roundtrip_equals_postings(self, spark, index):
        seg, ords = build_segments(index.inverted, block_size=64)
        decoded = decode_segments(seg, block_size=64)
        back = (
            decoded.join(ords, "ord")
            .select("field", "term", "docid", "tf_raw")
        )
        orig = index.inverted.postings.select(
            "field", "term", "docid", "tf_raw")
        assert back.exceptAll(orig).count() == 0
        assert orig.exceptAll(back).count() == 0

    def test_len_blocks_roundtrip_equals_doc_stats(self, spark, index):
        """The codec-v2 doc_len side table decodes back to exactly the
        per-(field, doc) lengths — one entry per doc, NOT per posting."""
        inv = index.inverted
        _, ords = inv.segments(64)
        lens = build_len_blocks(inv.doc_stats, ords, block_size=64)
        decoded = decode_len_blocks(lens, block_size=64)
        back = sorted(
            (r["field"], r["docid"], r["doc_len"])
            for r in decoded.join(ords, "ord")
            .select("field", "docid", "doc_len").collect()
        )
        want = sorted(
            (r["field"], r["docid"], r["doc_len"])
            for r in inv.doc_stats.select("field", "docid", "doc_len")
            .collect()
        )
        assert back == want
        # block invariants: ords stay inside their block range
        bad = decoded.where(
            (F.col("ord") < 0)).count()
        assert bad == 0

    def test_block_invariants(self, spark, index):
        seg, _ = build_segments(index.inverted, block_size=64)
        bad = seg.where(
            (F.col("n_docs") > 64)
            | (F.col("min_ord") < F.col("block_id") * 64)
            | (F.col("max_ord") >= (F.col("block_id") + 1) * 64)
        )
        assert bad.count() == 0

    def test_hot_term_splits_into_blocks(self, spark, index):
        seg, _ = build_segments(index.inverted, block_size=64)
        hot = seg.where((F.col("field") == "text") & (F.col("term") == "elixir"))
        assert hot.count() > 1  # 360 docs, most contain 'elixir'


QUERIES = [
    ("text", "elixir tool run quick"),
    ("text", "quick fox lazy dog"),
    ("text", "transcript conversation message"),
    ("text", "elixir"),
    ("text", "missing-term-zzz"),
    ("tool", "search bash"),
]


class TestWand:
    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    @pytest.mark.parametrize("qi", range(len(QUERIES)))
    def test_wand_equals_exhaustive(self, spark, index, mode, qi):
        field, text = QUERIES[qi]
        wand = index.search_wand(text, field, top_k=10, mode=mode,
                                 block_size=64)
        got = [(r["docid"], round(r["score"], 9)) for r in wand.collect()]

        terms = index.analyzers[field].to_pipeline().run_terms(text)
        exhaustive = index.search(
            {"query": {"terms": {field: terms}}}, top_k=10, mode=mode)
        want = [(r["docid"], round(r["score"], 9)) for r in exhaustive.collect()]
        assert got == want

    def test_wand_random_queries(self, spark, index):
        rng = random.Random(99)
        vocab = ["elixir", "tool", "run", "index", "search", "merge",
                 "quick", "stream", "varint", "dog", "lorem"]
        for _ in range(5):
            terms = rng.sample(vocab, rng.randint(1, 4))
            wand = wand_topk(index.inverted, "text", terms, k=5,
                             mode="bm25", block_size=64)
            got = [(r["docid"], round(r["score"], 9)) for r in wand.collect()]
            exhaustive = index.search(
                {"query": {"terms": {"text": terms}}}, top_k=5, mode="bm25")
            want = [(r["docid"], round(r["score"], 9))
                    for r in exhaustive.collect()]
            assert got == want, terms

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_single_phase_matches_two_phase(self, spark, index, mode,
                                            monkeypatch):
        """The adaptive single-phase plan (small candidate sets skip the
        seed job and score everything after the coverage prune) must be
        result-identical to the pruned two-phase plan."""
        results = []
        for cutoff in (0, 1 << 30):  # forced two-phase, forced single
            monkeypatch.setattr(wand_mod, "SINGLE_PHASE_ENTRIES", cutoff)
            wand = index.search_wand("elixir tool run quick", "text",
                                     top_k=10, mode=mode, block_size=64)
            results.append([(r["docid"], round(r["score"], 9))
                            for r in wand.collect()])
        assert results[0] == results[1] and results[0]


class TestWandMsm:
    """operator:"and" / minimum_should_match on the fast path
    (match_query.ex:52-60): rank identity vs the exhaustive msm plan."""

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_operator_and_equals_exhaustive(self, spark, index, mode):
        text = "elixir tool run"
        wand = index.search_wand(text, "text", top_k=10, mode=mode,
                                 block_size=64, operator="and")
        got = [(r["docid"], round(r["score"], 9)) for r in wand.collect()]
        want = [(r["docid"], round(r["score"], 9)) for r in index.search(
            {"query": {"match": {"text": {"query": text,
                                          "operator": "and"}}}},
            top_k=10, mode=mode).collect()]
        assert got == want and got

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_random_msm_equals_exhaustive(self, spark, index, mode):
        rng = random.Random(1234)
        vocab = ["elixir", "tool", "run", "index", "search", "merge",
                 "quick", "stream", "dog", "conversation"]
        for _ in range(6):
            terms = rng.sample(vocab, rng.randint(2, 5))
            msm = rng.randint(1, len(terms))
            wand = wand_topk(index.inverted, "text", terms, k=7,
                             mode=mode, block_size=64, msm=msm)
            got = [(r["docid"], round(r["score"], 9))
                   for r in wand.collect()]
            want = [(r["docid"], round(r["score"], 9)) for r in index.search(
                {"query": {"terms": {"text": {
                    "value": terms, "minimum_should_match": msm}}}},
                top_k=7, mode=mode).collect()]
            assert got == want, (terms, msm)

    def test_msm_with_duplicate_terms(self, spark, index):
        # a duplicated query term counts once per occurrence toward msm
        # (one (qt, vocab-term) entry each, field.ex:160-205)
        terms = ["elixir", "elixir", "tool"]
        for msm in (2, 3):
            wand = wand_topk(index.inverted, "text", terms, k=10,
                             mode="bm25", block_size=64, msm=msm)
            got = [(r["docid"], round(r["score"], 9))
                   for r in wand.collect()]
            want = [(r["docid"], round(r["score"], 9)) for r in index.search(
                {"query": {"terms": {"text": {
                    "value": terms, "minimum_should_match": msm}}}},
                top_k=10, mode="bm25").collect()]
            assert got == want, msm

    def test_msm_expand_equals_exhaustive(self, spark, index):
        wand = wand_topk(index.inverted, "text", ["el", "to"], k=10,
                         mode="bm25", block_size=64, expand=True, msm=2)
        got = [(r["docid"], round(r["score"], 9)) for r in wand.collect()]
        want = [(r["docid"], round(r["score"], 9)) for r in index.search(
            {"query": {"terms": {"text": {
                "value": ["el", "to"], "expand": True,
                "minimum_should_match": 2}}}},
            top_k=10, mode="bm25").collect()]
        assert got == want and got

    def test_duplicate_terms_expand_equals_exhaustive(self, spark, index):
        """Duplicated query terms under expansion must keep their
        multiplicity: the resolver used to dedupe them, halving bm25
        weights and under-counting msm vs the exhaustive plan."""
        for msm in (1, 2):
            wand = wand_topk(index.inverted, "text", ["el", "el"], k=10,
                             mode="bm25", block_size=64, expand=True,
                             msm=msm)
            got = [(r["docid"], round(r["score"], 9))
                   for r in wand.collect()]
            want = [(r["docid"], round(r["score"], 9))
                    for r in index.search(
                {"query": {"terms": {"text": {
                    "value": ["el", "el"], "expand": True,
                    "minimum_should_match": msm}}}},
                top_k=10, mode="bm25").collect()]
            assert got == want and got, msm

    def test_unsatisfiable_msm_is_empty(self, spark, index):
        wand = wand_topk(index.inverted, "text", ["elixir"], k=10,
                         mode="bm25", block_size=64, msm=3)
        assert wand.count() == 0


class TestWandMultiField:
    """The string-search sugar on the fast path (index.ex:181-224):
    every indexed field scored in one segments pass, per-field boosts."""

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_string_search_equals_exhaustive(self, spark, index, mode):
        for text in ("elixir tool run quick", "search merge",
                     "transcript", "missing-term-zzz"):
            wand = index.search_wand_text(text, top_k=10, mode=mode,
                                          block_size=64)
            got = [(r["docid"], round(r["score"], 9))
                   for r in wand.collect()]
            want = [(r["docid"], round(r["score"], 9))
                    for r in index.search(text, top_k=10,
                                          mode=mode).collect()]
            assert got == want, (text, mode)

    def test_field_boosts_equal_exhaustive(self, spark, index):
        boosts = {"text": 2.0, "tool": 0.5}
        wand = index.search_wand_text("elixir search", top_k=10,
                                      field_boosts=boosts, block_size=64)
        got = [(r["docid"], round(r["score"], 9)) for r in wand.collect()]
        want = [(r["docid"], round(r["score"], 9)) for r in index.search(
            "elixir search", top_k=10, mode="bm25",
            options={"fields": {f: {"boost": bv}
                                for f, bv in boosts.items()}}).collect()]
        assert got == want and got

    def test_boost_zero_drops_field(self, spark, index):
        boosts = {"text": 1.0, "tool": 0}
        wand = index.search_wand_text("elixir search", top_k=10,
                                      field_boosts=boosts, block_size=64)
        got = [(r["docid"], round(r["score"], 9)) for r in wand.collect()]
        want = [(r["docid"], round(r["score"], 9)) for r in index.search(
            "elixir search", top_k=10, mode="bm25",
            options={"fields": {"text": {"boost": 1.0},
                                "tool": {"boost": 0}}}).collect()]
        assert got == want and got


@pytest.fixture()
def v4_index(spark, tmp_path):
    """A small index saved in the durable layout (fresh per test —
    save() rebinds the object to the written path)."""
    src = with_docid(transcripts_df(spark, n_convs=30, turns_per_conv=5))
    idx = Index(name="v4").add_field("text").add_field("tool")
    idx.add_documents(src, docid_col="docid")
    path = str(tmp_path / "v4")
    idx.inverted.save(path, block_size=64)
    return idx, path


class TestStreamingSegments:
    def test_streaming_equals_decode_roundtrip(self, spark, v4_index):
        """save()'s zero-shuffle segment build over the block-clustered
        layout decodes back to exactly the postings (ord, tf) multiset —
        same invariant as the legacy groupBy builder."""
        _, path = v4_index
        segs = spark.read.parquet(table_path(path, "segments"))
        decoded = decode_segments(segs, 64)
        got = sorted(
            (r["field"], r["term"], r["ord"], r["tf_raw"])
            for r in decoded.collect()
        )
        want = sorted(
            (r["field"], r["term"], r["ord"], r["tf_raw"])
            for r in spark.read.parquet(table_path(path, "postings")).collect()
        )
        assert got == want

    def test_saved_len_blocks_roundtrip(self, spark, v4_index):
        """save() persists the codec-v2 doc_len side table; it decodes
        back to doc_stats' per-(field, doc) lengths."""
        _, path = v4_index
        lens = spark.read.parquet(table_path(path, "seg_lens"))
        decoded = decode_len_blocks(lens, 64)
        ds = spark.read.parquet(table_path(path, "doc_stats"))
        got = sorted(
            (r["field"], r["ord"], r["doc_len"]) for r in decoded.collect())
        want = sorted(
            (r["field"], r["ord"], r["doc_len"])
            for r in ds.where(F.col("ord") >= 0).collect())
        assert got == want

    def test_len_blocks_smaller_than_inline(self, spark, v4_index):
        """The point of codec v2: doc_len bytes scale with docs, not
        postings — the side table must be far smaller than one varint
        per posting entry."""
        _, path = v4_index
        lens_entries = (
            decode_len_blocks(spark.read.parquet(table_path(path, "seg_lens")), 64)
            .count())
        postings_rows = spark.read.parquet(table_path(path, "postings")).count()
        assert lens_entries < postings_rows / 2

    def test_streaming_survives_file_splits(self, spark, v4_index):
        """Partial blocks from split/merged parquet reads stay valid:
        force tiny read partitions and check the decode multiset."""
        from ex_elasticlunr_spark.build.segments import build_segments_streaming

        _, path = v4_index
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
            posts = spark.read.parquet(table_path(path, "postings"))
            segs = build_segments_streaming(posts, 64)
            decoded = decode_segments(segs, 64)
            got = sorted(
                (r["field"], r["term"], r["ord"], r["tf_raw"])
                for r in decoded.collect()
            )
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        want = sorted(
            (r["field"], r["term"], r["ord"], r["tf_raw"])
            for r in spark.read.parquet(table_path(path, "postings")).collect()
        )
        assert got == want

    def test_wand_on_loaded_index_uses_disk_segments(self, spark, v4_index):
        from ex_elasticlunr_spark.build.indexer import InvertedIndex

        idx, path = v4_index
        loaded = InvertedIndex.load(spark, path)
        assert loaded._segments is not None  # no lazy build needed
        assert loaded._seg_lens is not None  # doc_len side table too
        got = wand_topk(loaded, "text", ["elixir", "search"], k=5,
                        mode="bm25", block_size=64)
        want = wand_topk(idx.inverted, "text", ["elixir", "search"], k=5,
                         mode="bm25", block_size=64)
        assert [tuple(r) for r in got.collect()] == \
               [tuple(r) for r in want.collect()]

    def test_details_positions_survive_save(self, spark, v4_index):
        """positions live in the flat table after save; the details path
        must still surface them on the REBOUND and the RELOADED index."""
        idx, path = v4_index
        q = {"query": {"terms": {"text": {"value": "elixir"}}}}
        rows = idx.search(q, include_details=True).collect()
        assert rows and all(r["positions"]["text"] for r in rows)
        loaded = Index.load(spark, path)
        rows2 = loaded.search(q, include_details=True).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


class TestDriverServe:
    """The byte-capped driver-serve fast path (search/wand.py
    _serve_from_driver: one payload collect + in-process codec decode +
    clause algebra + one docid resolve) must be rank- AND
    score-identical to the distributed plan it replaces, in every query
    shape it can serve."""

    @pytest.fixture()
    def spy(self, monkeypatch):
        """Enable driver serving (the module autouse fixture disables
        it) and record whether it actually served each query."""
        monkeypatch.setattr(wand_mod, "DRIVER_SERVE_BYTES", 8 << 20)
        calls = {"served": None}
        orig = wand_mod._serve_from_driver

        def wrapper(*a, **kw):
            out = orig(*a, **kw)
            calls["served"] = out is not None
            return out

        monkeypatch.setattr(wand_mod, "_serve_from_driver", wrapper)
        return calls

    def _both(self, monkeypatch, spy, run):
        got = [(r["docid"], round(r["score"], 9)) for r in run().collect()]
        assert spy["served"] is True  # the fast path really served it
        monkeypatch.setattr(wand_mod, "DRIVER_SERVE_BYTES", 0)
        want = [(r["docid"], round(r["score"], 9)) for r in run().collect()]
        monkeypatch.setattr(wand_mod, "DRIVER_SERVE_BYTES", 8 << 20)
        assert got == want
        return got

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    @pytest.mark.parametrize("qi", range(len(QUERIES)))
    def test_driver_equals_distributed(self, spark, index, mode, qi,
                                       monkeypatch, spy):
        field, text = QUERIES[qi]
        terms = index.analyzers[field].to_pipeline().run_terms(text)
        if not any(t for t in terms):
            pytest.skip("no resolvable terms")
        got = self._both(monkeypatch, spy, lambda: index.search_wand(
            text, field, top_k=10, mode=mode, block_size=64))
        if text != "missing-term-zzz":
            assert got

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_driver_msm_and(self, spark, index, mode, monkeypatch, spy):
        self._both(monkeypatch, spy, lambda: index.search_wand(
            "elixir tool run", "text", top_k=10, mode=mode,
            operator="and", block_size=64))
        self._both(monkeypatch, spy, lambda: index.search_wand(
            "elixir tool run quick", "text", top_k=10, mode=mode,
            minimum_should_match=2, block_size=64))

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_driver_multi_field(self, spark, index, mode, monkeypatch,
                                spy):
        got = self._both(monkeypatch, spy, lambda: index.search_wand_text(
            "elixir search bash", top_k=10, mode=mode, block_size=64))
        assert got

    def test_driver_with_tombstones(self, spark, tmp_path, monkeypatch,
                                    spy):
        src = with_docid(transcripts_df(spark, n_convs=20,
                                        turns_per_conv=5))
        idx = Index(name="dsrv").add_field("text")
        idx.add_documents(src, docid_col="docid")
        path = str(tmp_path / "dsrv")
        idx.inverted.save(path, block_size=64)
        loaded = Index.load(spark, path)
        gone = loaded.search_bm25("elixir", top_k=3).collect()
        assert gone
        loaded.remove_documents(
            spark.createDataFrame([(r["docid"],) for r in gone],
                                  "docid string"))
        loaded.inverted.save_delta()
        re = Index.load(spark, path)
        got = self._both(monkeypatch, spy, lambda: re.search_wand(
            "elixir tool", "text", top_k=10, block_size=64))
        gone_ids = {r["docid"] for r in gone}
        assert not gone_ids & {d for d, _ in got}

    def test_oversize_falls_back(self, spark, index, monkeypatch, spy):
        """A payload set over the byte cap must fall through to the
        distributed plan (spy sees served=False) and stay correct."""
        monkeypatch.setattr(wand_mod, "DRIVER_SERVE_BYTES", 1)
        wand = index.search_wand("elixir tool", "text", top_k=5,
                                 mode="bm25", block_size=64)
        got = [(r["docid"], round(r["score"], 9)) for r in wand.collect()]
        assert spy["served"] is False
        want = [(r["docid"], round(r["score"], 9)) for r in index.search(
            {"query": {"terms": {"text": ["elixir", "tool"]}}},
            top_k=5, mode="bm25").collect()]
        assert got == want and got


class TestLazyLenRebuildTombstones:
    """A warehouse where a generation predates the codec-v2 seg_lens
    table forces bind_generations to drop to the lazy doc_stats len
    rebuild — which only covers LIVE docs, while posting payloads keep
    tombstoned ords until compact(). The decode must tolerate the
    missing entries (placeholders, filtered by the tombstone anti-join
    downstream), not crash."""

    def test_decode_tolerates_missing_and_null_len_entries(self, spark):
        from ex_elasticlunr_spark.build.segments import (
            decode_segments_with_lens)

        post = codec.encode_block([0, 3, 7], [2, 1, 5], 0)
        # len block misses ord 3 (tombstoned) entirely
        lens = codec.encode_block([0, 7], [11, 13], 0)
        rows = [
            ("text", "a", 0, bytearray(post), bytearray(lens)),
            ("text", "b", 0, bytearray(post), None),  # fully-dead block
        ]
        df = spark.createDataFrame(
            rows, "field string, term string, block_id long, "
                  "payload binary, len_payload binary")
        got = {(r["term"], r["ord"]): r["doc_len"]
               for r in decode_segments_with_lens(df, 64).collect()}
        assert got == {("a", 0): 11, ("a", 3): 1, ("a", 7): 13,
                       ("b", 0): 1, ("b", 3): 1, ("b", 7): 1}

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_wand_on_lazy_len_rebuild_equals_exhaustive(
            self, spark, tmp_path, monkeypatch, mode):
        monkeypatch.setattr(wand_mod, "SINGLE_PHASE_ENTRIES", 0)
        monkeypatch.setattr(wand_mod, "DRIVER_SERVE_BYTES", 0)
        src = with_docid(transcripts_df(spark, n_convs=20,
                                        turns_per_conv=5))
        idx = Index(name="lazylen").add_field("text")
        idx.add_documents(src, docid_col="docid")
        path = str(tmp_path / "lazylen")
        idx.inverted.save(path, block_size=64)
        loaded = Index.load(spark, path)
        gone = loaded.search_bm25("elixir", top_k=5).collect()
        assert gone
        loaded.remove_documents(
            spark.createDataFrame([(r["docid"],) for r in gone],
                                  "docid string"))
        loaded.inverted.save_delta()
        re = Index.load(spark, path)
        # simulate the pre-seg_lens generation: throw the bound len
        # union away so seg_len_blocks() lazily rebuilds from the
        # tombstone-filtered doc_stats
        if re.inverted._seg_lens is not None:
            re.inverted._seg_lens.unpersist()
        re.inverted._seg_lens = None
        wand = re.search_wand("elixir tool", "text", top_k=10,
                              mode=mode, block_size=64)
        got = [(r["docid"], round(r["score"], 9)) for r in wand.collect()]
        want = [(r["docid"], round(r["score"], 9)) for r in re.search(
            {"query": {"terms": {"text": ["elixir", "tool"]}}},
            top_k=10, mode=mode).collect()]
        assert got == want and got
        gone_ids = {r["docid"] for r in gone}
        assert not gone_ids & {d for d, _ in got}


class TestWandRequired:
    """bool(must, should*) on the fast path: the must clause is a
    REQUIRED WandClause (gates qualification, outside the msm count —
    the executor's bool algebra where base docs enter the should union
    with matched=0, dsl/executor.py _compile_bool). Rank identity vs
    the exhaustive executor, with routing disabled on the exhaustive
    side so the comparison can never be WAND-vs-WAND."""

    def _exhaustive(self, index, q, mode, monkeypatch, k=10):
        with monkeypatch.context() as m:
            m.setattr(Index, "_route_wand", lambda *a, **k: None)
            return [(r["docid"], round(r["score"], 9))
                    for r in index.search(q, top_k=k, mode=mode).collect()]

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_must_plus_should_equals_exhaustive(self, spark, index, mode,
                                                monkeypatch):
        from ex_elasticlunr_spark.search.wand import (
            resolve_clause,
            wand_topk_multi,
        )

        inv = index.inverted
        clauses = [
            resolve_clause(inv, "text", ["elixir"], required=True),
            resolve_clause(inv, "tool", ["search"]),
            resolve_clause(inv, "text", ["merg"]),
        ]
        got = [(r["docid"], round(r["score"], 9))
               for r in wand_topk_multi(inv, clauses, k=10, mode=mode,
                                        msm=1, block_size=64).collect()]
        q = {"query": {"bool": {
            "must": {"terms": {"text": "elixir"}},
            "should": [{"terms": {"tool": "search"}},
                       {"terms": {"text": "merg"}}]}}}
        assert got == self._exhaustive(index, q, mode, monkeypatch)
        assert got

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_must_only_equals_exhaustive(self, spark, index, mode,
                                         monkeypatch):
        from ex_elasticlunr_spark.search.wand import (
            resolve_clause,
            wand_topk_multi,
        )

        inv = index.inverted
        clauses = [resolve_clause(inv, "text", ["elixir", "tool"],
                                  required=True)]
        # must without should: effective_msm = 0
        got = [(r["docid"], round(r["score"], 9))
               for r in wand_topk_multi(inv, clauses, k=10, mode=mode,
                                        msm=0, block_size=64).collect()]
        q = {"query": {"bool": {"must": {"terms": {"text": ["elixir",
                                                            "tool"]}}}}}
        assert got == self._exhaustive(index, q, mode, monkeypatch)
        assert got

    def test_unresolvable_must_is_empty(self, spark, index):
        from ex_elasticlunr_spark.search.wand import (
            WandClause,
            wand_topk_multi,
        )

        clauses = [WandClause(field="text", terms={"zzzmissing": 1},
                              required=True),
                   WandClause(field="text", terms={"elixir": 1})]
        assert wand_topk_multi(index.inverted, clauses, k=10,
                               mode="bm25", msm=0,
                               block_size=64).count() == 0

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_random_bool_equals_exhaustive(self, spark, index, mode,
                                           monkeypatch):
        from ex_elasticlunr_spark.search.wand import (
            resolve_clause,
            wand_topk_multi,
        )

        rng = random.Random(0xB001 + (0 if mode == "bm25" else 1))
        vocab = ["elixir", "tool", "run", "index", "search", "merg",
                 "quick", "stream", "dog", "convers", "transcript"]
        inv = index.inverted
        for _ in range(6):
            n_should = rng.randint(1, 3)
            fields = [rng.choice(["text", "tool"])
                      for _ in range(1 + n_should)]
            must_terms = rng.sample(vocab, rng.randint(1, 3))
            shoulds = [rng.sample(vocab, rng.randint(1, 2))
                       for _ in range(n_should)]
            boosts = [rng.choice([1.0, 2.0, 0.5])
                      for _ in range(1 + n_should)]
            msm = rng.randint(1, n_should)
            clauses = [resolve_clause(inv, fields[0], must_terms,
                                      boost=boosts[0], required=True)]
            clauses += [
                resolve_clause(inv, fields[1 + i], shoulds[i],
                               boost=boosts[1 + i])
                for i in range(n_should)
            ]
            got = [(r["docid"], round(r["score"], 9))
                   for r in wand_topk_multi(inv, clauses, k=8, mode=mode,
                                            msm=msm,
                                            block_size=64).collect()]
            q = {"query": {"bool": {
                "must": {"terms": {fields[0]: {
                    "value": must_terms, "boost": boosts[0]}}},
                "should": [{"terms": {fields[1 + i]: {
                    "value": shoulds[i], "boost": boosts[1 + i]}}}
                    for i in range(n_should)],
                "minimum_should_match": msm}}}
            want = self._exhaustive(index, q, mode, monkeypatch, k=8)
            assert got == want, q


class TestWandNegative:
    """must_not alongside must on the fast path: a NEGATIVE clause —
    pure exclusion, no score, exempt from threshold pruning (a pruned
    negative block would fail to exclude a doc it should). Identity vs
    the exhaustive executor with routing disabled on the want side."""

    def _exhaustive(self, index, q, mode, monkeypatch, k=10):
        with monkeypatch.context() as m:
            m.setattr(Index, "_route_wand", lambda *a, **k: None)
            return [(r["docid"], round(r["score"], 9))
                    for r in index.search(q, top_k=k, mode=mode).collect()]

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_must_not_equals_exhaustive(self, spark, index, mode,
                                        monkeypatch):
        from ex_elasticlunr_spark.search.wand import (
            resolve_clause,
            wand_topk_multi,
        )

        inv = index.inverted
        clauses = [
            resolve_clause(inv, "text", ["elixir"], required=True),
            resolve_clause(inv, "text", ["dog"], negative=True),
            resolve_clause(inv, "tool", ["search"]),
        ]
        got = [(r["docid"], round(r["score"], 9))
               for r in wand_topk_multi(inv, clauses, k=10, mode=mode,
                                        msm=1, block_size=64).collect()]
        q = {"query": {"bool": {
            "must": {"terms": {"text": "elixir"}},
            "must_not": {"terms": {"text": "dog"}},
            "should": [{"terms": {"tool": "search"}}]}}}
        assert got == self._exhaustive(index, q, mode, monkeypatch)
        assert got

    def test_negative_without_required_raises(self, spark, index):
        from ex_elasticlunr_spark.search.wand import (
            WandClause,
            wand_topk_multi,
        )

        with pytest.raises(ValueError):
            wand_topk_multi(index.inverted, [
                WandClause(field="text", terms={"elixir": 1}),
                WandClause(field="text", terms={"dog": 1}, negative=True),
            ], k=10, mode="bm25", msm=1, block_size=64)

    def test_unresolvable_must_not_excludes_nothing(self, spark, index,
                                                    monkeypatch):
        from ex_elasticlunr_spark.search.wand import (
            resolve_clause,
            wand_topk_multi,
        )

        inv = index.inverted
        clauses = [resolve_clause(inv, "text", ["elixir"], required=True),
                   resolve_clause(inv, "text", ["zzzmissing"],
                                  negative=True)]
        got = [(r["docid"], round(r["score"], 9))
               for r in wand_topk_multi(inv, clauses, k=10, mode="bm25",
                                        msm=0, block_size=64).collect()]
        q = {"query": {"bool": {"must": {"terms": {"text": "elixir"}},
                                "must_not": {"terms": {"text":
                                                       "zzzmissing"}}}}}
        assert got == self._exhaustive(index, q, "bm25", monkeypatch)
        assert got

    @pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
    def test_random_must_not_equals_exhaustive(self, spark, index, mode,
                                               monkeypatch):
        from ex_elasticlunr_spark.search.wand import (
            resolve_clause,
            wand_topk_multi,
        )

        rng = random.Random(0xD0D0 + (0 if mode == "bm25" else 1))
        vocab = ["elixir", "tool", "run", "index", "search", "merg",
                 "quick", "stream", "dog", "convers", "transcript"]
        inv = index.inverted
        for _ in range(6):
            n_should = rng.randint(0, 2)
            must_terms = rng.sample(vocab, rng.randint(1, 3))
            not_terms = rng.sample(vocab, rng.randint(1, 2))
            not_field = rng.choice(["text", "tool"])
            shoulds = [rng.sample(vocab, rng.randint(1, 2))
                       for _ in range(n_should)]
            msm = rng.randint(1, n_should) if n_should else 0
            clauses = [resolve_clause(inv, "text", must_terms,
                                      required=True),
                       resolve_clause(inv, not_field, not_terms,
                                      negative=True)]
            clauses += [resolve_clause(inv, rng.choice(["text", "tool"]),
                                       s) for s in shoulds]
            got = [(r["docid"], round(r["score"], 9))
                   for r in wand_topk_multi(inv, clauses, k=8, mode=mode,
                                            msm=msm,
                                            block_size=64).collect()]
            node = {"must": {"terms": {"text": must_terms}},
                    "must_not": {"terms": {not_field: not_terms}}}
            if n_should:
                node["should"] = [
                    {"terms": {c.field: list(c.terms)}}
                    for c in clauses[2:]
                ]
                node["minimum_should_match"] = msm
            q = {"query": {"bool": node}}
            want = self._exhaustive(index, q, mode, monkeypatch, k=8)
            assert got == want, q


def test_streaming_builder_bounded_across_arrow_batches(spark):
    """A term run spanning many Arrow batches must decode to the exact
    posting multiset (the per-batch prefix flush emits complete blocks
    and keeps only the tail block pending), and no complete block may
    be emitted twice."""
    from pyspark.sql import functions as F

    from ex_elasticlunr_spark.build.segments import (
        build_segments_streaming,
        decode_segments,
    )

    # one hot term with 5k contiguous ords in ONE partition; tiny Arrow
    # batches force the run across ~50 chunk boundaries
    posts = (spark.range(5000).select(
        F.lit("text").alias("field"), F.lit("hot").alias("term"),
        F.col("id").cast("long").alias("ord"),
        (F.col("id") % 7 + 1).cast("long").alias("tf_raw"))
        .coalesce(1))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
        segs = build_segments_streaming(posts, 64).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # every block unique and complete except possibly the last
    by_block = {}
    for r in segs:
        assert r["block_id"] not in by_block, "duplicate block emitted"
        by_block[r["block_id"]] = r["n_docs"]
    assert sum(by_block.values()) == 5000
    full = [b for b, n in sorted(by_block.items())[:-1]]
    assert all(by_block[b] == 64 for b in full)
    decoded = decode_segments(
        spark.createDataFrame(
            [(r["field"], r["term"], r["block_id"], r["payload"])
             for r in segs],
            "field string, term string, block_id long, payload binary"),
        64)
    got = sorted((r["ord"], r["tf_raw"]) for r in decoded.collect())
    assert got == [(i, i % 7 + 1) for i in range(5000)]
