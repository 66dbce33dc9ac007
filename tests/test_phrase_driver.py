"""Driver-serve phrase fast path (scorer._phrase_per_doc_driver):
identity with the distributed plan.

The driver path collects the query terms' position rows once (pushed
In(term) scan, row-capped), computes the INTEGER hit statistics
(pf, pdf, doc_len) with vectorized numpy adjacency, and feeds them
into the SAME Spark scoring expressions the distributed plan uses —
so scores must be EXACTLY equal (==, not approx) between the paths,
in both scoring modes, under bool composition (restrict), on fresh
(docid-keyed) and loaded (ord-keyed) indexes, and across the cap
fallbacks.
"""

import random

import pytest

from ex_elasticlunr_spark import Index
from ex_elasticlunr_spark.search import scorer

DOCS = [
    ("1", "the quick brown fox", "alpha"),
    ("2", "quick fox runs fast", "alpha"),
    ("3", "fox quick", "beta"),
    ("4", "quick fox quick fox", "beta"),
    ("5", "quick quick fox", "beta"),
    ("6", "slow red fox naps", "beta"),
    ("7", "quick fox quick brown fox jumps", "alpha"),
]

QUERIES = [
    {"query": {"match_phrase": {"content": "quick fox"}}},
    {"query": {"match_phrase": {"content": "quick fox quick"}}},
    {"query": {"match_phrase": {"content": "red fox"}}},
    {"query": {"match_phrase": {"content": "missing phrase"}}},
    # restrict path: phrase as a should past a filter base
    {"query": {"bool": {
        "filter": [{"terms": {"content": "fast"}}],
        "should": [{"match_phrase": {"content": "quick fox"}}]}}},
    # phrase as a must (required clause drives restrict forwarding)
    {"query": {"bool": {
        "must": {"match_phrase": {"content": "quick fox"}},
        "should": [{"terms": {"tag": "beta"}}]}}},
]


@pytest.fixture(scope="module")
def idx(spark):
    sdf = spark.createDataFrame(DOCS, "id string, content string, tag string")
    ix = Index(name="phrase_driver").add_field("content").add_field("tag")
    ix.add_documents(sdf, docid_col="id")
    ix.materialize()
    return ix


@pytest.fixture(scope="module")
def loaded(idx, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pd") / "idx")
    idx.save(path)
    return Index.load(spark, path)


def _rows(df):
    return {r["docid"]: r["score"] for r in df.collect()}


def _both(ix, query, **kw):
    served = _rows(ix.search(query, **kw))
    old = scorer.PHRASE_DRIVER_MAX_ROWS
    scorer.PHRASE_DRIVER_MAX_ROWS = 0
    try:
        dist = _rows(ix.search(query, **kw))
    finally:
        scorer.PHRASE_DRIVER_MAX_ROWS = old
    return served, dist


@pytest.mark.parametrize("qi", range(len(QUERIES)))
@pytest.mark.parametrize("mode", ["elasticlunr", "bm25"])
def test_identity_fresh(idx, qi, mode):
    served, dist = _both(idx, QUERIES[qi], mode=mode)
    assert served == dist  # bit-identical scores, same doc set


@pytest.mark.parametrize("qi", [0, 4, 5])
@pytest.mark.parametrize("mode", ["elasticlunr", "bm25"])
def test_identity_loaded_ord_keyed(loaded, qi, mode):
    served, dist = _both(loaded, QUERIES[qi], mode=mode)
    assert served == dist


def test_doc_cap_falls_back(idx):
    """Over-cap per-doc sets fall back mid-function (after the collect)
    to the distributed plan — same results."""
    q = QUERIES[0]
    want = _rows(idx.search(q))
    old = scorer.PHRASE_DRIVER_MAX_DOCS
    scorer.PHRASE_DRIVER_MAX_DOCS = 0
    try:
        assert _rows(idx.search(q)) == want
    finally:
        scorer.PHRASE_DRIVER_MAX_DOCS = old


def test_details_keeps_distributed_path(idx):
    """with_details needs per-occurrence positions — it must keep the
    distributed plan (and still agree on the matched docs/scores)."""
    got = {r["docid"]: r for r in idx.search(
        QUERIES[0], include_details=True).collect()}
    plain = _rows(idx.search(QUERIES[0]))
    assert set(got) == set(plain)
    for d, r in got.items():
        assert r["score"] == plain[d]
        assert r["positions"]["content"]  # positions present


# ---------------------------------------------------------------------------
# Randomized referee: served == distributed on a seeded-random corpus and
# phrases (the fixture above covers hand-picked shapes; identity bugs in
# the adjacency algebra — duplicate query terms, overlapping bases,
# partial matches, vocabulary-absent terms — hide in the random space).

SEED = 0x9A3E


@pytest.fixture(scope="module")
def rand_idx(spark):
    from ex_elasticlunr_spark.sources.transcripts import (
        transcripts_df,
        with_docid,
    )

    src = with_docid(transcripts_df(spark, n_convs=30, turns_per_conv=5,
                                    seed=SEED))
    ix = Index(name="phrase_rand").add_field("text")
    ix.add_documents(src, docid_col="docid")
    ix.materialize()
    texts = [r["text"] for r in src.select("text").collect()]
    return ix, texts


def _rand_phrases(texts, n=24):
    rng = random.Random(SEED)
    phrases = []
    for _ in range(n):
        kind = rng.random()
        toks = rng.choice(texts).split()
        if not toks:
            continue
        if kind < 0.55:  # real adjacent n-gram -> likely hits
            k = rng.randint(2, min(4, len(toks)))
            i = rng.randrange(0, len(toks) - k + 1)
            phrases.append(" ".join(toks[i:i + k]))
        elif kind < 0.8:  # shuffled words -> partial/overlap misses
            k = rng.randint(2, min(3, len(toks)))
            phrases.append(" ".join(rng.sample(toks, k)))
        elif kind < 0.9:  # duplicate-term phrase (qi multiplicity)
            w = rng.choice(toks)
            phrases.append(f"{w} {w}")
        else:  # vocabulary-absent term
            phrases.append(f"{rng.choice(toks)} zqxv{rng.randrange(99)}")
    return phrases


def test_random_phrases_identity(rand_idx):
    ix, texts = rand_idx
    served_calls = {"n": 0}
    orig = scorer._phrase_per_doc_driver

    def spy(*a, **kw):
        out = orig(*a, **kw)
        if out[0] == "served":
            served_calls["n"] += 1
        return out

    scorer._phrase_per_doc_driver = spy
    try:
        for mode in ("elasticlunr", "bm25"):
            for p in _rand_phrases(texts):
                q = {"query": {"match_phrase": {"text": p}}}
                served, dist = _both(ix, q, mode=mode)
                assert served == dist, (p, mode)
    finally:
        scorer._phrase_per_doc_driver = orig
    # the referee is vacuous if every query fell back to the
    # distributed plan — the small corpus must serve driver-side
    assert served_calls["n"] > 20


def test_random_phrases_hot_term_paths(rand_idx):
    """HOT-TERM routing referee: with the row cap squeezed so every
    multi-term phrase's df sum overflows it, the driver path must
    re-gate on the CONJUNCTIVE candidate set (docs containing all
    terms) and still serve — or hand the candidate relation to the
    distributed plan as a semi-join prune. Either way results must be
    bit-identical to the unpruned distributed reference, across real
    n-grams, shuffled misses, duplicate-term phrases, and
    vocabulary-absent terms."""
    ix, texts = rand_idx
    outcomes = {"served": 0, "distributed": 0}
    orig = scorer._phrase_per_doc_driver

    def spy(*a, **kw):
        out = orig(*a, **kw)
        outcomes[out[0]] += 1
        return out

    scorer._phrase_per_doc_driver = spy
    old = scorer.PHRASE_DRIVER_MAX_ROWS
    # small enough that hot (frequent) terms overflow the df-sum gate
    # and exercise the conjunctive re-gate; large enough that genuine
    # conjunctions still fit and serve driver-side
    scorer.PHRASE_DRIVER_MAX_ROWS = 8
    try:
        for p in _rand_phrases(texts):
            q = {"query": {"match_phrase": {"text": p}}}
            served = _rows(ix.search(q))
            scorer.PHRASE_DRIVER_MAX_ROWS = 0
            try:
                dist = _rows(ix.search(q))
            finally:
                scorer.PHRASE_DRIVER_MAX_ROWS = 8
            assert served == dist, p
    finally:
        scorer.PHRASE_DRIVER_MAX_ROWS = old
        scorer._phrase_per_doc_driver = orig
    # the referee must have exercised BOTH hot outcomes: conjunctive
    # re-gate serves, and over-cap hand-off to the pruned distributed
    # plan (cap=8 with one-row-per-(term,doc) guarantees both occur on
    # this corpus)
    assert outcomes["served"] > 0 and outcomes["distributed"] > 0


def test_driver_max_rows_option_no_global_write(loaded):
    """VERDICT r5 ask #2: the serve cap rides the query options; the
    squeezed cap forces the non-driver route without mutating
    scorer.PHRASE_DRIVER_MAX_ROWS, and results are cap-independent."""
    import ex_elasticlunr_spark.search.scorer as sc

    idx = loaded
    before = sc.PHRASE_DRIVER_MAX_ROWS
    q_default = {"query": {"match_phrase": {"content": "quick fox"}}}
    q_capped = {"query": {"match_phrase": {
        "content": {"query": "quick fox", "driver_max_rows": 1}}}}
    a = sorted((r["docid"], round(r["score"], 9))
               for r in idx.search(q_default, top_k=50).collect())
    b = sorted((r["docid"], round(r["score"], 9))
               for r in idx.search(q_capped, top_k=50).collect())
    assert a == b and a
    assert sc.PHRASE_DRIVER_MAX_ROWS == before  # no global mutation


@pytest.fixture(scope="module")
def rand_loaded(rand_idx, spark, tmp_path_factory):
    ix, texts = rand_idx
    path = str(tmp_path_factory.mktemp("pr") / "idx")
    ix.save(path)
    return Index.load(spark, path), texts


def test_topk_route_identity(rand_loaded, loaded):
    """A top-level phrase with a finite top_k on a loaded index is
    scored on the driver (scorer.phrase_topk): its ranked rows equal the
    distributed plan's exactly (==), in both modes, boosted or not."""
    ix, texts = rand_loaded
    served = {"n": 0}
    orig = scorer.phrase_topk

    def spy(*a, **kw):
        out = orig(*a, **kw)
        served["n"] += out is not None
        return out

    cases = [(ix, {"query": {"match_phrase": {"text": p}}})
             for p in _rand_phrases(texts, n=12)]
    cases += [(loaded, QUERIES[i]) for i in range(4)]
    cases.append((loaded, {"query": {"match_phrase": {"content": {
        "query": "quick fox", "boost": 2.5}}}}))
    scorer.phrase_topk = spy
    try:
        for mode in ("elasticlunr", "bm25"):
            for ixx, q in cases:
                got = [(r["docid"], r["score"])
                       for r in ixx.search(q, top_k=3, mode=mode).collect()]
                old = scorer.PHRASE_DRIVER_MAX_ROWS
                scorer.PHRASE_DRIVER_MAX_ROWS = 0
                try:
                    want = [(r["docid"], r["score"]) for r in ixx.search(
                        q, top_k=3, mode=mode).collect()]
                finally:
                    scorer.PHRASE_DRIVER_MAX_ROWS = old
                assert got == want, (q, mode)
    finally:
        scorer.phrase_topk = orig
    assert served["n"] >= len(cases)
