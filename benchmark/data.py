"""Seeded inputs: a transcript corpus with a Zipf vocabulary, delta
batches for the ingest writer, and the query stream.

The program under test only ever sees what these functions produce: the
corpus as parquet files in the ``input_hint`` schema, and query dicts.
Everything is a pure function of the workload seed, so one seed always
gives the same inputs.

Why Zipf: with a flat or tiny vocabulary every term is hot, so posting-
list length, block-max WAND pruning and the driver-side term caches make
no difference. Real transcripts have a few very frequent words (mostly
stopwords) and a long tail of rare ones; this generator reproduces that
skew over tens of thousands of pseudo-words.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

# Corpus shape. 8,000 turns span two 4096-ordinal posting blocks
# (build.segments.DEFAULT_BLOCK_SIZE), so hot terms cover more than one
# block and the block-coverage prune of search_wand has a block to drop.
# The size is capped by the run-time budget: 48 runs, each with a full
# build, must fit in under an hour on a 4-core machine, and at 16,000
# turns they took about 94% of it (see README.md).
N_CONVS = 1000
TURNS_PER_CONV = 8
VOCAB_SIZE = 30_000
# Zipf exponent of the word-rank law. Word frequencies in English text
# follow a rank law with exponent close to 1 (Zipf 1935; Piantadosi,
# "Zipf's word frequency law in natural language", Psychon. Bull. Rev.
# 2014); 1.07 is an assumed value in that range, not fitted to a trace.
ZIPF_S = 1.07
DELTA_CONVS = 2           # conversations added by the ingest commit
REMOVALS = 2              # base turns tombstoned by the ingest commit

# The Zipf head: frequent English function words, most of which the
# default analyzer drops, as in real conversation text.
HEAD_WORDS = ["the", "to", "and", "a", "of", "i", "you", "is", "it", "in",
              "that", "for", "this", "on", "with", "be", "we", "can",
              "not", "have", "do", "if", "what", "so"]
ROLES = ["user", "assistant", "tool"]
TOOLS = ["", "search", "bash", "browser", "python", "sql"]
# (mu, sigma) of the lognormal word count per role: short user turns,
# longer assistant and tool turns (medians 10, 37 and 20 words). Assumed
# shapes, not measured on a transcript trace.
TURN_LEN = {"user": (2.3, 0.6), "assistant": (3.6, 0.5), "tool": (3.0, 0.7)}
EPOCH = dt.datetime(2026, 1, 1)

CORPUS_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us")),
])

_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
# marker tokens use letters the pseudo-words never contain, and end in
# "qx" so no stemmer suffix rule applies: each marker is one unique term
_MARKER_LETTERS = "cjhwy"


def pseudo_words(n: int = VOCAB_SIZE) -> List[str]:
    """``n`` distinct pronounceable pseudo-words; the same list for every
    seed, so rank ``r`` is always the same word."""
    rng = random.Random(0x5EED)
    seen, out = set(HEAD_WORDS), []
    while len(out) < n:
        w = "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS)
                    for _ in range(rng.randint(2, 4)))
        if rng.random() < 0.3:
            w += rng.choice(_CONSONANTS)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_cum(n: int) -> List[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S
                                     for r in range(n)))


class Vocabulary:
    """Ranked word list with cumulative Zipf weights for fast draws."""

    def __init__(self):
        self.content = pseudo_words()
        self.words = HEAD_WORDS + self.content
        self._cum = _zipf_cum(len(self.words))
        self._content_cum = _zipf_cum(len(self.content))

    def text_words(self, rng: random.Random, k: int) -> List[str]:
        return rng.choices(self.words, cum_weights=self._cum, k=k)

    def query_words(self, rng: random.Random, k: int) -> List[str]:
        """``k`` distinct content words (no function words), Zipf-drawn."""
        out: List[str] = []
        while len(out) < k:
            w = rng.choices(self.content, cum_weights=self._content_cum)[0]
            if w not in out:
                out.append(w)
        return out


def marker(seed: int, k: int) -> str:
    """A token that occurs in exactly one turn of the run's data."""
    digits, n = [], seed * 1000 + k
    while True:
        n, d = divmod(n, len(_MARKER_LETTERS))
        digits.append(_MARKER_LETTERS[d])
        if not n:
            break
    return "qx" + "".join(digits) + "qx"


def _turn_text(rng: random.Random, vocab: Vocabulary, role: str) -> str:
    mu, sigma = TURN_LEN[role]
    n = max(1, min(200, int(rng.lognormvariate(mu, sigma))))
    words = vocab.text_words(rng, n)
    out = []
    sentence_start = True
    for w in words:
        if sentence_start:
            w = w.capitalize()
        r = rng.random()
        sentence_start = r < 0.06
        out.append(w + "." if sentence_start else w + "," if r < 0.1 else w)
    return " ".join(out)


def conversations(seed: int, vocab: Vocabulary, prefix: str, n_convs: int,
                  marker_token: str, t0: int = 0) -> Dict[str, list]:
    """Column dict of ``n_convs`` conversations; the last turn carries
    ``marker_token``."""
    rng = random.Random(f"{seed}:{prefix}")
    cols: Dict[str, list] = {f.name: [] for f in CORPUS_SCHEMA}
    g = t0
    for c in range(n_convs):
        for t in range(TURNS_PER_CONV):
            role = ROLES[t % 3]
            cols["conv_id"].append(f"{prefix}{c:05d}")
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(_turn_text(rng, vocab, role))
            cols["tool"].append(rng.choice(TOOLS) if role != "user" else "")
            cols["ts"].append(EPOCH + dt.timedelta(seconds=30 * g))
            g += 1
    cols["text"][-1] += " " + marker_token
    return cols


def base_corpus(seed: int, vocab: Vocabulary) -> Dict[str, list]:
    return conversations(seed, vocab, "c", N_CONVS, marker(seed, 0))


def delta_batch(seed: int, vocab: Vocabulary) -> Dict[str, list]:
    """The ingest commit's new conversations, with marker 1."""
    return conversations(seed, vocab, "d", DELTA_CONVS, marker(seed, 1),
                         t0=N_CONVS * TURNS_PER_CONV)


def removals(seed: int, base_docids: List[str]) -> List[str]:
    """The ingest commit's tombstones: base turns other than the one
    carrying the base marker (the last turn)."""
    rng = random.Random(f"{seed}:rm")
    return rng.sample(base_docids[:-1], REMOVALS)


def docids(cols: Dict[str, list]) -> List[str]:
    return [f"{c}:{t}" for c, t in zip(cols["conv_id"], cols["turn_idx"])]


def write_parquet(cols: Dict[str, list], path: str) -> int:
    """Write ``cols`` as one parquet file; returns the text bytes."""
    pq.write_table(pa.table(cols, schema=CORPUS_SCHEMA), path)
    return sum(len(t.encode()) for t in cols["text"])


# -- query stream ---------------------------------------------------------

# The query classes are the ones the engine's DSL and batch API serve,
# in equal shares; the share of bm25 vs elasticlunr mode (half each), the
# repeat rate and the batch size are likewise assumptions, not taken
# from query logs (the repository holds none).
CLASSES = ["term", "or", "and", "bool", "phrase", "fuzzy", "prefix", "many"]
MANY_BATCH = 8
REPEAT_EVERY = 5  # every 5th query re-issues an earlier one (popular repeat)


class QueryStream:
    """Seeded, endless stream of query dicts for one client.

    Fresh queries follow rounds: a round is the classes in a seeded
    order, drawn the same way for every client of a run, and of ``n``
    clients client ``c`` takes the ``c``-th ``1/n`` share of each round.
    So every round's worth of fresh queries across the clients holds each
    class once, and a run's class mix does not depend on the seed. Query
    ``i`` with ``i % REPEAT_EVERY == 2`` instead repeats an earlier query
    of this client (a popular query), which gives the run warm
    (all-terms-seen) queries from the third query on. Terms are
    Zipf-drawn, so the hot head also repeats across fresh queries and
    the tail stays cold.

    Each item: ``{"cls", "mode", "query", "terms", "repeat"}`` where
    ``query`` is a DSL dict (``many``: a ``{query_id: text}`` dict) and
    ``terms`` are the raw words used (for the warm/cold split).
    """

    def __init__(self, seed: int, client: int, vocab: Vocabulary,
                 phrase_texts: List[str], share: tuple = (0, 1)):
        self.rng = random.Random(f"{seed}:q:{client}")
        self.rounds = random.Random(f"{seed}:rounds")
        self.share = share
        self.vocab = vocab
        self.phrase_texts = phrase_texts
        self.issued: List[dict] = []
        self._round: List[str] = []

    def __iter__(self):
        return self

    def __next__(self) -> dict:
        i = len(self.issued)
        if i % REPEAT_EVERY == 2:
            q = dict(self.rng.choice(self.issued), repeat=True)
        else:
            if not self._round:
                order = self.rounds.sample(CLASSES, len(CLASSES))
                c, n = self.share
                w = len(CLASSES) // n
                self._round = order[c * w:(c + 1) * w]
            q = self._fresh(self._round.pop(0))
        self.issued.append(q)
        return q

    def _fresh(self, cls: str) -> dict:
        rng, v = self.rng, self.vocab
        mode = rng.choice(["bm25", "elasticlunr"])
        if cls == "term":
            words = v.query_words(rng, 1)
            query = {"query": {"match": {"text": words[0]}}}
        elif cls == "or":
            words = v.query_words(rng, rng.randint(2, 4))
            query = {"query": {"match": {"text": " ".join(words)}}}
        elif cls == "and":
            words = v.query_words(rng, 2)
            query = {"query": {"match": {"text": {
                "query": " ".join(words), "operator": "and"}}}}
        elif cls == "bool":
            words = v.query_words(rng, 3)
            query = {"query": {"bool": {
                "must": {"match": {"text": words[0]}},
                "should": [{"match": {"text": words[1]}},
                           {"match": {"tool": rng.choice(TOOLS[1:])}}],
                "must_not": {"match": {"text": words[2]}}}}}
        elif cls == "phrase":
            words = self._bigram()
            query = {"query": {"match_phrase": {"text": " ".join(words)}}}
        elif cls == "fuzzy":
            w = v.query_words(rng, 1)[0]
            pos = rng.randrange(len(w))
            typo = w[:pos] + rng.choice(_CONSONANTS) + w[pos + 1:]
            words = [typo]
            query = {"query": {"terms": {"text": {
                "value": typo, "fuzziness": 1}}}}
        elif cls == "prefix":
            w = v.query_words(rng, 1)[0]
            words = [w[:3]]
            query = {"query": {"terms": {"text": {
                "value": w[:3], "expand": True}}}}
        else:  # many: a search_many batch, always bm25
            mode = "bm25"
            batch = {f"q{j}": " ".join(v.query_words(rng, rng.randint(1, 3)))
                     for j in range(MANY_BATCH)}
            words = sorted({w for t in batch.values() for w in t.split()})
            query = batch
        return {"cls": cls, "mode": mode, "query": query, "terms": words,
                "repeat": False}

    def _bigram(self) -> List[str]:
        """Two adjacent content words from a corpus turn, so phrases hit."""
        while True:
            toks = [t.strip(".,").lower()
                    for t in self.rng.choice(self.phrase_texts).split()]
            pairs = [(a, b) for a, b in zip(toks, toks[1:])
                     if a not in HEAD_WORDS and b not in HEAD_WORDS]
            if pairs:
                return list(self.rng.choice(pairs))
