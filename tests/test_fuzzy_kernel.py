"""The driver's edit-ball kernel (search/scorer.py ``_edit_ball`` over
``_length_groups``) against Spark's own fuzzy predicate.

A fuzzy query matches the vocabulary terms within ``k`` edits: Spark
expresses that as ``abs(length(term) - len(q)) <= k AND
levenshtein(term, q) <= k``, the driver as a numpy DP over code
points. Over a seeded vocabulary of ASCII, Latin-1, CJK, astral-plane
emoji and combining marks, with one-character terms and queries both
longer and shorter than every term, both give the same matched set
for k = 1, 2 and 1.5 (a float acts as its floor), and both agree with
tests/oracle ``levenshtein``.
"""

from __future__ import annotations

import math
import random

import pyarrow as pa
from pyspark.sql import functions as F

from ex_elasticlunr_spark.search.scorer import _edit_ball, _length_groups
from tests.oracle.core import levenshtein

# the last two are combining marks (acute, diaeresis)
ALPHABET = list("abcdes") + ["é", "ß", "ü", "中", "文", "語", "😀", "🎉",
                             "\u0301", "\u0308"]
KS = (1, 2, 1.5)


def _vocab():
    rng = random.Random(17)
    ascii_ = ALPHABET[:6]
    terms = {"".join(rng.choice(chars) for _ in range(rng.randint(1, 7)))
             for chars in (ascii_, ALPHABET) for _ in range(300)}
    terms |= set(ALPHABET)  # every one-character term
    # precomposed and decomposed é: one and two code points
    terms |= {"caf\u00e9", "cafe\u0301", "straße", "中文", "😀😀"}
    return sorted(terms)


def _queries(vocab):
    rng = random.Random(23)
    qs = ["", "é", "中", "😀", "cafe", "strasse", "中文語",
          "abcdesabcdes"]  # "" and the last: shorter/longer than any term
    for t in rng.sample(vocab, 12):
        s = list(t)
        i = rng.randrange(len(s))
        s[i] = rng.choice(ALPHABET)  # one substitution off a term
        qs.append("".join(s))
    return qs


def test_edit_ball_equals_spark_levenshtein(spark):
    vocab = _vocab()
    queries = _queries(vocab)
    assert max(map(len, vocab)) < len(queries[7])
    assert min(map(len, vocab)) > len(queries[0])
    cases = [(q, k) for q in queries for k in KS]
    term = F.col("term")
    rows = (spark.createDataFrame([(t,) for t in vocab], "term string")
            .select("term", *[
                ((F.abs(F.length(term) - len(q)) <= k)
                 & (F.levenshtein(term, F.lit(q)) <= k)).alias(f"c{i}")
                for i, (q, k) in enumerate(cases)])
            .collect())
    groups = _length_groups(pa.array(vocab))
    nonempty = 0
    for i, (q, k) in enumerate(cases):
        want = {r["term"] for r in rows if r[f"c{i}"]}
        got = {vocab[j] for j in _edit_ball(groups, q, math.floor(k))}
        assert got == want, (q, k, sorted(got ^ want))
        assert got == {t for t in vocab if levenshtein(t, q) <= k}, (q, k)
        nonempty += bool(got)
    assert nonempty > len(cases) // 2
