"""ex_elasticlunr_spark — a from-scratch PySpark-native inverted-index +
BM25 full-text engine with the query semantics of heywhy/ex_elasticlunr.

This is NOT a port of the reference (an Elixir/ETS single-node library);
it is a distributed Spark engine: vectorized Arrow/pandas-UDF analysis,
DataFrame posting-list construction with salted shuffle-merge, delta-gap
+ varint compressed posting blocks, and top-k BM25 / elasticlunr scoring
(exhaustive DataFrame plan + block-max WAND fast path).

Layout
------
analysis/   tokenizer, trimmer, stop-word filter, Porter2 stemmer (pure-
            Python cores shared by the vectorized UDFs and the test oracle)
functions/  pandas/Arrow UDFs + pure-Column expression builders
build/      index build job: transcripts/documents -> postings, doc_stats,
            field_stats, term_stats (+ compressed segments, checkpoints)
search/     scorers: exhaustive DataFrame scorer (elasticlunr + BM25
            modes) and block-max WAND over compressed segments
dsl/        query-DSL AST (match/terms/bool/not/match_all) -> DataFrame plan
sources/    deterministic synthetic transcripts + testdata table loaders
streaming/  incremental ingest (structured streaming -> delta segments)
operators/  beside the index: event-log sessions/rollups, conversation
            assembly, reciprocal-rank fusion
"""

__version__ = "0.1.0"

from .build.indexer import InvertedIndex, build_index  # noqa: E402
from .functions.udfs import AnalyzerConfig  # noqa: E402
from .index import Index  # noqa: E402
from .manager import IndexManager  # noqa: E402
from .storage import Blackhole, Disk  # noqa: E402
