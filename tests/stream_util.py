"""Shared helper: a bounded (availableNow) test stream must TERMINATE.

Thin re-export of the package's guard
(ex_elasticlunr_spark.streaming.ingest.await_terminated), so the tests
use the definition the package exports.
"""

from __future__ import annotations

from ex_elasticlunr_spark.streaming.ingest import await_terminated

__all__ = ["await_terminated"]
