"""Pipeline operators that sit beside the index: event-log sessions and
rollups (``events``), conversation assembly (``conversations``) and
reciprocal-rank fusion of ranked lists (``hybrid``)."""

from . import conversations, events, hybrid

__all__ = ["conversations", "events", "hybrid"]
