"""Scroll: TTL'd contexts that page one result set (reference:
quickwit-search/src/scroll_context.rs and root.rs:342-373 — the scroll
id addresses a context in the searchers' in-memory KV; each fetch
advances it and refreshes its TTL).

One store serves every searcher (an IndexSearcher or a UnionSearcher).
A context holds its searcher, so the id alone pages. Contexts live in
process memory, like the reference's KV: they end with the process, and
a scroll never writes into an index directory.

Every context pages through `sort_search` (score order is its `_score
desc` case, which runs `search`) by cursor: the last page's
`res.next_cursor` goes back in as `search_after`, so a page costs O(k)."""

from __future__ import annotations

import threading
import time
import uuid

from .engine import SearchResult

_LOCK = threading.Lock()
_CONTEXTS: dict[str, dict] = {}


def _vacuum(now: float) -> None:
    """Drop expired contexts; the caller holds _LOCK."""
    for sid in [sid for sid, ctx in _CONTEXTS.items()
                if ctx["expires_at"] < now]:
        del _CONTEXTS[sid]


def _page(ctx: dict, cursor) -> SearchResult:
    return ctx["searcher"].sort_search(ctx["node"], k=ctx["k"],
                                       sort_by=ctx["sort_by"],
                                       fetch_fields=ctx["fetch_fields"],
                                       search_after=cursor)


def scroll(searcher, query, k: int = 10, ttl_seconds: float = 60.0,
           fetch_fields: bool = True, sort_by: tuple | None = None
           ) -> tuple[SearchResult, str]:
    """Open a scroll: returns (first page, scroll_id). Page through with
    scroll_next(scroll_id); sort_by as in sort_search, None for score
    order."""
    ctx = {"searcher": searcher, "node": searcher.parse(query),
           "k": int(k), "fetch_fields": bool(fetch_fields),
           "sort_by": tuple(sort_by or (("_score", "desc"),)),
           "ttl": float(ttl_seconds)}
    res = _page(ctx, None)
    ctx.update(cursor=res.next_cursor, num_hits=res.num_hits)
    sid = uuid.uuid4().hex
    now = time.time()
    with _LOCK:
        _vacuum(now)
        ctx["expires_at"] = now + ctx["ttl"]
        _CONTEXTS[sid] = ctx
    return res, sid


def scroll_next(scroll_id: str) -> SearchResult:
    """Next page of an open scroll; refreshes its TTL. An expired or
    unknown id raises KeyError (the reference returns 404)."""
    now = time.time()
    with _LOCK:
        _vacuum(now)
        ctx = _CONTEXTS.get(scroll_id)
        if ctx is None:
            raise KeyError(f"scroll context {scroll_id!r} not found or "
                           "expired")
        ctx["expires_at"] = now + ctx["ttl"]
        cursor = ctx["cursor"]
    if cursor is None:
        return SearchResult(ctx["num_hits"], [])  # paged to the end
    res = _page(ctx, cursor)
    with _LOCK:
        ctx.update(cursor=res.next_cursor, num_hits=res.num_hits)
    return res


def scroll_clear(scroll_id: str) -> bool:
    """Drop a scroll context; returns whether one was removed (ES's
    num_freed)."""
    with _LOCK:
        _vacuum(time.time())
        return _CONTEXTS.pop(scroll_id, None) is not None
