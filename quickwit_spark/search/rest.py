"""Native search REST facade: the `POST /api/v1/{index}/search` surface
(reference: quickwit-serve/src/search_api/rest_handler.rs:297-334,
SearchRequestQueryString -> SearchRequest; response shape from
root_search_aux, root.rs:962-1013).

Params (the reference's query-string names):
    query           query-string grammar (default `*`)
    max_hits        top-k (default 20)
    start_offset    pagination offset (default 0)
    sort_by         comma list, `-field` = desc, `field`/`+field` = asc,
                    `_score` allowed (<= 2 fields, collector.rs sort spec)
    snippet_fields  comma list of stored fields to highlight
    count_all       False enables the block-max pruned path (CountHits::
                    Underestimate — num_hits may under-count for OR)
    search_after    cursor from a previous response (pass back verbatim)
"""

from __future__ import annotations

import time
from typing import Any

from .engine import INTERNAL_DOC_FIELDS as _INTERNAL
from .snippets import extract_query_terms, make_snippet


def _parse_bool(v, default: bool) -> bool:
    """Query-string-friendly bool: 'false'/'0'/'no' are False (bool()
    on a non-empty string would be True)."""
    if v is None:
        return default
    if isinstance(v, str):
        return v.strip().lower() not in ("false", "0", "no", "")
    return bool(v)


def _parse_sort_by(spec: str) -> tuple:
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if part.startswith("-"):
            out.append((part[1:], "desc"))
        elif part.startswith("+"):
            out.append((part[1:], "asc"))
        else:
            # bare _score means best-first everywhere (the ES facade
            # and every ES client's expectation); plain fields
            # default ascending
            out.append((part, "desc" if part == "_score" else "asc"))
    if not 1 <= len(out) <= 2:
        raise ValueError("sort_by supports 1 or 2 fields")
    return tuple(out)


def _parse_search_after(v):
    """A POST body cursor arrives as a list; a GET query-string cursor
    as a string. tuple() on a string exploded it into characters,
    making GET pagination unusable. Accept a JSON array or the
    comma-separated echo of a previous response's cursor, coercing
    numeric elements."""
    if v is None or v == "":
        return None
    if isinstance(v, (list, tuple)):
        return tuple(v)
    s = str(v).strip()
    if s.startswith("["):
        import json as _json
        return tuple(_json.loads(s))
    out = []
    for part in s.split(","):
        part = part.strip()
        try:
            out.append(int(part))
        except ValueError:
            try:
                out.append(float(part))
            except ValueError:
                out.append(part)
    return tuple(out)


def native_search(searcher, params: dict[str, Any],
                  timestamp_field: str | None = None,
                  default_search_fields: list[str] | None = None
                  ) -> dict:
    t0 = time.perf_counter()
    query = params.get("query", "*")
    max_hits = int(params.get("max_hits", 20))
    start_offset = int(params.get("start_offset", 0))
    sort_spec = params.get("sort_by")
    snippet_fields = [f.strip() for f in str(
        params.get("snippet_fields", "")).split(",") if f.strip()]
    count_all = _parse_bool(params.get("count_all"), True)
    search_after = _parse_search_after(params.get("search_after"))

    # `search_field` param overrides the config's default_search_fields
    # (SearchRequestQueryString); multi-field expansion is an OR over
    # per-field parses, one implementation for every entry point
    fields = params.get("search_field")
    if isinstance(fields, str):
        fields = [f for f in fields.split(",") if f]
    fields = fields or default_search_fields
    if fields and isinstance(query, str):
        from .mgmt_api import parse_with_fields
        node = parse_with_fields(query, list(fields),
                                 searcher.text_field)
    else:
        node = searcher.parse(query)
    start_ts = params.get("start_timestamp")
    end_ts = params.get("end_timestamp")
    if timestamp_field and (start_ts is not None or end_ts is not None):
        # [start, end) in epoch seconds over the configured timestamp
        # field (SearchRequestQueryString, rest_handler.rs:297-334);
        # the engine's typed coercion scales to the field's unit
        from . import ast as A
        rng = A.Range(timestamp_field,
                      gte=int(start_ts) if start_ts is not None
                      else None,
                      lt=int(end_ts) if end_ts is not None else None)
        node = A.Bool(must=(node,), filter=(rng,))
    if sort_spec:
        sort_by = _parse_sort_by(sort_spec)
        res = searcher.sort_search(
            node, k=max_hits, offset=start_offset, sort_by=sort_by,
            search_after=search_after, count_all=count_all)
    else:
        res = searcher.search(
            node, k=max_hits, offset=start_offset, count_all=count_all,
            search_after=search_after)
    hits = res.hits
    next_cursor = res.next_cursor
    terms = extract_query_terms(node) if snippet_fields else []
    out_hits = []
    out_snippets = []
    for h in hits:
        # the reference returns each hit as the document JSON itself
        # (SearchResponseRest, search_response_rest.rs:43-60), with
        # snippets in a parallel array
        from .engine import doc_source
        doc = doc_source(h.doc)
        out_hits.append(doc)
        if snippet_fields:
            snip = {}
            flat = {k: v for k, v in h.doc.items()
                    if not k.startswith("_") and k not in _INTERNAL}
            for f in snippet_fields:
                val = flat.get(f, doc.get(f))
                if not isinstance(val, str):
                    # a NULL field must not render (and highlight!) as
                    # the literal text 'None', nor lists as their reprs
                    continue
                frag = make_snippet(val, terms)
                if frag:
                    snip[f] = [frag]
            out_snippets.append(snip)
    resp = {
        "num_hits": int(res.num_hits),
        "hits": out_hits,
        "elapsed_time_micros": int((time.perf_counter() - t0) * 1e6),
        "errors": [],
        # engine extension (not in SearchResponseRest): the cursor for
        # the next page, fed back as the `search_after` param
        "search_after": list(next_cursor) if next_cursor else None,
    }
    if snippet_fields:
        resp["snippets"] = out_snippets
    return resp
