"""Elasticsearch-compatible query DSL -> QueryAst.

Mirrors the reference's ES front-end (quickwit-query/src/elastic_query_dsl/
mod.rs:73-88): query_string, bool, term, terms, match_all, match_none,
match, match_bool_prefix, match_phrase, multi_match, range, exists,
regexp, wildcard — all converted onto the same AST the native path uses
(SURVEY.md §3.2: only the front-end differs; the engine path is identical).
"""

from __future__ import annotations

import re as _re
from typing import Any

from . import ast as A
from .parser import parse_query


def _single_entry(kind: str, spec) -> tuple:
    """The {field: value} shape every field-keyed ES query uses; an
    empty/non-dict spec must be a ValueError (-> HTTP 400), not a
    StopIteration that can silently terminate a surrounding iterator.
    ES allows a sibling `boost` key next to the field entry (e.g.
    {"terms": {"tags": [...], "boost": 0.5}}) — popped here and returned
    as the third element, not an error."""
    boost = None
    if isinstance(spec, dict) and "boost" in spec and len(spec) == 2:
        spec = dict(spec)
        boost = float(spec.pop("boost"))
    if not isinstance(spec, dict) or len(spec) != 1:
        raise ValueError(
            f"{kind} query expects exactly one {{field: value}} entry, "
            f"got {spec!r}")
    field, v = next(iter(spec.items()))
    return field, v, boost


def _maybe_boost(node: A.Node, boost) -> A.Node:
    return A.Boost(node, boost) if boost is not None else node


# ONE parquet-type -> ES-type map shared by _field_caps and _mapping:
# the two endpoints must never disagree about a field's ES type (a
# per-function copy had already drifted — one gained "binary")
_ES_TYPES = {"string": "keyword", "large_string": "keyword",
             "int32": "integer", "int64": "long", "float": "float",
             "double": "double", "bool": "boolean",
             "binary": "binary"}


def es_to_ast(body: dict[str, Any], default_field: str = "content") -> A.Node:
    """Convert one ES query object to the AST. Malformed-but-plausible
    shapes ({"range": {"ts": 5}}, {"bool": {"must": 5}}, ...) raise
    ValueError — the error type the HTTP layer maps to a 400 — never a
    bare AttributeError/TypeError that would kill the connection."""
    try:
        return _es_to_ast(body, default_field)
    except (AttributeError, TypeError) as e:
        raise ValueError(f"malformed ES query body: {e}") from e


def _es_to_ast(body: dict[str, Any], default_field: str = "content"
               ) -> A.Node:
    if not isinstance(body, dict) or len(body) != 1:
        raise ValueError("ES query object must have exactly one key")
    kind, spec = next(iter(body.items()))
    if kind == "match_all":
        return A.MatchAll()
    if kind == "match_none":
        return A.MatchNone()
    if kind == "query_string":
        fields = spec.get("fields")
        if fields and spec.get("default_field") is not None:
            # mutually exclusive, like the reference (0005 step 13)
            raise ValueError(
                "query_string takes `default_field` OR `fields`, "
                "not both")
        if isinstance(fields, str):
            # the reference rejects a bare string here (unlike
            # multi_match, which accepts one — rest-api-tests 0005 vs
            # 0014 pin the asymmetry)
            raise ValueError(
                "query_string `fields` must be an array of field "
                "names")
        if fields:
            # multi-field query_string (rest_handler / scenario 0005):
            # bare terms search EVERY listed field; explicitly-fielded
            # clauses are untouched. Parse once against a sentinel
            # default field, then expand sentinel-field leaves into a
            # should-of-fields.
            sentinel = "\x00default\x00"
            node = parse_query(
                spec["query"], default_field=sentinel,
                default_operator=spec.get("default_operator",
                                          "and").lower())
            return _expand_default_fields(node, sentinel, list(fields))
        return parse_query(
            spec["query"],
            default_field=spec.get("default_field", default_field),
            default_operator=spec.get("default_operator", "and").lower())
    if kind == "term":
        field, v, boost = _single_entry(kind, spec)
        value = v["value"] if isinstance(v, dict) else v
        node: A.Node = A.Term(field, str(value))
        if isinstance(v, dict) and "boost" in v:
            node = A.Boost(node, float(v["boost"]))
        return _maybe_boost(node, boost)
    if kind == "terms":
        field, values, boost = _single_entry(kind, spec)
        return _maybe_boost(
            A.TermSet(field, tuple(str(x) for x in values)), boost)
    if kind == "match":
        field, v, boost = _single_entry(kind, spec)
        if isinstance(v, dict):
            return _maybe_boost(
                A.FullText(field, str(v["query"]),
                           operator=v.get("operator", "or").lower(),
                           zero_terms_all=(
                               str(v.get("zero_terms_query", "none"))
                               .lower() == "all")), boost)
        return _maybe_boost(A.FullText(field, str(v), operator="or"), boost)
    if kind == "match_bool_prefix":
        # ES semantics: every term a bool clause, the LAST one a prefix
        # query — "quick br" matches docs containing 'brown'. Aliasing
        # this to plain match silently lost the prefix expansion. The
        # last whitespace word approximates the last analyzer token
        # (lowercased like the analyzers do); the rest go through the
        # normal FullText analysis.
        field, v, boost = _single_entry(kind, spec)
        text = str(v["query"]) if isinstance(v, dict) else str(v)
        op = (v.get("operator", "or").lower()
              if isinstance(v, dict) else "or")
        words = text.split()
        if not words:
            return _maybe_boost(A.MatchNone(), boost)
        # the prefix comes from the ANALYZED last token (ES runs the
        # analyzer first): raw text would leave trailing punctuation
        # in the pattern ("brown," never matches the token "brown")
        # and let user text inject `*`/`?` wildcard operators
        toks = _re.findall(r"[^\W_]+", words[-1])
        if not toks:
            return _maybe_boost(
                A.FullText(field, " ".join(words[:-1]), operator=op)
                if len(words) > 1 else A.MatchNone(), boost)
        prefix: A.Node = A.Wildcard(field, toks[-1].lower() + "*")
        if len(words) == 1:
            return _maybe_boost(prefix, boost)
        rest = A.FullText(field, " ".join(words[:-1]), operator=op)
        node = (A.Bool(must=(rest, prefix)) if op == "and"
                else A.Bool(should=(rest, prefix)))
        return _maybe_boost(node, boost)
    if kind == "match_phrase":
        field, v, boost = _single_entry(kind, spec)
        text = v["query"] if isinstance(v, dict) else v
        slop = int(v.get("slop", 0)) if isinstance(v, dict) else 0
        an = _check_analyzer(v.get("analyzer")
                             if isinstance(v, dict) else None)
        # positional phrase; freq-only indexes fall back to intersection
        # (the reference's PhraseFallbackToIntersection mode)
        return _maybe_boost(A.Phrase(field, str(text), slop=slop,
                                     analyzer=an), boost)
    if kind == "match_phrase_prefix":
        field, v, boost = _single_entry(kind, spec)
        text = v["query"] if isinstance(v, dict) else v
        maxe = int(v.get("max_expansions", 50)) if isinstance(v, dict) else 50
        an = _check_analyzer(v.get("analyzer")
                             if isinstance(v, dict) else None)
        return _maybe_boost(
            A.PhrasePrefix(field, str(text), max_expansions=maxe,
                           analyzer=an), boost)
    if kind == "multi_match":
        if spec.get("fields") == []:
            # an EXPLICIT empty list is rejected (0014) — unlike
            # query_string, where [] just falls back to defaults
            raise ValueError("multi_match `fields` must not be empty")
        fields = spec.get("fields") or [default_field]
        if isinstance(fields, str):  # ES accepts a bare string here
            fields = [fields]
        text = str(spec["query"])
        mtype = spec.get("type", "most_fields")

        def _per_field(f: str) -> A.Node:
            name, boost = _field_boost(f)
            if mtype == "phrase":
                n: A.Node = A.Phrase(name, text,
                                     slop=int(spec.get("slop", 0)))
            elif mtype == "phrase_prefix":
                n = A.PhrasePrefix(
                    name, text,
                    max_expansions=int(spec.get("max_expansions", 50)))
            else:
                n = A.FullText(name, text,
                               operator=spec.get("operator",
                                                 "or").lower())
            return A.Boost(n, boost) if boost is not None else n

        parts = tuple(_per_field(f) for f in fields)
        return parts[0] if len(parts) == 1 else A.Bool(should=parts)
    if kind == "range":
        field, v, boost = _single_entry(kind, spec)
        bounds = {k: v.get(k) for k in ("gte", "gt", "lte", "lt")}
        fmt = v.get("format") if isinstance(v, dict) else None
        if fmt:
            # ES custom date `format` (java pattern, quoted literals):
            # bounds pre-parse to epoch millis here, the engine's
            # datetime coercion takes the ints from there
            from ..pipeline.doc_mapper import parse_java_format_millis
            for k, b in bounds.items():
                if isinstance(b, str):
                    ms = parse_java_format_millis(b, fmt)
                    if ms is None:
                        raise ValueError(
                            f"range bound {b!r} does not match "
                            f"format {fmt!r}")
                    bounds[k] = ms
        return _maybe_boost(A.Range(field, **bounds), boost)
    if kind == "exists":
        return A.FieldPresence(spec["field"])
    if kind == "regexp":
        field, v, boost = _single_entry(kind, spec)
        pat = v["value"] if isinstance(v, dict) else v
        return _maybe_boost(A.Regex(field, str(pat)), boost)
    if kind == "wildcard":
        field, v, boost = _single_entry(kind, spec)
        pat = v["value"] if isinstance(v, dict) else v
        return _maybe_boost(A.Wildcard(field, str(pat)), boost)
    if kind == "bool":
        def _many(key):
            items = spec.get(key) or []  # null clause = empty, like ES
            if isinstance(items, dict):
                items = [items]
            return tuple(es_to_ast(i, default_field) for i in items)
        should = _many("should")
        return A.Bool(
            must=_many("must"),
            must_not=_many("must_not"),
            should=should,
            filter=_many("filter"),
            minimum_should_match=(
                parse_minimum_should_match(
                    spec["minimum_should_match"], len(should))
                if "minimum_should_match" in spec else None))
    raise ValueError(f"unsupported ES query kind: {kind}")


def _field_resolvable(searcher, f: str) -> bool:
    """Can `f` resolve on this index? Mirrors
    find_field_or_hit_dynamic: a known field, a subtree of a json/
    dyn-text root, or (dynamic mode) any free path — but NEVER a
    subpath of a mapped non-json field."""
    subs = getattr(searcher, "searchers", None)
    if subs is not None:  # union: resolvable anywhere is enough
        return any(_field_resolvable(s, f) for s in subs) \
            if subs else True
    try:
        known = {x["field"] for x in searcher.list_fields()}
    except Exception:  # noqa: BLE001 — no segments yet
        known = set()
    if f in known:
        return True
    dyn_roots: set = set()
    for seg in searcher.manifest.segments():
        dyn_roots |= set((seg.get("dyn_text_fields") or {}).keys())
    if any(f == r or f.startswith(r + ".") for r in dyn_roots):
        return True
    if any(f.startswith(k + ".") for k in known):
        return False
    return bool(getattr(searcher, "has_dynamic", False))


def _validate_strict_fields(searcher, q) -> None:
    """Non-lenient query_string: every listed field must resolve
    (0005 step 24 — the reference 400s `public.notdefined` without
    `lenient: true`)."""
    if isinstance(q, dict):
        for k, v in q.items():
            if k == "query_string" and isinstance(v, dict) \
                    and not v.get("lenient"):
                for f in (v.get("fields") or []):
                    name = str(f).split("^", 1)[0]
                    if not _field_resolvable(searcher, name):
                        raise ValueError(
                            f"unknown field `{name}` (pass lenient: "
                            "true to ignore unresolvable fields)")
            else:
                _validate_strict_fields(searcher, v)
    elif isinstance(q, list):
        for x in q:
            _validate_strict_fields(searcher, x)


def _check_analyzer(name) -> str | None:
    """Validate an ES `analyzer` override against the tokenizer
    registry (an unknown name is a 400, rest-api-tests 0010)."""
    if name is None:
        return None
    from ..functions import tokenizers as tok
    if name not in tok.ANALYZERS and tok.get_custom_analyzer(name) \
            is None:
        raise ValueError(f"unknown analyzer {name!r}")
    return str(name)


def _field_boost(f: str) -> tuple[str, float | None]:
    """ES `fields` entries carry boosts as "name^2" / "name^2.5" —
    parsed by the shared query-grammar helper."""
    from .parser import split_boost
    return split_boost(f)


def _expand_default_fields(node: A.Node, sentinel: str,
                           fields: list[str]) -> A.Node:
    """Rewrite every leaf whose field is the parse-time sentinel into a
    should-of-fields copy (multi-field query_string); explicit-field
    leaves and tree structure pass through unchanged. "name^2" field
    entries boost their copy."""
    import dataclasses

    parsed = [_field_boost(f) for f in fields]

    def walk(n: A.Node) -> A.Node:
        if isinstance(n, A.Bool):
            return A.Bool(
                must=tuple(walk(c) for c in n.must),
                must_not=tuple(walk(c) for c in n.must_not),
                should=tuple(walk(c) for c in n.should),
                filter=tuple(walk(c) for c in n.filter),
                minimum_should_match=n.minimum_should_match)
        if isinstance(n, A.Boost):
            return A.Boost(walk(n.inner), n.boost)
        if getattr(n, "field", None) == sentinel:
            copies = tuple(
                dataclasses.replace(n, field=f) if b is None
                else A.Boost(dataclasses.replace(n, field=f), b)
                for f, b in parsed)
            return copies[0] if len(copies) == 1 \
                else A.Bool(should=copies)
        return n

    return walk(node)


def parse_minimum_should_match(value, n_should: int) -> int:
    """ES minimum_should_match forms (bool_query.rs parses the same
    grammar): integer, "<n>", "-<n>" (all but n may be missing),
    "<p>%" (floor of p percent of the optional clauses), "-<p>%"
    (all but floor(p%) must match). Resolved against the bool's OWN
    should-clause count, clamped to [0, n_should]."""
    if isinstance(value, bool):
        raise ValueError(f"bad minimum_should_match {value!r}")
    if isinstance(value, int):
        n = value
    else:
        s = str(value).strip()
        if s.endswith("%"):
            try:
                pct = int(s[:-1])
            except ValueError:
                raise ValueError(
                    f"bad minimum_should_match {value!r}") from None
            if pct >= 0:
                n = (n_should * pct) // 100
            else:
                # already resolved against n_should; below -100% this
                # goes negative and must clamp to 0 — the "-<n>"
                # integer fixup below would RE-interpret it and demand
                # nearly all clauses instead of none
                n = max(0, n_should - (n_should * -pct) // 100)
        else:
            try:
                n = int(s)
            except ValueError:
                raise ValueError(
                    f"bad minimum_should_match {value!r}") from None
            if n < 0:
                n = n_should + n
    if isinstance(value, int) and n < 0:
        n = n_should + n
    # NOT clamped to n_should: msm above the clause count legitimately
    # matches nothing (ES semantics)
    return max(0, n)


def _es_terms_default_size(spec: dict) -> dict:
    """ES terms aggregations default to size 10 (with the remainder in
    sum_other_doc_count); the native aggregate() API returns ALL
    buckets when size is omitted. An ES request over a high-cardinality
    field must not collect an unbounded bucket set to the driver, so
    the facade injects the ES default. Recurses into sub-aggs; the
    spec is copied, never mutated."""
    out: dict = {}
    for name, body in spec.items():
        if not isinstance(body, dict):
            out[name] = body
            continue
        nb = dict(body)
        if isinstance(nb.get("terms"), dict):
            tb = dict(nb["terms"])
            tb.setdefault("size", 10)
            # per-split truncation hints: this engine computes terms
            # EXACTLY (Spark full shuffle), so split_size/shard_size/
            # segment_size have nothing to truncate — accepted and
            # dropped; doc_count_error_upper_bound is always 0
            for hint in ("split_size", "shard_size", "segment_size"):
                tb.pop(hint, None)
            nb["terms"] = tb
        # ES histogram/date_histogram default min_doc_count is 0
        # (empty buckets between data min/max are emitted); the native
        # aggregate() default is 1
        for hk in ("histogram", "date_histogram"):
            if isinstance(nb.get(hk), dict) \
                    and "min_doc_count" not in nb[hk]:
                nb[hk] = {**nb[hk], "min_doc_count": 0}
        # ES accepts `aggregations` as a full alias of `aggs` at any
        # nesting level; normalize here so the native aggregate() only
        # ever sees `aggs`
        if "aggregations" in nb and "aggs" not in nb:
            nb["aggs"] = nb.pop("aggregations")
        if isinstance(nb.get("aggs"), dict):
            nb["aggs"] = _es_terms_default_size(nb["aggs"])
        out[name] = nb
    return out


def filter_source_doc(src: dict, includes: list | None,
                      excludes: list) -> dict:
    """ES _source include/exclude projection with DOTTED-PATH
    semantics (rest-api-tests 0022): an include keeps a whole subtree,
    a dotted include keeps a partial subtree ({"actor": {"id": ..}}),
    excludes drop subtrees and WIN over includes. Arrays of objects are
    projected per element under the array's own path."""
    exc = [str(e) for e in (excludes or [])]
    inc = [str(i) for i in includes] if includes is not None else None

    def is_exc(p: str) -> bool:
        return any(p == e or p.startswith(e + ".") for e in exc)

    def inc_mode(p: str) -> int:  # 0 drop, 1 partial, 2 full
        if inc is None:
            return 2
        if any(p == i or p.startswith(i + ".") for i in inc):
            return 2
        if any(i.startswith(p + ".") for i in inc):
            return 1
        return 0

    drop = object()

    def keep(v, p: str, full: bool):
        # partial mode keeps only objects with a surviving include
        if isinstance(v, dict):
            sub = walk(v, p, full)
            return sub if sub or full else drop
        if isinstance(v, list):
            items = [e for e in (keep(e, p, full) for e in v)
                     if e is not drop]
            return items if items or full else drop
        return v if full else drop

    def walk(node: dict, p: str, inherited_full: bool) -> dict:
        out: dict = {}
        for k, v in node.items():
            cp = f"{p}.{k}" if p else str(k)
            if is_exc(cp):
                continue
            m = 2 if inherited_full else inc_mode(cp)
            if m == 0:
                continue
            sub = keep(v, cp, m == 2)
            if sub is not drop:
                out[k] = sub
        return out

    return walk(src, "", inc is None)


def _es_num(v):
    """numpy / decimal / NA scalar -> JSON-safe python number (None
    for NA; integral decimals — the exact u64 transport — stay int)."""
    import decimal as _dec

    import numpy as _np
    if v is None:
        return None
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, _np.generic):
        v = v.item()
    if isinstance(v, _dec.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float) and v != v:
        return None
    return v


def _es_metric_obj(name: str, kind: str, body: dict, row) -> object:
    """One leaf metric of a flat aggregate() row -> its ES response
    object (tantivy agg_result serialization, mirrored by the
    reference's rest-api-tests aggregations expectations)."""
    if kind in ("avg", "min", "max", "sum", "value_count",
                "cardinality"):
        v = _es_num(row.get(name))
        if kind in ("sum", "value_count", "cardinality") and v is None:
            v = 0.0
        if kind == "cardinality" and v is not None:
            v = float(v)
        return {"value": v}
    if kind in ("stats", "extended_stats"):
        out = {"count": int(_es_num(row.get(f"{name}_count")) or 0),
               "min": _es_num(row.get(f"{name}_min")),
               "max": _es_num(row.get(f"{name}_max")),
               "avg": _es_num(row.get(f"{name}_avg")),
               "sum": _es_num(row.get(f"{name}_sum"))}
        if out["sum"] is None:
            out["sum"] = 0.0
        if kind == "extended_stats":
            out["sum_of_squares"] = _es_num(
                row.get(f"{name}_sum_of_squares"))
            out["variance"] = _es_num(row.get(f"{name}_variance"))
            out["std_deviation"] = _es_num(
                row.get(f"{name}_std_deviation"))
        return out
    if kind == "percentiles":
        pcts = body.get("percents", [1, 5, 25, 50, 75, 95, 99])
        pairs = [(float(p), _es_num(
            row.get(f"{name}_p{str(p).replace('.', '_')}")))
            for p in pcts]
        if body.get("keyed", True):
            return {"values": {str(k): v for k, v in pairs}}
        return {"values": [{"key": k, "value": v} for k, v in pairs]}
    return {"value": _es_num(row.get(name))}


def _es_shape_levels(levels: list, leaf_metrics: list,
                     pdf, spec_levels: dict) -> dict:
    """Flat rows (one per deepest bucket combo, already in engine
    order) -> the nested ES buckets tree."""
    from ..pipeline.doc_mapper import format_datetime_millis
    if not levels:
        row = pdf.iloc[0].to_dict() if len(pdf) else {}
        return {n: _es_metric_obj(n, k, b, row)
                for n, k, b in leaf_metrics}
    name, kind, body = levels[0]
    buckets = []
    seen = []
    groups: dict = {}
    for _i, row in pdf.iterrows():
        kv = row[name]
        kk = kv if not isinstance(kv, float) or kv == kv else None
        if kk not in groups:
            groups[kk] = []
            seen.append(kk)
        groups[kk].append(row)
    for kv in seen:
        rows = groups[kv]
        if kv is None:
            continue  # docs without the bucket field form no bucket
        b: dict = {}
        if kind == "date_histogram":
            ms = int(kv)
            b["key"] = float(ms)
            b["key_as_string"] = format_datetime_millis(ms)
        elif kind == "histogram":
            b["key"] = float(kv)
        elif kind == "range":
            rng = next((r for r in body["ranges"]
                        if _range_key(r) == kv), None)
            b["key"] = kv
            if rng:
                if rng.get("from") is not None:
                    b["from"] = float(rng["from"])
                if rng.get("to") is not None:
                    b["to"] = float(rng["to"])
        else:  # terms: keep the native key type (u64 keys stay exact)
            b["key"] = _es_num(kv)
        b["doc_count"] = int(sum(r["doc_count"] for r in rows))
        if len(levels) > 1:
            import pandas as _pd
            sub_pdf = _pd.DataFrame(rows)
            b[levels[1][0]] = _es_shape_levels(
                levels[1:], leaf_metrics, sub_pdf, spec_levels)
        else:
            r0 = rows[0].to_dict()
            for n, k, mb in leaf_metrics:
                b[n] = _es_metric_obj(n, k, mb, r0)
        buckets.append(b)
    out: dict = {"buckets": buckets}
    if kind == "terms":
        other = 0
        col = f"{name}_sum_other_doc_count"
        if len(pdf) and col in pdf.columns:
            other = int(pdf[col].iloc[0])
        out["sum_other_doc_count"] = other
        # exact engine: terms counts are never truncated per split
        out["doc_count_error_upper_bound"] = 0
    return out


def _range_key(r: dict) -> str:
    from .aggregations import _range_label
    return _range_label(r)


def _es_shape_aggs(spec: dict, out) -> dict:
    """aggregate() output (flat DataFrame(s)) -> the nested ES
    `aggregations` response document."""
    from .aggregations import _parse_level
    if isinstance(out, dict):  # sibling bucket aggs
        resp = {}
        for name, df in out.items():
            resp.update(_es_shape_aggs({name: spec[name]}, df))
        return resp
    pdf = out.toPandas() if hasattr(out, "toPandas") else out
    # walk the spec's nesting chain exactly like _aggregate_plan
    levels = []
    leaf_metrics: list = []
    cur = spec
    while True:
        bucket, metrics = _parse_level(cur)
        if bucket is None:
            leaf_metrics = metrics
            break
        name, kind, body, sub = bucket
        levels.append((name, kind, body))
        if not sub:
            break
        cur = sub
    if not levels:
        row = pdf.iloc[0].to_dict() if len(pdf) else {}
        return {n: _es_metric_obj(n, k, b, row)
                for n, k, b in leaf_metrics}
    shaped = _es_shape_levels(levels, leaf_metrics, pdf, spec)
    return {levels[0][0]: shaped}


def _es_sort_by(sort_spec) -> tuple[tuple, dict[int, str]]:
    """An ES `sort` value -> ((field, order), ...) and the
    {position: format} of the entries that carry a `format`. An empty
    tuple means score order. Raises ValueError past two fields."""
    # ES accepts three top-level sort shapes: a list of entries, ONE
    # dict entry ({"ts": {"order": "desc"}} — iterating it would walk
    # its KEYS and silently drop the direction), and a bare string
    # (iterating it would walk CHARACTERS)
    if isinstance(sort_spec, str):
        sort_spec = [sort_spec]
    elif isinstance(sort_spec, dict):
        sort_spec = [{f: v} for f, v in sort_spec.items()]
    if not sort_spec:
        return (), {}
    if len(sort_spec) > 2:
        # the reference rejects >2 sort fields (collector.rs:1008-1029)
        raise ValueError("sort supports at most 2 fields")
    sort_by = []
    sort_fmt: dict[int, str] = {}
    for si, s in enumerate(sort_spec):
        if isinstance(s, str):
            sort_by.append((s, "asc" if s != "_score" else "desc"))
        else:
            (f, v), = s.items()
            # ES default direction with order omitted: asc for
            # fields, desc only for _score
            dflt = "desc" if f == "_score" else "asc"
            order = v.get("order", dflt) if isinstance(v, dict) \
                else str(v)
            sort_by.append((f, order))
            if isinstance(v, dict) and v.get("format"):
                sort_fmt[si] = str(v["format"])
    return tuple(sort_by), sort_fmt


def es_search(searcher, body: dict, default_field: str | None = None,
              _pre=None, extra_filters: list[str] | str | None = None,
              source_includes: list[str] | str | None = None,
              source_excludes: list[str] | str | None = None) -> dict:
    """Execute an ES `_search`-shaped request body and return an
    ES-shaped response (reference: quickwit-serve elasticsearch_api
    rest_handler.rs:502+ — body -> QueryAst -> same engine path ->
    response reshaped). Supports query, size, from, sort (fast fields /
    _score / _doc), and aggs (one spec level via search/aggregations).

    extra_filters: the reference's `?extra_filters=` query param
    (rest-api-tests es_compatibility/0023): query-string filters ANDed
    into the body's query as non-scoring filter clauses — the
    permission-scoping hook. Accepts the raw comma-separated string or
    a pre-split list.

    _pre: a SearchResult precomputed by es_msearch's batched fan-out
    (search_many) for this body — skips the per-body engine call."""
    import time as _time

    t0 = _time.perf_counter()
    _validate_strict_fields(searcher, body.get("query"))
    node = es_to_ast(body.get("query", {"match_all": {}}),
                     default_field or searcher.text_field)
    if extra_filters:
        parts = (extra_filters.split(",")
                 if isinstance(extra_filters, str) else extra_filters)
        filters = tuple(
            parse_query(p.strip(),
                        default_field or searcher.text_field)
            for p in parts if p.strip())
        if filters:
            node = A.Bool(must=(node,), filter=filters)
    size = int(body.get("size", 10))
    offset = int(body.get("from", 0))
    sa = body.get("search_after")
    sort_by, sort_fmt = _es_sort_by(body.get("sort"))
    if sort_by:
        if sa and sort_fmt:
            # `format: epoch_nanos_int` (quickwit-specific): sort
            # values travel in NANOS; the engine compares millis
            def _from_nanos(i, x):
                if sort_fmt.get(i) != "epoch_nanos_int":
                    return x
                try:
                    return int(x) // 1_000_000
                except (TypeError, ValueError):
                    return x
            sa = [_from_nanos(i, x) for i, x in enumerate(sa)]
        res = searcher.sort_search(node, k=size, offset=offset,
                                   sort_by=sort_by,
                                   search_after=(tuple(sa) if sa
                                                 else None))
    else:
        res = _pre if _pre is not None else searcher.search(
            node, k=size, offset=offset,
            search_after=(tuple(sa) if sa else None))
    hits = res.hits
    hl_spec = body.get("highlight", {}).get("fields", {})
    hl_terms = None
    if hl_spec:
        from .snippets import extract_query_terms
        hl_terms = extract_query_terms(node)
    from .engine import INTERNAL_DOC_FIELDS, doc_source
    inc = body.get("_source_includes") or source_includes
    exc = body.get("_source_excludes") or source_excludes
    # the standard ES `_source` body field: false (no source), a str or
    # array (includes), or {"includes": [...], "excludes": [...]}
    src_spec = body.get("_source")
    if src_spec is False:
        inc = inc or []
    elif isinstance(src_spec, str):
        inc = inc or [src_spec]
    elif isinstance(src_spec, list):
        inc = inc or list(src_spec)
    elif isinstance(src_spec, dict):
        inc = inc or src_spec.get("includes")
        exc = exc or src_spec.get("excludes")
    inc = set(inc.split(",") if isinstance(inc, str) else inc) \
        if inc is not None else None
    exc = set(exc.split(",") if isinstance(exc, str) else (exc or ()))
    out_hits = []
    for h in hits:
        # src stays UNFILTERED: sort cursors and highlighting read real
        # field values regardless of _source shaping (ES highlights and
        # pages independently of source filtering); the include/exclude
        # projection applies only to the emitted _source
        src = {k: v for k, v in h.doc.items()
               if not k.startswith("_") and k not in INTERNAL_DOC_FIELDS}
        emitted = doc_source(h.doc)
        if inc is not None or exc:
            # dotted-path semantics, excludes win (0022)
            emitted = filter_source_doc(
                emitted, sorted(inc) if inc is not None else None,
                sorted(exc))
        sid = str(h.segment_id)
        hit = {
            "_id": f"{sid}:{h.doc_id}",
            # union hits namespace their segment id as uid/segment
            "_index": (sid.split("/", 1)[0] if "/" in sid
                       else getattr(searcher, "index_uid", "")),
            "_score": None if sort_by else float(h.score),
            "_source": emitted,
        }
        if sort_by:
            # the hit's sort values, decoded from its sort keys (so
            # _source shaping and fetch_fields never touch them)
            vals = list(h.sort)
            for fi, fmt in sort_fmt.items():
                if fmt == "epoch_nanos_int" \
                        and isinstance(vals[fi], (int, float)):
                    vals[fi] = int(vals[fi]) * 1_000_000
            # values only, like the reference's ES hits; fed back as
            # `search_after` it pages with ES strictly-after semantics
            # (equal-valued boundary docs are skipped — add a second
            # sort field to tie-break, exactly like ES). The
            # values+address cursor shape is still accepted on input.
            hit["sort"] = vals
        if hl_spec:
            from .snippets import make_snippet
            hl = {}
            for f in hl_spec:
                frag = make_snippet(str(src.get(f, "")), hl_terms)
                if frag:
                    hl[f] = [frag]
            if hl:
                hit["highlight"] = hl
        out_hits.append(hit)
    resp = {
        "took": int((_time.perf_counter() - t0) * 1000),
        "timed_out": False,
        "hits": {
            "total": {"value": res.num_hits, "relation": "eq"},
            "max_score": ((float(res.max_score)
                           if res.max_score is not None
                           else (float(res.hits[0].score)
                                 if res.hits else None))
                          if not sort_by else None),
            "hits": out_hits,
        },
    }
    aggs_spec = body.get("aggs") or body.get("aggregations")
    if aggs_spec and getattr(searcher, "searchers", None) == []:
        # an index pattern matching ZERO indices: ES omits the
        # aggregations key entirely (multi-indices/0003)
        aggs_spec = None
    if aggs_spec:
        # ES accepts `aggregations` as a full alias of `aggs` (the
        # reference's facade does too, via a serde alias)
        from .aggregations import aggregate
        shaped_spec = _es_terms_default_size(aggs_spec)
        out = aggregate(searcher, node, shaped_spec)
        # nested ES response document (buckets arrays, key_as_string,
        # metric objects) — the reference's wire shape, pinned by its
        # rest-api-tests aggregations suite
        resp["aggregations"] = _es_shape_aggs(shaped_spec, out)
    return resp


def _parse_es_ttl(s: str) -> float:
    """ES duration string -> seconds ("30s", "1m", "2h", "500ms")."""
    s = str(s).strip().lower()
    for suffix, mult in (("ms", 1e-3), ("s", 1.0), ("m", 60.0),
                         ("h", 3600.0), ("d", 86400.0)):
        if s.endswith(suffix) and s[:-len(suffix)].replace(
                ".", "", 1).isdigit():
            return float(s[:-len(suffix)]) * mult
    return float(s)  # bare seconds


def _scroll_hits_resp(res) -> dict:
    from .engine import doc_source
    out_hits = []
    for h in res.hits:
        out_hits.append({"_id": f"{h.segment_id}:{h.doc_id}",
                         "_score": float(h.score),
                         "_source": doc_source(h.doc)})
    return {
        "timed_out": False,
        "hits": {"total": {"value": res.num_hits, "relation": "eq"},
                 "max_score": (float(res.hits[0].score) if res.hits
                               else None),
                 "hits": out_hits},
    }


def es_scroll_search(searcher, body: dict, scroll: str = "1m",
                     default_field: str | None = None) -> dict:
    """`GET /{index}/_search?scroll=1m`: open a TTL'd scroll context over
    a plain search body and return the first page with a `_scroll_id`
    (reference: rest_handler.rs scroll param -> scroll_context.rs)."""
    from . import scroll as _scroll
    node = es_to_ast(body.get("query", {"match_all": {}}),
                     default_field or searcher.text_field)
    sort_by, _fmt = _es_sort_by(body.get("sort"))
    res, sid = _scroll.scroll(searcher, node, k=int(body.get("size", 10)),
                              ttl_seconds=_parse_es_ttl(scroll),
                              sort_by=sort_by or None)
    resp = _scroll_hits_resp(res)
    resp["_scroll_id"] = sid
    aggs_spec = body.get("aggs") or body.get("aggregations")
    if aggs_spec:
        # aggregations ride on the FIRST scroll page only, like the
        # reference (scroll_context keeps hits, not aggs)
        from .aggregations import aggregate
        shaped_spec = _es_terms_default_size(aggs_spec)
        resp["aggregations"] = _es_shape_aggs(
            shaped_spec, aggregate(searcher, node, shaped_spec))
    return resp


def es_scroll(scroll_id: str) -> dict:
    """`POST /_search/scroll`: next page; 404-shaped error for an
    expired or unknown context (the reference's behavior)."""
    from . import scroll as _scroll
    try:
        res = _scroll.scroll_next(scroll_id)
    except KeyError:
        return {"error": {"type": "search_context_missing_exception",
                          "reason": "No search context found for id "
                                    f"[{scroll_id}]"},
                "status": 404}
    resp = _scroll_hits_resp(res)
    resp["_scroll_id"] = scroll_id
    return resp


def es_clear_scroll(scroll_id: str) -> dict:
    """`DELETE /_search/scroll`. Like ES, clearing an unknown/expired
    id succeeds with num_freed 0."""
    from . import scroll as _scroll
    freed = _scroll.scroll_clear(scroll_id)
    return {"succeeded": True, "num_freed": 1 if freed else 0}


def es_count(searcher, body: dict | None = None,
             default_field: str | None = None) -> dict:
    """ES `_count` (rest_handler.rs es_compat_index_count): exact match
    count of the query, no hits."""
    node = es_to_ast((body or {}).get("query", {"match_all": {}}),
                     default_field or searcher.text_field)
    return {"count": int(searcher.count(node))}


def _seg_ts_overlaps(seg: dict, ts_field: str | None,
                     start_s, end_s) -> bool:
    """[start,end) epoch-seconds filter against a segment's timestamp
    column stats (list_fields time filtering, the reference prunes
    splits by time_range the same way)."""
    if ts_field is None or (start_s is None and end_s is None):
        return True
    stats = seg.get("col_stats", {}).get(ts_field)
    if stats is None:
        return True  # no stats: never exclude
    lo, hi = stats
    scale = 1000 if seg.get("field_types", {}).get(ts_field) \
        == "datetime" else 1
    if start_s is not None and hi < int(start_s) * scale:
        return False
    if end_s is not None and lo >= int(end_s) * scale:
        return False
    return True


def index_field_caps(searcher, start_timestamp=None, end_timestamp=None,
                     timestamp_field: str | None = None) -> dict:
    """Per-field ES type capabilities DERIVED FROM THE INDEXED DATA,
    per segment then merged (rest_handler.rs
    es_compat_index_field_capabilities over the ListFields service):

    - typed columns map by their stored type (datetime -> date_nanos,
      ip -> ip, ints -> long, floats -> double, bool -> boolean,
      strings -> keyword; the analyzed text column -> text);
    - dynamic paths map by the VALUE KINDS seen per segment: strings
      are text+keyword (keyword only under a raw analyzer), ints are
      long, floats double, int+float within ONE segment marks `long`
      non-aggregatable (the columnar side coerced those ints to
      double — only the indexed terms remain);
    - start/end_timestamp restrict to segments overlapping the range.
    """
    import os as _os

    from .engine import INTERNAL_DOC_FIELDS, get_reader
    out: dict[str, dict[str, dict]] = {}

    def add(field: str, es_t: str, aggregatable: bool,
            searchable: bool = True) -> None:
        e = out.setdefault(field, {}).setdefault(
            es_t, {"type": es_t, "metadata_field": False,
                   "searchable": False, "aggregatable": False})
        e["searchable"] = e["searchable"] or searchable
        e["aggregatable"] = e["aggregatable"] or aggregatable

    for seg in searcher.manifest.segments():
        if not _seg_ts_overlaps(seg, timestamp_field,
                                start_timestamp, end_timestamp):
            continue
        doc_fields = seg.get("doc_fields", {})
        ftypes = seg.get("field_types", {})
        for name, t in doc_fields.items():
            if name.startswith("_") or name in INTERNAL_DOC_FIELDS:
                continue  # engine internals incl. __source/__doc_key
            ft = ftypes.get(name)
            if ft == "datetime":
                add(name, "date_nanos", True)
            elif ft == "ip":
                add(name, "ip", True)
            elif ft == "bytes":
                add(name, "binary", True)
            elif name == searcher.text_field:
                add(name, "text", True)
            elif "int" in str(t):
                add(name, "long", True)
            elif any(x in str(t) for x in ("float", "double")):
                add(name, "double", True)
            elif str(t) == "bool":
                add(name, "boolean", True)
            else:
                add(name, "keyword", True)
        if seg.get("dynamic") and "__source" in doc_fields:
            reader = get_reader(
                _os.path.join(searcher.index_dir, "segments",
                              seg["segment_id"]), searcher.tokenizer)
            kinds = reader.source_field_kinds(
                exclude=set(doc_fields))
            for path, k in kinds.items():
                if k.get("str"):
                    add(path, "keyword", True)
                    if reader.dyn_analyzer(path) != "raw":
                        add(path, "text", True)
                if k.get("bool"):
                    add(path, "boolean", True)
                if k.get("coerced"):
                    add(path, "long", False)   # terms only, no column
                    add(path, "double", True)
                else:
                    if k.get("int"):
                        add(path, "long", True)
                    if k.get("float"):
                        add(path, "double", True)
    if searcher.text_field and searcher.text_field not in out \
            and not searcher.text_field.startswith("_"):
        # the analyzed text field is indexed but often not STORED as a
        # doc column; it is still searchable
        add(searcher.text_field, "text", True)
    return out


def _match_field_patterns(fields: dict, patterns) -> dict:
    if not patterns:
        return fields
    import fnmatch
    if isinstance(patterns, str):
        patterns = [p for p in patterns.split(",") if p]
    return {f: v for f, v in fields.items()
            if any(fnmatch.fnmatch(f, p) for p in patterns)}


def es_field_caps(searcher, fields=None, start_timestamp=None,
                  end_timestamp=None,
                  timestamp_field: str | None = None) -> dict:
    """ES `_field_caps` for one index."""
    caps = index_field_caps(searcher, start_timestamp, end_timestamp,
                            timestamp_field)
    return {"indices": [searcher.manifest.data["index_uid"]],
            "fields": _match_field_patterns(caps, fields)}


def es_field_caps_multi(indexes: list, fields=None,
                        start_timestamp=None, end_timestamp=None
                        ) -> dict:
    """ES `_field_caps` across several indices (wildcard index
    patterns / the global route). Each (field, type) entry carries an
    `indices` list when it is NOT present in every queried index —
    the ES merge convention the reference follows."""
    names = [n for n, _s, _t in indexes]
    merged: dict[str, dict[str, dict]] = {}
    owners: dict[tuple, list] = {}
    for name, searcher, ts_field in indexes:
        caps = index_field_caps(searcher, start_timestamp,
                                end_timestamp, ts_field)
        for f, types in caps.items():
            for es_t, e in types.items():
                cur = merged.setdefault(f, {}).setdefault(
                    es_t, {"type": es_t, "metadata_field": False,
                           "searchable": False, "aggregatable": False})
                cur["searchable"] = cur["searchable"] or e["searchable"]
                cur["aggregatable"] = (cur["aggregatable"]
                                       or e["aggregatable"])
                owners.setdefault((f, es_t), []).append(name)
    for (f, es_t), own in owners.items():
        if sorted(set(own)) != sorted(names):
            merged[f][es_t]["indices"] = sorted(set(own))
    return {"indices": names,
            "fields": _match_field_patterns(merged, fields)}


def _index_stats(searcher) -> tuple[int, int, int]:
    """(num_docs, num_segments, store_bytes) from manifest metadata."""
    import os as _os
    segs = searcher.manifest.segments()
    docs = sum(int(s["num_docs"]) for s in segs)
    size = 0
    for s in segs:
        seg_dir = _os.path.join(searcher.index_dir, "segments",
                                s["segment_id"])
        for f in ("postings.parquet", "termdict.parquet", "docs.parquet"):
            try:
                size += _os.path.getsize(_os.path.join(seg_dir, f))
            except OSError:
                pass
    return docs, len(segs), size


def es_cat_indices(searcher) -> list[dict]:
    """ES `_cat/indices?format=json` row (rest_handler.rs es_compat_cat
    _indices)."""
    docs, nsegs, size = _index_stats(searcher)
    return [{
        "health": "green", "status": "open",
        "index": searcher.manifest.data["index_uid"],
        "docs.count": str(docs), "docs.deleted": "0",
        "store.size": f"{size // 1024}kb",
        "pri.store.size": f"{size // 1024}kb",
        "pri": str(nsegs), "rep": "0",
    }]


def es_resolve_index(root_dir: str, expression: str) -> dict:
    """ES `_resolve/index/<expression>` (rest_handler.rs
    es_compat_resolve_index): index-uid glob patterns resolved against
    the indexes under root_dir, ES response shape (sorted by name; no
    aliases or data streams here)."""
    from .multi import _read_index_uid, resolve_index_patterns
    from ..index.manifest import Manifest
    dirs = resolve_index_patterns(root_dir, expression.split(","))
    # _read_index_uid is the cheap prefix scan resolve_index_patterns
    # itself uses — a full Manifest.load here would re-parse tens of MB
    # of JSON per 100k-segment index just to read one key
    names = sorted({_read_index_uid(Manifest.path(d)) for d in dirs})
    return {"indices": [{"name": n, "attributes": ["open"]}
                        for n in names],
            "aliases": [], "data_streams": []}


def es_cluster_health(searcher=None) -> dict:
    """ES `_cluster/health` (rest_handler.rs es_compat_cluster_health):
    a single-process engine is green by construction; populated with
    real segment counts when a searcher is given."""
    nsegs = len(searcher.manifest.segments()) if searcher else 0
    return {"cluster_name": "quickwit-spark", "status": "green",
            "timed_out": False, "number_of_nodes": 1,
            "number_of_data_nodes": 1, "active_primary_shards": nsegs,
            "active_shards": nsegs, "relocating_shards": 0,
            "initializing_shards": 0, "unassigned_shards": 0,
            "active_shards_percent_as_number": 100.0}


def es_get_mapping(searcher) -> dict:
    """ES `GET /{index}/_mapping` (rest_handler.rs routes the doc
    mapping back in ES property shape). Property types derive from the
    stored doc-map schema plus the typed-fast-field declarations: the
    indexed text field is `text` (with its analyzer named), ip/bytes
    fast fields report `ip`/`binary`, everything else maps parquet
    type -> ES scalar type."""
    ftypes: dict[str, str] = {}
    for seg in searcher.manifest.segments():
        ftypes.update(seg.get("field_types", {}))
    props: dict = {}
    for f in searcher.list_fields():
        name = f["field"]
        if name in ("fieldnorm", "fieldnorm_id"):
            continue  # engine-internal fast fields
        if name == searcher.text_field:
            props[name] = {"type": "text", "analyzer": searcher.tokenizer}
        elif ftypes.get(name) == "ip":
            props[name] = {"type": "ip"}
        elif ftypes.get(name) == "bytes":
            props[name] = {"type": "binary"}
        else:
            t = next(iter(f["types"]))
            props[name] = {"type": _ES_TYPES.get(str(t), "keyword")}
    uid = searcher.manifest.data["index_uid"]
    dynamic = any(s.get("dynamic") for s in searcher.manifest.segments())
    return {uid: {"mappings": {
        "dynamic": "true" if dynamic else "strict",
        "properties": props}}}


def es_delete_by_query(searcher, body: dict, spark=None) -> dict:
    """ES `POST /{index}/_delete_by_query` mapped onto the distributed
    segment-rewrite delete pipeline (index/deletes.py; the reference
    routes delete queries through its delete-task janitor,
    rest_handler.rs es_compat_delete_query + delete_task_api). Returns
    the ES response shape; the given searcher is reload()ed so its next
    query sees the post-delete manifest."""
    from ..index.deletes import apply_delete_query
    node = es_to_ast(body.get("query", {"match_all": {}}),
                     default_field=searcher.text_field)
    stats = apply_delete_query(searcher.index_dir, node, spark=spark)
    searcher.reload()
    return {"took": 0, "timed_out": False,
            "total": stats["docs_deleted"],
            "deleted": stats["docs_deleted"],
            "batches": stats["segments_rewritten"]
            + stats["segments_dropped"],
            "version_conflicts": 0, "noops": 0, "failures": [],
            "retries": {"bulk": 0, "search": 0}}


def es_stats(searcher) -> dict:
    """ES `_stats` (docs + store + segments sections;
    rest_handler.rs es_compat_index_stats)."""
    docs, nsegs, size = _index_stats(searcher)
    body = {"docs": {"count": docs, "deleted": 0},
            "store": {"size_in_bytes": size},
            "segments": {"count": nsegs}}
    uid = searcher.manifest.data["index_uid"]
    return {"_all": {"primaries": body, "total": body},
            "indices": {uid: {"primaries": body, "total": body}}}


def es_stats_multi(searchers: list) -> dict:
    """ES `_stats` over an index pattern: per-index sections plus the
    summed `_all` (rest_handler.rs es_compat_stats)."""
    tot_docs = tot_size = tot_segs = 0
    indices = {}
    for s in searchers:
        docs, nsegs, size = _index_stats(s)
        tot_docs += docs
        tot_size += size
        tot_segs += nsegs
        body = {"docs": {"count": docs, "deleted": 0},
                "store": {"size_in_bytes": size},
                "segments": {"count": nsegs}}
        indices[s.manifest.data["index_uid"]] = {
            "primaries": body, "total": body}
    allb = {"docs": {"count": tot_docs, "deleted": 0},
            "store": {"size_in_bytes": tot_size},
            "segments": {"count": tot_segs}}
    return {"_all": {"primaries": allb, "total": allb},
            "indices": indices}


def es_bulk(config, lines: list[dict],
            doc_sizes: list[int] | None = None) -> dict:
    """ES `_bulk` NDJSON (strict alternation: action line / doc line;
    only `index`/`create` actions — the engine's segments are immutable,
    like the reference's ingest API, rest_handler.rs es_compat_bulk).
    Builds ONE segment from the batch and publishes it atomically with a
    content-keyed checkpoint: replaying the same payload is a no-op
    (exactly-once, publisher.rs:130-155)."""
    import hashlib
    import os as _os
    import time as _time

    import pandas as pd

    from ..index.builder import build_partition
    from ..index.manifest import CheckpointConflict, Manifest
    t0 = _time.perf_counter()
    if len(lines) % 2 != 0:
        raise ValueError("_bulk expects alternating action/doc lines")
    docs = []
    kinds = []
    ids: list = []
    for i in range(0, len(lines), 2):
        action = lines[i]
        kind = ({"index", "create"} & set(action))
        if not kind:
            raise ValueError(f"unsupported bulk action: {list(action)}")
        k = "create" if "create" in action else "index"
        kinds.append(k)
        ids.append(action[k].get("_id")
                   if isinstance(action.get(k), dict) else None)
        docs.append(lines[i + 1])
    payload_sha = hashlib.sha256(repr(lines).encode()).digest()
    mapper = config.__dict__.get("_mapper")
    error_by_ord: dict[int, str] = {}
    if mapper is not None:
        # doc-mapper config (reference-shaped): project raw JSON docs
        # into the build columns; synthesized doc ids are derived from
        # the payload sha, so a replayed batch maps to identical ids
        doc_errors: list = []
        pdf = mapper.project(docs, payload_sha.hex()[:16],
                             errors=doc_errors, sizes=doc_sizes)
        error_by_ord = {e["ordinal"]: e["reason"] for e in doc_errors}
        if pdf.empty:
            # every doc invalid: nothing to publish, report per-doc
            # failures (the reference's bulk reports doc errors
            # without failing the request — items carry
            # document_parsing_exception, es_compat bulk 0005)
            return {"took": int((_time.perf_counter() - t0) * 1000),
                    "errors": True,
                    "items": _bulk_items(config.index_uid, kinds, ids,
                                         "noop", 200, error_by_ord)}
    else:
        pdf = pd.DataFrame(docs)
    # full-strength content key: 4 bytes would birthday-collide after
    # ~2^16 batches and silently drop distinct payloads as replays
    ckpt_key = f"bulk-{payload_sha.hex()}"
    # the partition id participates in the content-addressed segment id
    # (builder.py hashes index_uid:pid:chunk + doc keys) — full 8 bytes
    # so two batches re-indexing the SAME doc keys with different
    # content cannot collide onto one segment id and overwrite
    pid = (1 << 40) + int.from_bytes(payload_sha[:8], "little")
    pdf["_pid"] = pid
    manifest = Manifest.load_or_create(
        config.index_dir, config.index_uid,
        config.manifest_config())
    segments_root = _os.path.join(config.index_dir, "segments")
    _os.makedirs(segments_root, exist_ok=True)
    errors = False
    try:
        if manifest.checkpoint(ckpt_key) is not None:
            raise CheckpointConflict(ckpt_key)
        rows = build_partition(pdf, config, segments_root)
        manifest.publish(rows, checkpoint_delta={
            ckpt_key: (None, f"bulk;docs={len(pdf)}")})
        result = "created"
    except CheckpointConflict:
        result = "noop"  # identical payload already published
    # each item is keyed by ITS action (clients read
    # resp["items"][i]["create"] for create lines); a replayed batch
    # reports 200/noop, not a fabricated 201-created. Invalid docs get
    # per-item 400s while the valid remainder still publishes.
    status = 201 if result == "created" else 200
    items = _bulk_items(config.index_uid, kinds, ids, result, status,
                        error_by_ord)
    return {"took": int((_time.perf_counter() - t0) * 1000),
            "errors": errors or bool(error_by_ord), "items": items}


def _bulk_items(index_uid: str, kinds: list, ids: list, result: str,
                status: int, error_by_ord: dict) -> list:
    items = []
    for i, k in enumerate(kinds):
        if i in error_by_ord:
            body = {"_index": index_uid, "status": 400,
                    "error": {"type": "document_parsing_exception",
                              "reason": error_by_ord[i]}}
        else:
            body = {"_index": index_uid, "status": status,
                    "result": result}
        if ids[i] is not None:
            body["_id"] = str(ids[i])
        items.append({k: body})
    return items


def es_msearch(searcher, lines: list[dict],
               default_field: str | None = None,
               headers: bool = True) -> dict:
    """ES `_msearch`: strict NDJSON alternation — every even line is a
    header (may be `{}`; single-index engine ignores it), every odd line a
    body (rest_handler.rs:806+). headers=False accepts bodies only; the
    framing is explicit, never guessed from a body's keys (a body without
    query/aggs/size is still a body)."""
    if headers:
        if len(lines) % 2 != 0:
            raise ValueError(
                "_msearch expects alternating header/body lines; got an "
                "odd count (pass headers=False for body-only input)")
        bodies = lines[1::2]
    else:
        bodies = list(lines)
    # batched fast path: plain-search bodies (no sort / search_after —
    # aggs run separately and don't consume hits) share ONE distributed
    # leaf fan-out via search_many instead of N engine calls
    pre: dict[int, object] = {}
    if getattr(searcher, "spark", None) is not None \
            and hasattr(searcher, "search_many"):
        simple = [i for i, b in enumerate(bodies)
                  if not b.get("sort") and not b.get("search_after")]
        if len(simple) > 1:
            df = default_field or searcher.text_field
            nodes = [es_to_ast(bodies[i].get("query", {"match_all": {}}),
                               df) for i in simple]
            rs = searcher.search_many(
                nodes,
                k=[int(bodies[i].get("size", 10)) for i in simple],
                offset=[int(bodies[i].get("from", 0)) for i in simple])
            pre = dict(zip(simple, rs))
    responses = [es_search(searcher, body, default_field,
                           _pre=pre.get(i))
                 for i, body in enumerate(bodies)]
    return {"responses": responses}
