"""Query AST, mirroring the reference's QueryAst surface
(quickwit-query/src/query_ast/mod.rs:50-70):
Bool, Term, TermSet, FieldPresence, FullText, Range, Wildcard, Regex,
MatchAll, MatchNone, Boost, Phrase, PhrasePrefix. (UserInput is handled by
the parser.)
"""

from __future__ import annotations

from dataclasses import dataclass, field as dfield
from typing import Any, Optional, Sequence


class Node:
    pass


@dataclass(frozen=True)
class Term(Node):
    field: str
    value: str


@dataclass(frozen=True)
class TermSet(Node):
    field: str
    values: tuple[str, ...]


@dataclass(frozen=True)
class FullText(Node):
    """Query text is tokenized with the field's tokenizer; tokens combined
    with `operator` (and/or). 0 tokens => MatchNone — unless
    `zero_terms_all` (ES match zero_terms_query: "all") flips that to
    MatchAll. 1 token => Term.
    (reference: full_text_query.rs:36-163)"""
    field: str
    text: str
    operator: str = "and"  # reference default operator is AND
    zero_terms_all: bool = False


@dataclass(frozen=True)
class Phrase(Node):
    """Tokens must appear at consecutive positions (slop 0) or within
    `slop` positional moves (reference: FullTextMode::Phrase{slop},
    full_text_query.rs:36-163). On a freq-only index the engine degrades
    to intersection — the reference's PhraseFallbackToIntersection mode."""
    field: str
    text: str
    slop: int = 0
    # ES `analyzer` override: tokenize the QUERY text with this
    # analyzer instead of the field's (match_phrase analyzer option)
    analyzer: str | None = None


@dataclass(frozen=True)
class PhrasePrefix(Node):
    """Phrase whose last token is a prefix, expanded against the term dict
    up to max_expansions terms (reference: phrase_prefix_query.rs,
    default max_expansions 50, user_input_query.rs:33)."""
    field: str
    text: str
    max_expansions: int = 50
    analyzer: str | None = None


@dataclass(frozen=True)
class Range(Node):
    field: str
    gte: Optional[Any] = None
    gt: Optional[Any] = None
    lte: Optional[Any] = None
    lt: Optional[Any] = None


@dataclass(frozen=True)
class FieldPresence(Node):
    field: str


@dataclass(frozen=True)
class Wildcard(Node):
    field: str
    pattern: str  # `*` and `?` wildcards


@dataclass(frozen=True)
class Regex(Node):
    field: str
    pattern: str


@dataclass(frozen=True)
class MatchAll(Node):
    pass


@dataclass(frozen=True)
class MatchNone(Node):
    pass


@dataclass(frozen=True)
class Boost(Node):
    inner: Node
    boost: float


@dataclass(frozen=True)
class Bool(Node):
    """must/should participate in scoring; filter/must_not do not.

    minimum_should_match=None is the ES/reference default: with no
    must/filter clauses at least 1 should clause must match; with
    must/filter present, should clauses only add score. An EXPLICIT value
    is always enforced, even alongside must/filter
    (bool_query.rs minimum_should_match semantics)."""
    must: tuple[Node, ...] = ()
    must_not: tuple[Node, ...] = ()
    should: tuple[Node, ...] = ()
    filter: tuple[Node, ...] = ()
    minimum_should_match: int | None = None


_NODE_TYPES: dict[str, type] = {}


def _register_node_types() -> None:
    for cls in (Term, TermSet, FullText, Phrase, PhrasePrefix, Range,
                FieldPresence, Wildcard, Regex, MatchAll, MatchNone,
                Boost, Bool):
        _NODE_TYPES[cls.__name__] = cls


def ast_to_json(node: Node) -> dict:
    """Tagged-dict encoding of the AST ({"t": type, <fields>}), safe to
    persist in world-readable files (the manifest's delete tasks). The
    reference persists serialized protos — never code objects; pickle
    of attacker-writable files is arbitrary code execution."""
    import dataclasses
    import datetime
    if not _NODE_TYPES:
        _register_node_types()
    out: dict[str, Any] = {"t": type(node).__name__}
    for f in dataclasses.fields(node):
        v = getattr(node, f.name)
        if isinstance(v, Node):
            v = ast_to_json(v)
        elif isinstance(v, tuple):
            v = [ast_to_json(x) if isinstance(x, Node) else x for x in v]
        elif isinstance(v, datetime.datetime):
            v = {"__dt__": v.isoformat()}
        out[f.name] = v
    return out


def ast_from_json(d: dict) -> Node:
    """Inverse of ast_to_json. Unknown tags raise ValueError (never
    executes anything from the payload)."""
    import dataclasses
    import datetime
    if not _NODE_TYPES:
        _register_node_types()
    cls = _NODE_TYPES.get(d.get("t"))
    if cls is None:
        raise ValueError(f"unknown AST node tag {d.get('t')!r}")
    kw: dict[str, Any] = {}
    for f in dataclasses.fields(cls):
        if f.name not in d:
            continue
        v = d[f.name]
        if isinstance(v, dict) and "t" in v:
            v = ast_from_json(v)
        elif isinstance(v, dict) and "__dt__" in v:
            v = datetime.datetime.fromisoformat(v["__dt__"])
        elif isinstance(v, list):
            v = tuple(ast_from_json(x) if isinstance(x, dict) and "t" in x
                      else x for x in v)
        kw[f.name] = v
    return cls(**kw)


def collect_range_filters(node: Node) -> list["Range"]:
    """Extract Range constraints from conjunctive (must/filter) positions —
    used for segment min/max pruning (the reference extracts timestamp
    bounds from the AST the same way, root.rs:1464+)."""
    out: list[Range] = []
    if isinstance(node, Range):
        out.append(node)
    elif isinstance(node, Boost):
        out.extend(collect_range_filters(node.inner))
    elif isinstance(node, Bool):
        for child in list(node.must) + list(node.filter):
            out.extend(collect_range_filters(child))
    return out


def collect_tag_filters(node: Node, tag_fields: Sequence[str]) -> list[tuple[str, set[str]]]:
    """Extract (field, allowed-values) constraints usable for segment tag
    pruning (reference: quickwit-doc-mapper/src/tag_pruning.rs:35-120).
    Conservative: only top-level must/filter positions produce constraints."""
    out: list[tuple[str, set[str]]] = []
    if isinstance(node, Term) and node.field in tag_fields:
        out.append((node.field, {node.value}))
    elif isinstance(node, TermSet) and node.field in tag_fields:
        out.append((node.field, set(node.values)))
    elif isinstance(node, FullText) and node.field in tag_fields:
        # the parser emits FullText for `field:value`; on a tag column the
        # engine evaluates it as an exact attribute term, so it prunes the
        # same way (tag values are never tokenized)
        out.append((node.field, {node.text}))
    elif isinstance(node, Boost):
        out.extend(collect_tag_filters(node.inner, tag_fields))
    elif isinstance(node, Bool):
        for child in list(node.must) + list(node.filter):
            out.extend(collect_tag_filters(child, tag_fields))
    return out
