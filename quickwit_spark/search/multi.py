"""Multi-index search: one request over several indexes (the reference
root resolves index-id PATTERNS via the metastore and fans out across
every matching index — root.rs plan_splits_for_root_search /
list_indexes_metadata; quickwit-metastore index patterns).

The cross-index merge key mirrors the reference's global order: score
desc (or a sort's keys), then the doc address (index_uid, segment_id,
doc_id) in the first order's direction, through the engine's root merge."""

from __future__ import annotations

import fnmatch
import os

from .engine import (IndexSearcher, SearchHit, SearchResult, _merged_result,
                     _request_scope, sorted_search)


def resolve_index_patterns(root_dir: str, patterns: list[str]
                           ) -> list[str]:
    """Index dirs under root_dir whose index_uid matches any glob
    pattern (`logs-*` style, rest_handler index-id patterns). An index
    dir is any direct child holding a manifest.json."""
    from ..index.manifest import Manifest
    out = []
    for name in sorted(os.listdir(root_dir)):
        d = os.path.join(root_dir, name)
        if not os.path.isfile(Manifest.path(d)):
            continue
        uid = _read_index_uid(Manifest.path(d))
        if any(fnmatch.fnmatch(uid, p) for p in patterns):
            out.append(d)
    return out


def _read_index_uid(manifest_path: str) -> str:
    """Just the index_uid, without json-parsing the whole manifest —
    at 100k segment rows the full parse is tens of MB of JSON per
    candidate index per pattern resolution. Each textual match is
    verified to sit at TOP-LEVEL nesting (depth-1 brace scan of the
    prefix, string-aware): a nested "index_uid" key — e.g. a user doc
    field or source name inside "config"/"checkpoints", both of which
    sort before "index_uid" under sort_keys=True — can no longer
    shadow the real one. Falls back to a full parse when no top-level
    match exists. The scanned prefix ends at the first top-level match,
    well before the "segments" bulk."""
    import json
    import re
    with open(manifest_path, "rb") as f:
        raw = f.read()
    for m in re.finditer(rb'"index_uid":\s*"((?:[^"\\]|\\.)*)"', raw):
        if _json_depth_at(raw, m.start()) == 1:
            return json.loads(b'"' + m.group(1) + b'"')
    return json.loads(raw)["index_uid"]


def _json_depth_at(raw: bytes, pos: int) -> int:
    """Brace/bracket nesting depth at byte offset `pos` (-1 if inside a
    string literal): one pass over the prefix, escape-aware."""
    depth = 0
    in_str = False
    esc = False
    for c in raw[:pos]:
        if in_str:
            if esc:
                esc = False
            elif c == 0x5C:  # backslash
                esc = True
            elif c == 0x22:  # quote
                in_str = False
        elif c == 0x22:
            in_str = True
        elif c in (0x7B, 0x5B):  # { [
            depth += 1
        elif c in (0x7D, 0x5D):  # } ]
            depth -= 1
    return -1 if in_str else depth


# ---------------------------------------------------------------------------
# UnionSearcher: the ES facade over index PATTERNS
# ---------------------------------------------------------------------------

def resolve_es_index_patterns(root_dir: str, expr: str,
                              existing: list[str]) -> list[str]:
    """ES index expression -> concrete index ids: comma list of globs,
    `-pattern` entries EXCLUDE (es_compatibility/multi-indices:
    `gharchive-*,-gharchive-2`). A CONCRETE missing name raises
    KeyError (ES 404s those); an unmatched wildcard matches nothing."""
    import fnmatch as _fn
    pos: list[str] = []
    neg: list[str] = []
    for part in expr.split(","):
        part = part.strip()
        if not part:
            continue
        if part.startswith("-"):
            neg.append(part[1:])
        else:
            pos.append(part)
    for p in pos:
        if "*" not in p and "?" not in p and p not in existing:
            raise KeyError(p)
    out = [n for n in sorted(existing)
           if any(_fn.fnmatch(n, p) for p in pos)
           and not any(_fn.fnmatch(n, p) for p in neg)]
    return out


class UnionSearcher:
    """One ES search over several indexes (the reference root resolves
    index-id patterns and fans out, merging leaf responses globally —
    root.rs plan_splits_for_root_search). Hits carry a namespaced
    segment id `uid/segment` so `_index` and cursors stay unambiguous."""

    def __init__(self, index_dirs: list[str], spark=None):
        self.index_dirs = list(index_dirs)
        self.searchers = [IndexSearcher(d, spark=spark)
                          for d in index_dirs]
        self.uids = [s.manifest.data["index_uid"]
                     for s in self.searchers]
        self.text_field = (self.searchers[0].text_field
                           if self.searchers else "content")
        self.tokenizer = (self.searchers[0].tokenizer
                          if self.searchers else "default")
        self._spark = spark

    # the serving layer attaches a session lazily for aggregations
    @property
    def spark(self):
        return self._spark

    @spark.setter
    def spark(self, sess):
        self._spark = sess
        for s in self.searchers:
            s.spark = sess

    @property
    def index_uid(self) -> str:
        return ",".join(self.uids)

    @property
    def has_dynamic(self) -> bool:
        return any(getattr(s, "has_dynamic", False)
                   for s in self.searchers)

    @property
    def record(self) -> str:
        recs = {getattr(s, "record", "freq") for s in self.searchers}
        return "position" if "position" in recs else \
            (recs.pop() if recs else "freq")

    def parse(self, query):
        if self.searchers:
            return self.searchers[0].parse(query)
        from . import ast as A
        return query if isinstance(query, A.Node) else A.MatchAll()

    def count(self, query) -> int:
        return sum(s.count(s.parse(query)) for s in self.searchers)

    def list_fields(self) -> list:
        seen: dict = {}
        for s in self.searchers:
            for f in s.list_fields():
                seen.setdefault(f["field"], f)
        return list(seen.values())

    @_request_scope()
    def search(self, query, k: int = 10, offset: int = 0,
               fetch_fields: bool = True, count_all: bool = True,
               search_after=None) -> SearchResult:
        """Every member's leaf parts, keyed (uid, segment_id), go
        through the engine's one root merge; then only the k winners
        are fetched, through their member's _fetch."""
        need = offset + k
        # translate a global cursor into per-index cursors so each
        # index scores its top `need` rows AFTER the cursor (scoring
        # without one would starve deep pages: the cursor could sit
        # past every returned row). Global order is (score desc, uid
        # desc, segment desc, doc desc): for an index ABOVE the
        # cursor's uid every equal-score row is already consumed
        # (sentinel seg "" excludes them); below it they all qualify
        # (sentinel seg ￿ includes them). The leaf filter is exact
        # for all three, so the merge needs no second filter.
        per_index_sa: dict[str, tuple] = {}
        if search_after is not None:
            sc = float(search_after[0])
            cuid, _, cseg = str(search_after[1]).partition("/")
            sdoc = int(search_after[2])
            for uid in self.uids:
                if uid == cuid:
                    per_index_sa[uid] = (sc, cseg, sdoc)
                elif uid > cuid:
                    per_index_sa[uid] = (sc, "", -1)
                else:
                    per_index_sa[uid] = (sc, "￿", 1 << 62)
        use_wand = not count_all and search_after is None
        parts = []
        for uid, s in zip(self.uids, self.searchers):
            parts.extend(((uid, sid), cnt, top) for sid, cnt, top in
                         s._leaf_parts(s.parse(query), need, use_wand,
                                       per_index_sa.get(uid)))
        # the (uid, segment_id) keys merge in tuple order: the joined
        # "uid/segment" string misorders uids where one is a prefix of
        # another ('/' > '-')
        return _merged_result(parts, k, offset, fetch_fields, self._fetch)

    @_request_scope()
    def sort_search(self, query, k: int = 10,
                    sort_by: tuple = (("_score", "desc"),),
                    fetch_fields: bool = True, search_after=None,
                    count_all: bool = True, offset: int = 0
                    ) -> SearchResult:
        """IndexSearcher.sort_search over every member, through one root
        merge (engine.sorted_search)."""
        return sorted_search(self, list(zip(self.uids, self.searchers)),
                             query, k, sort_by, fetch_fields, search_after,
                             count_all, offset)

    def _fetch(self, keys: list[tuple[str, str]], dids: list[int],
               scores: list[float]) -> list[SearchHit]:
        """The winners' docs through their member's _fetch, in merge
        order; hits name their segment `uid/segment_id`."""
        by_uid: dict[str, list[int]] = {}
        for i, (uid, _sid) in enumerate(keys):
            by_uid.setdefault(uid, []).append(i)
        member = dict(zip(self.uids, self.searchers))
        hits: list = [None] * len(keys)
        for uid, idx in by_uid.items():
            fetched = member[uid]._fetch([keys[i][1] for i in idx],
                                         [dids[i] for i in idx],
                                         [scores[i] for i in idx])
            for i, h in zip(idx, fetched):
                hits[i] = SearchHit(h.score, f"{uid}/{h.segment_id}",
                                    h.doc_id, h.doc)
        return hits

    def matched_docs(self, query, columns: list[str]):
        frames = [s.matched_docs(s.parse(query), columns)
                  for s in self.searchers]
        if not frames:
            # zero matched indexes: an EMPTY relation (aggregations
            # over a no-match pattern return empty buckets, like ES)
            if self._spark is not None:
                import pyspark.sql.types as T
                fields = [T.StructField("segment_id", T.StringType()),
                          T.StructField("doc_id", T.LongType())]
                fields += [T.StructField(c, T.StringType())
                           for c in columns
                           if c not in ("segment_id", "doc_id")]
                return self._spark.createDataFrame(
                    [], T.StructType(fields))
            import pandas as pd
            return pd.DataFrame(columns=["segment_id", "doc_id",
                                         *columns])
        if hasattr(frames[0], "iloc"):
            import pandas as pd
            return pd.concat(frames, ignore_index=True)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out
