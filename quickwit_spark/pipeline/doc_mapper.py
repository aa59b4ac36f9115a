"""Doc mapper: reference-style ``doc_mapping`` documents -> engine
build columns.

The reference's ``quickwit-doc-mapper`` turns a JSON doc mapping
(nested ``object`` fields, ``json`` fields, typed leaves, a dynamic
catch-all) plus raw JSON documents into tantivy fields.  This module
is the Spark-engine analog: it parses the SAME mapping documents
(doc_mapper/field_mapping_entry.rs, doc_mapping.rs) and projects raw
JSON docs into the flat column layout the segment builder consumes:

- typed leaves (u64/i64/f64/bool/datetime/ip/bytes) -> doc columns
  (fast fields: Range/sort/agg + min-max pruning);
- ONE tokenized text field backs the primary BM25 machinery
  (default_search_fields[0] when tokenized, else the first
  analyzed+indexed text leaf);
- every OTHER indexed text/json/object-text leaf routes through the
  dynamic-term namespace with ITS OWN analyzer (exact terms under
  ``raw`` — the QuickwitJsonOptions default,
  field_mapping_entry.rs:405-411 — token terms otherwise);
- unmapped fields land in the dynamic catch-all when ``mode:
  dynamic`` (the reference default, doc_mapping.rs:86-89);
- the original doc JSON is stored per row (``__source``) and served
  as ES ``_source``;
- when ``doc_id_fields`` is absent (reference configs autogenerate
  ULIDs) doc ids are synthesized deterministically from the ingest
  batch: ``sha(batch)-ordinal`` — unique per ingested doc like a
  ULID, but replayable, so exactly-once publish still holds.

Datetime handling follows quickwit-datetime: ``input_formats``
default [rfc3339, unix_timestamp]; integers are scaled by magnitude
(secs/millis/micros/nanos); values are stored as epoch millis i64.
"""

from __future__ import annotations

import calendar
import datetime as _dt
import hashlib
import json
import re
from dataclasses import dataclass, field as _field

import numpy as np
import pandas as pd

DOC_KEY_COL = "__doc_key"
SOURCE_COL = "__source"
TEXT_STUB_COL = "__text"

_TYPED = {"u64", "i64", "f64", "bool", "datetime", "ip", "bytes"}


class MappingError(ValueError):
    pass


# ---------------------------------------------------------------------------
# datetime parsing (quickwit-datetime date_time_parsing.rs)
# ---------------------------------------------------------------------------

_RFC3339_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})[Tt ](\d{2}):(\d{2}):(\d{2})"
    r"(?:\.(\d{1,9}))?(Z|z|[+-]\d{2}:?\d{2})?$")
_DATE_RE = re.compile(r"^(\d{4})[-/](\d{1,2})[-/](\d{1,2})$")


def _scale_epoch_to_millis(v: float) -> int:
    """Integer timestamps are interpreted by magnitude: secs / millis /
    micros / nanos (date_time_parsing.rs parse_timestamp ranges)."""
    a = abs(v)
    if a < 1e11:          # seconds (covers 1973..5138)
        return int(v * 1000)
    if a < 1e14:          # milliseconds
        return int(v)
    if a < 1e17:          # microseconds
        return int(v // 1000)
    return int(v // 1_000_000)  # nanoseconds


def parse_rfc3339_millis(s: str) -> int | None:
    m = _RFC3339_RE.match(s.strip())
    if not m:
        return None
    y, mo, d, h, mi, sec = (int(m.group(i)) for i in range(1, 7))
    # timegm performs calendar arithmetic without validating ranges —
    # "2015-13-45T99:99:99Z" would silently roll over
    if not (1 <= mo <= 12 and 1 <= d <= 31 and h <= 23
            and mi <= 59 and sec <= 60):
        return None
    frac = m.group(7) or ""
    millis_frac = int((frac + "000")[:3]) if frac else 0
    try:
        base = calendar.timegm((y, mo, d, h, mi, sec, 0, 0, 0)) * 1000 \
            + millis_frac
    except (ValueError, OverflowError):
        return None
    tz = m.group(8)
    if tz and tz not in ("Z", "z"):
        sign = 1 if tz[0] == "+" else -1
        tz = tz[1:].replace(":", "")
        off = int(tz[:2]) * 3600 + int(tz[2:4]) * 60
        base -= sign * off * 1000
    return base


def parse_datetime_value(value, input_formats=("rfc3339",
                                               "unix_timestamp")
                         ) -> int | None:
    """One mapped datetime VALUE -> epoch millis (None = unparseable,
    which the caller surfaces as a malformed-doc error or null)."""
    if value is None:
        return None
    if isinstance(value, bool):
        return None
    if isinstance(value, (int, float)):
        if "unix_timestamp" not in input_formats:
            return None
        if isinstance(value, float) and (np.isnan(value)
                                         or np.isinf(value)):
            return None
        return _scale_epoch_to_millis(value)
    if isinstance(value, str):
        s = value.strip()
        if "rfc3339" in input_formats:
            ms = parse_rfc3339_millis(s)
            if ms is not None:
                return ms
        if "unix_timestamp" in input_formats:
            try:
                return _scale_epoch_to_millis(float(s))
            except ValueError:
                pass
        for fmt in input_formats:
            if fmt in ("rfc3339", "unix_timestamp"):
                continue
            ms = _parse_strptime_like(s, fmt)
            if ms is not None:
                return ms
    return None


def _java_fmt_to_strptime(fmt: str) -> str:
    """Minimal java-datetime-format translation (the reference accepts
    java patterns for custom input_formats, java_date_time_format.rs):
    yyyy MM dd HH mm ss -> %Y %m %d %H %M %S; 'quoted' literals pass
    through verbatim; S-runs become %f (strptime accepts 1-6 frac
    digits)."""
    out = []
    i = 0
    n = len(fmt)
    while i < n:
        c = fmt[i]
        if c == "'":
            j = fmt.find("'", i + 1)
            if j == -1:
                out.append(fmt[i + 1:])
                break
            out.append(fmt[i + 1:j] or "'")  # '' = literal quote
            i = j + 1
            continue
        for a, b in (("yyyy", "%Y"), ("MM", "%m"), ("dd", "%d"),
                     ("HH", "%H"), ("mm", "%M"), ("ss", "%S")):
            if fmt.startswith(a, i):
                out.append(b)
                i += len(a)
                break
        else:
            if c == "S":
                j = i
                while j < n and fmt[j] == "S":
                    j += 1
                out.append("%f")
                i = j
            else:
                out.append(c)
                i += 1
    return "".join(out)


def parse_java_format_millis(s: str, fmt: str) -> int | None:
    """One datetime literal under an explicit java-style format (the
    ES range query's `format` option) -> epoch millis."""
    return _parse_strptime_like(s, fmt)


def _parse_strptime_like(s: str, fmt: str) -> int | None:
    try:
        dt = _dt.datetime.strptime(s, _java_fmt_to_strptime(fmt))
    except ValueError:
        return None
    return int(calendar.timegm(dt.timetuple()) * 1000
               + dt.microsecond // 1000)


def parse_datetime_bound(s) -> int | None:
    """Query-side datetime literal -> epoch millis.  Accepts rfc3339,
    bare dates (``2023-05-25`` / ``2023/05/25`` — the reference's
    lenient query parsing), and epoch numbers scaled by magnitude."""
    if isinstance(s, (int, float)) and not isinstance(s, bool):
        return _scale_epoch_to_millis(s)
    if not isinstance(s, str):
        return None
    t = s.strip()
    ms = parse_rfc3339_millis(t)
    if ms is not None:
        return ms
    m = _DATE_RE.match(t)
    if m:
        y, mo, d = (int(m.group(i)) for i in range(1, 4))
        try:
            return calendar.timegm((y, mo, d, 0, 0, 0, 0, 0, 0)) * 1000
        except (ValueError, OverflowError):
            return None
    try:
        return _scale_epoch_to_millis(float(t))
    except ValueError:
        return None


def format_datetime_millis(ms: int, output_format: str = "rfc3339"):
    if output_format == "unix_timestamp_secs":
        return ms // 1000
    if output_format == "unix_timestamp_millis":
        return ms
    if output_format == "unix_timestamp_micros":
        return ms * 1000
    if output_format == "unix_timestamp_nanos":
        return ms * 1_000_000
    dt = _dt.datetime.fromtimestamp(ms / 1000.0, tz=_dt.timezone.utc)
    if ms % 1000:
        return dt.strftime("%Y-%m-%dT%H:%M:%S.") \
            + f"{ms % 1000:03d}Z"
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


# ---------------------------------------------------------------------------
# mapping spec
# ---------------------------------------------------------------------------

@dataclass
class LeafSpec:
    path: str                  # dotted
    ftype: str                 # text|json|u64|i64|f64|bool|datetime|ip|bytes
    tokenizer: str | None = None
    record: str = "basic"
    fast: bool = False
    indexed: bool = True
    stored: bool = True
    input_formats: tuple = ("rfc3339", "unix_timestamp")
    output_format: str = "rfc3339"
    fast_precision: str = "seconds"
    extra: dict = _field(default_factory=dict)


def _leaf_values(node, out: list) -> None:
    """Every scalar leaf value of a JSON tree, paths dropped (the
    concatenate field indexes VALUES only)."""
    if isinstance(node, dict):
        for v in node.values():
            _leaf_values(v, out)
    elif isinstance(node, (list, tuple)):
        for v in node:
            _leaf_values(v, out)
    elif node is not None:
        out.append(node)


def _walk_mappings(fms: list, prefix: str, out: list[LeafSpec]) -> None:
    for fm in fms:
        if not isinstance(fm, dict) or not isinstance(fm.get("name"),
                                                      str):
            raise MappingError("each field mapping needs a string "
                               "`name`")
        name = fm["name"]
        path = f"{prefix}.{name}" if prefix else name
        ftype = fm.get("type", "text")
        if ftype == "object":
            _walk_mappings(fm.get("field_mappings") or [], path, out)
            continue
        array = False
        if ftype.startswith("array<") and ftype.endswith(">"):
            array, ftype = True, ftype[6:-1]
        if ftype not in _TYPED and ftype not in ("text", "json",
                                                 "concatenate"):
            raise MappingError(
                f"unsupported field type {ftype!r} for {path!r}")
        ifmts = tuple(fm.get("input_formats")
                      or ("rfc3339", "unix_timestamp"))
        ofmt = fm.get("output_format") or "rfc3339"
        spec = LeafSpec(
            path=path, ftype=ftype,
            tokenizer=fm.get("tokenizer"),
            record=fm.get("record", "basic"),
            fast=bool(fm.get("fast", ftype == "json" and False)),
            indexed=bool(fm.get("indexed", True)),
            stored=bool(fm.get("stored", True)),
            input_formats=ifmts, output_format=ofmt,
            fast_precision=fm.get("fast_precision", "seconds"),
            extra={k: fm[k] for k in ("concatenate_fields", "fields",
                                      "fieldnorms",
                                      "include_dynamic_fields")
                   if k in fm})
        if array:
            spec.extra["array"] = True
        out.append(spec)


class DocMapper:
    """Parsed reference doc mapping + projection of raw docs."""

    def __init__(self, doc: dict):
        dm = doc.get("doc_mapping") or {}
        self.index_id = doc.get("index_id", "")
        self.leaves: list[LeafSpec] = []
        _walk_mappings(dm.get("field_mappings") or [], "", self.leaves)
        self.by_path = {s.path: s for s in self.leaves}
        self.timestamp_field = dm.get("timestamp_field")
        if self.timestamp_field is not None \
                and self.timestamp_field not in self.by_path:
            raise MappingError(
                f"timestamp_field {self.timestamp_field!r} is not a "
                "mapped field")
        self.tag_fields = tuple(dm.get("tag_fields") or ())
        self.index_field_presence = bool(
            dm.get("index_field_presence", False))
        # store_document_size: true adds the hidden `_doc_length` fast
        # field holding each doc's ingested byte size (aggregatable,
        # never emitted in _source — rest-api-tests aggregations/0002)
        self.store_document_size = bool(
            dm.get("store_document_size", False))
        # reference default mode is dynamic (doc_mapping.rs:86-89)
        mode = dm.get("mode", "dynamic")
        if mode not in ("strict", "dynamic", "lenient"):
            raise MappingError(f"doc_mapping.mode must be "
                               f"strict|dynamic|lenient, got {mode!r}")
        self.mode = mode
        dyn = dm.get("dynamic_mapping") or {}
        if dyn and mode != "dynamic":
            raise MappingError("`dynamic_mapping` is only allowed "
                               "with mode=dynamic")
        # QuickwitJsonOptions::default_dynamic: tokenizer raw, record
        # basic, expand_dots true, fast enabled
        self.dynamic_tokenizer = dyn.get("tokenizer", "raw")
        self.dynamic_record = dyn.get("record", "basic")
        fast_opt = dyn.get("fast")
        self.dynamic_fast_normalizer = (
            fast_opt.get("normalizer")
            if isinstance(fast_opt, dict) else None)
        self.expand_dots = bool(dyn.get("expand_dots", True))
        self.dynamic_indexed = bool(dyn.get("indexed", True))
        ss = doc.get("search_settings") or {}
        self.default_search_fields = list(
            ss.get("default_search_fields") or [])
        key_fields = dm.get("doc_id_fields")
        self.auto_doc_id = not key_fields
        self.doc_id_fields = tuple(key_fields or ())
        self._validate_tag_fields()
        self._validate_default_fields()
        self._choose_primary_text()

    def _validate_tag_fields(self) -> None:
        """Tag fields must hold hashable exact values: raw text, u64,
        i64, ip (the reference's tag-allowed types — tokenized text,
        f64 and bool are refused, rest-api-tests tag_fields/0001)."""
        for f in self.tag_fields:
            s = self.by_path.get(f)
            if s is None:
                raise MappingError(f"unknown tag field `{f}`")
            ok = (s.ftype in ("u64", "i64")
                  or (s.ftype == "text"
                      and (s.tokenizer or "default") == "raw"))
            if not ok:
                raise MappingError(
                    f"tag field `{f}` must be raw text, u64 or i64 "
                    f"(got type {s.ftype!r}"
                    + (f", tokenizer {s.tokenizer!r}"
                       if s.ftype == "text" else "") + ")")

    def _resolves_to_json(self, path: str) -> bool:
        for s in self.leaves:
            if s.ftype == "json" and (
                    path == s.path or path.startswith(s.path + ".")):
                return True
        return False

    def _validate_default_fields(self) -> None:
        """default_search_fields must resolve (serialize.rs
        validate_index_config_fields): a mapped indexed leaf, a json
        subtree path, or — in dynamic mode with an indexed dynamic
        field — any free path."""
        for f in self.default_search_fields:
            s = self.by_path.get(f)
            if s is not None:
                if not s.indexed:
                    raise MappingError(
                        f"default search field `{f}` is not indexed")
                continue
            if self._resolves_to_json(f):
                continue
            # a subpath of a mapped NON-json leaf can never resolve
            # (`text.inner` under `text: text` — rest-api-tests
            # default_search_fields/0002)
            owned = any(f.startswith(leaf.path + ".")
                        for leaf in self.leaves
                        if leaf.ftype != "json")
            if self.mode == "dynamic" and not owned:
                if not self.dynamic_indexed:
                    raise MappingError(
                        f"default search field `{f}` is not indexed")
                continue
            raise MappingError(
                f"unknown default search field `{f}`")

    # -- classification ----------------------------------------------------

    def _choose_primary_text(self) -> None:
        def tokenized(s: LeafSpec) -> bool:
            return (s.ftype == "text" and s.indexed
                    and (s.tokenizer or "default") != "raw"
                    and "." not in s.path)
        primary = None
        for name in self.default_search_fields:
            s = self.by_path.get(name)
            if s is not None and tokenized(s):
                primary = s
                break
        if primary is None:
            for s in self.leaves:
                if tokenized(s):
                    primary = s
                    break
        # concatenate fields are NOT primary candidates: their
        # per-source-VALUE semantics (raw tokenizer = one exact token
        # per value, rest-api-tests concat_fields) need the dynamic
        # namespace's value-list emission, not a joined string
        self.primary_text: LeafSpec | None = primary

    def dyn_text_fields(self) -> dict:
        """Mapped paths routed through the dynamic namespace:
        {path: {"tokenizer": str, "record": str}}."""
        out: dict[str, dict] = {}
        for s in self.leaves:
            if self.primary_text is not None \
                    and s.path == self.primary_text.path:
                continue
            if s.ftype == "text" and s.indexed:
                out[s.path] = {"tokenizer": s.tokenizer or "default",
                               "record": s.record}
            elif s.ftype == "json" and s.indexed:
                # json subtree: subpaths inherit the field's options
                out[s.path] = {"tokenizer": s.tokenizer or "raw",
                               "record": s.record, "subtree": True}
            elif s.ftype == "concatenate":
                # virtual field: the VALUES of its sources (json
                # sources contribute every leaf value; optionally the
                # dynamic leaves too), analyzed with the CONCAT
                # field's tokenizer (field_mapping_entry.rs:357-365,
                # rest-api-tests concat_fields)
                out[s.path] = {
                    "tokenizer": s.tokenizer or "default",
                    "record": s.record,
                    "concat": list(s.extra.get("concatenate_fields")
                                   or s.extra.get("fields") or ()),
                    "include_dynamic": bool(
                        s.extra.get("include_dynamic_fields", False)),
                }
        return out

    def column_specs(self) -> list[LeafSpec]:
        """Leaves stored as typed doc columns (fast fields)."""
        cols = []
        for s in self.leaves:
            if s.ftype in _TYPED:
                cols.append(s)
            elif s.ftype == "text" and not s.indexed and s.fast:
                cols.append(s)  # fast-only text: column scan answers
        return cols

    # -- projection --------------------------------------------------------

    def _lookup(self, doc: dict, path: str):
        """Nested traversal first; a literal dotted key wins when the
        nested path is absent (expand_dots semantics)."""
        cur = doc
        for seg in path.split("."):
            if isinstance(cur, dict) and seg in cur:
                cur = cur[seg]
            else:
                cur = None
                break
        if cur is None and path in doc:
            cur = doc[path]
        return cur

    def _coerce(self, spec: LeafSpec, v):
        if v is None:
            return None
        if spec.ftype == "datetime":
            ms = parse_datetime_value(v, spec.input_formats)
            if ms is None:
                raise MappingError(
                    f"field {spec.path!r}: cannot parse datetime "
                    f"value {v!r} with formats "
                    f"{list(spec.input_formats)}")
            return ms
        if spec.ftype in ("u64", "i64"):
            if isinstance(v, str):
                try:
                    v = int(v)
                except ValueError as e:
                    raise MappingError(
                        f"field {spec.path!r}: expected an "
                        f"integer, got {v!r}") from e
            if isinstance(v, bool) or not isinstance(v, (int, float)) \
                    or (isinstance(v, float) and not v.is_integer()):
                raise MappingError(f"field {spec.path!r}: expected an "
                                   f"integer, got {v!r}")
            # out-of-range values must fail their doc here, not the
            # batch's typed UInt64/Int64 column build
            n = int(v)
            lo, hi = (0, 2**64) if spec.ftype == "u64" else (-2**63, 2**63)
            if not lo <= n < hi:
                raise MappingError(f"field {spec.path!r}: {n} is out of "
                                   f"range for {spec.ftype}")
            return n
        if spec.ftype == "f64":
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                try:
                    return float(v)
                except (TypeError, ValueError) as e:
                    raise MappingError(
                        f"field {spec.path!r}: expected a number, "
                        f"got {v!r}") from e
            return float(v)
        if spec.ftype == "bool":
            if not isinstance(v, bool):
                raise MappingError(f"field {spec.path!r}: expected a "
                                   f"bool, got {v!r}")
            return v
        # text / ip / bytes travel as strings
        return v if isinstance(v, str) else json.dumps(v) \
            if isinstance(v, (dict, list)) else str(v)

    def project(self, docs: list[dict], batch_tag: str,
                errors: list | None = None,
                sizes: list[int] | None = None) -> pd.DataFrame:
        """Raw JSON docs -> the builder's column layout.

        Invalid docs (unparseable typed value, missing timestamp
        field) are DROPPED with an entry in ``errors`` — the
        reference's doc processor counts and skips them rather than
        failing the batch (doc_processor.rs invalid-doc handling).
        Doc ids stay keyed by the ORIGINAL ordinal, so the surviving
        ids of a replayed batch are unchanged by the drops."""
        col_specs = self.column_specs()
        dyn_roots = self.dyn_text_fields()
        data: dict[str, list] = {s.path: [] for s in col_specs}
        dyn_col: list = []
        text_col: list = []
        src_col: list = []
        keys: list = []
        doc_sizes: list = []
        p = self.primary_text
        for i, doc in enumerate(docs):
            try:
                if not isinstance(doc, dict):
                    raise MappingError("each document must be a JSON "
                                       "object")
                row = {s.path: self._coerce(s, self._lookup(doc,
                                                            s.path))
                       for s in col_specs}
                if self.timestamp_field is not None \
                        and row.get(self.timestamp_field) is None:
                    raise MappingError(
                        f"document is missing timestamp field "
                        f"{self.timestamp_field!r}")
            except MappingError as e:
                if errors is not None:
                    errors.append({"ordinal": i, "reason": str(e)})
                continue
            for s in col_specs:
                data[s.path].append(row[s.path])
            src_col.append(json.dumps(doc))
            text = ""
            if p is not None:
                if p.ftype == "concatenate":
                    fields = (p.extra.get("concatenate_fields")
                              or p.extra.get("fields") or [])
                    vals = [self._lookup(doc, f) for f in fields]
                    text = " ".join(
                        str(v) for v in vals if v is not None)
                else:
                    v = self._lookup(doc, p.path)
                    text = "" if v is None else (
                        v if isinstance(v, str) else json.dumps(v))
            text_col.append(text)
            dyn = self._dynamic_subdoc(doc, dyn_roots)
            dyn_col.append(json.dumps(dyn) if dyn else None)
            if self.auto_doc_id:
                keys.append(f"{batch_tag}-{i:08d}")
            else:
                keys.append("\x1f".join(
                    str(self._lookup(doc, f))
                    for f in self.doc_id_fields))
            if self.store_document_size:
                # the received doc's byte size; when the transport
                # layer didn't measure the raw line, fall back to the
                # canonical json serialization's length
                doc_sizes.append(
                    sizes[i] if sizes is not None and i < len(sizes)
                    else len(json.dumps(doc)))
        out: dict[str, object] = {}
        for s in col_specs:
            vals = data[s.path]
            if s.ftype == "u64":
                # unsigned: values above 2**63 are legal u64s (the
                # reference pins u64 semantics at the boundary)
                out[s.path] = pd.array(vals, dtype="UInt64")
            elif s.ftype in ("i64", "datetime"):
                out[s.path] = pd.array(vals, dtype="Int64")
            elif s.ftype == "f64":
                out[s.path] = pd.array(vals, dtype="Float64")
            elif s.ftype == "bool":
                out[s.path] = pd.array(vals, dtype="boolean")
            else:
                out[s.path] = pd.Series(vals, dtype=object)
        if self.store_document_size:
            out["_doc_length"] = pd.array(doc_sizes, dtype="Int64")
        out[DOC_KEY_COL] = pd.Series(keys, dtype=object)
        out[TEXT_STUB_COL if p is None else p.path] = pd.Series(
            text_col, dtype=object)
        out["_dynamic"] = pd.Series(dyn_col, dtype=object)
        out[SOURCE_COL] = pd.Series(src_col, dtype=object)
        pdf = pd.DataFrame(out)
        return pdf

    def _dynamic_subdoc(self, doc: dict, dyn_roots: dict) -> dict:
        """Collect everything indexed through the dynamic namespace:
        mapped dyn-text/json subtrees, concatenate value lists, plus
        (mode=dynamic) every unmapped leaf.  Keys are DOTTED paths
        (the flattener treats a dotted key exactly like nesting, so
        expand_dots holds)."""
        um: dict = {}
        if self.mode == "dynamic":
            mapped_prefixes = set(self.by_path) | set(dyn_roots)

            def unmapped(prefix: str, node) -> None:
                if prefix in dyn_roots or prefix in self.by_path:
                    return  # collected via its mapping
                if isinstance(node, dict):
                    for k, v in node.items():
                        unmapped(f"{prefix}.{k}" if prefix
                                 else str(k), v)
                    return
                # leaf (or list): only keep if no mapped prefix owns it
                for mp in mapped_prefixes:
                    if prefix == mp or prefix.startswith(mp + "."):
                        return
                um[prefix] = node

            for k, v in doc.items():
                unmapped(str(k), v)
        out: dict = {}
        for path, opt in dyn_roots.items():
            if isinstance(opt, dict) and opt.get("concat"):
                vals: list = []
                for srcf in opt["concat"]:
                    v = self._lookup(doc, srcf)
                    if v is None:
                        continue
                    spec = self.by_path.get(srcf)
                    if spec is not None and spec.ftype == "json":
                        _leaf_values(v, vals)  # values, paths dropped
                    else:
                        _leaf_values(v, vals)
                if opt.get("include_dynamic"):
                    for v in um.values():
                        _leaf_values(v, vals)
                if vals:
                    out[path] = vals
                continue
            v = self._lookup(doc, path)
            if v is not None:
                out[path] = v
        out.update(um)
        return out

    # -- plan --------------------------------------------------------------

    def index_plan(self) -> dict:
        """kwargs fragment for IndexConfig."""
        p = self.primary_text
        store_cols: list[str] = []
        field_types: dict[str, str] = {}
        for s in self.column_specs():
            if s.path in self.tag_fields:
                continue
            store_cols.append(s.path)
            if s.ftype in ("ip", "datetime"):
                field_types[s.path] = s.ftype
            elif s.ftype == "bytes":
                field_types[s.path] = "bytes"
        if self.store_document_size:
            store_cols.append("_doc_length")
        tokenizer = "default"
        record = "basic"
        fieldnorms = True
        if p is not None:
            tokenizer = p.tokenizer or "default"
            record = p.record if p.record in ("basic", "freq",
                                              "position") else "freq"
            fieldnorms = bool(p.extra.get("fieldnorms", True))
            # concatenate fields are joined by project() itself — the
            # builder sees one ready text column, never the sources
        dyn = self.dyn_text_fields()
        # position-mode segments whenever any analyzed namespace wants
        # positions (phrase queries on dynamic paths)
        if record != "position" and (
                self.dynamic_record == "position"
                or any(o.get("record") == "position"
                       for o in dyn.values())):
            record = "position"
        return {
            "key_cols": (DOC_KEY_COL,),
            "text_col": TEXT_STUB_COL if p is None else p.path,
            "tokenizer": tokenizer,
            "record": record,
            "fieldnorms": fieldnorms,
            "tag_cols": tuple(self.tag_fields),
            "store_cols": tuple(store_cols),
            "field_types": field_types,
            "dynamic_col": "_dynamic",
            "dynamic_tokenizer": self.dynamic_tokenizer
            if self.mode == "dynamic" else "raw",
            "dynamic_fast_normalizer": self.dynamic_fast_normalizer,
            "dyn_text_fields": dyn,
            "source_col": SOURCE_COL,
            "sha_col": None,
        }


def batch_tag(payload: bytes | str) -> str:
    if isinstance(payload, str):
        payload = payload.encode()
    return hashlib.sha256(payload).hexdigest()[:16]
