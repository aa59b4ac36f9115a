"""Index-management API: the reference's index/split/source REST
resources re-expressed over the manifest metastore.

Reference anchors (same operations, same response shapes):
  - index lifecycle:  quickwit-serve/src/index_api/index_resource.rs
      (create POST /indexes, list GET /indexes?index_id_patterns=,
       metadata GET /indexes/{id}, update PUT /indexes/{id},
       clear PUT /indexes/{id}/clear, delete DELETE /indexes/{id},
       describe GET /indexes/{id}/describe — IndexStats shape,
       index_resource.rs:95-106)
  - splits:           quickwit-serve/src/index_api/split_resource.rs
      (list GET /indexes/{id}/splits with offset/limit/split_states/
       start_timestamp/end_timestamp/end_create_timestamp filters,
       mark PUT /indexes/{id}/splits/mark-for-deletion)
  - sources:          quickwit-serve/src/index_api/source_resource.rs
      (reset-checkpoint PUT .../sources/{source_id}/reset-checkpoint)
  - analyze/parse:    quickwit-serve/src/index_api/rest_handler.rs:125-205
      (POST /analyze tokenizes text, POST /parse-query returns the
       QueryAst JSON — serde `tag = "type"`, snake_case,
       quickwit-query/src/query_ast/mod.rs:51-70)
  - clear semantics:  quickwit-index-management/src/index.rs:417-467
      (mark all splits for deletion, GC them, reset every source
       checkpoint; the index CONFIG survives)
  - FileEntry:        quickwit-metastore/src/split_metadata.rs:255-260
      ({file_name, file_size_bytes}; DELETE /indexes/{id} returns the
       deleted entries, dry_run lists without deleting)

Divergences from the reference, by design:
  - the index config doc requires ``doc_mapping.doc_id_fields`` (a
    non-empty list): the reference autogenerates ULID doc ids, but this
    engine's doc ids are DETERMINISTIC functions of the doc key — that
    is what makes builds replayable, checkpoints exactly-once, and
    segment ids content-addressed. A config without it is refused with
    an error saying exactly what to add.
  - the full engine config is persisted as ``index_config.json`` in the
    index directory (the manifest keeps only the searchable subset), so
    a server restart can ingest without re-registering configs.
  - `commit` query param on ingest is accepted and ignored: every
    ingest here commits synchronously (publish is atomic), which is the
    strongest of the reference's auto/wait_for/force modes.
"""

from __future__ import annotations

import fnmatch
import json
import os
import re
import shutil
import time

from ..config import IndexConfig
from ..index.manifest import Manifest, SEGMENT_STATE_PUBLISHED

__all__ = [
    "config_from_json", "config_to_json", "save_index_config",
    "load_index_config", "create_index", "index_metadata",
    "list_indexes_metadata", "describe_index", "update_index_config",
    "clear_index", "delete_index", "list_splits",
    "mark_splits_for_deletion", "reset_source_checkpoint",
    "analyze", "parse_query_to_json", "ingest_ndjson",
    "create_delete_task", "list_delete_tasks", "execute_delete_tasks",
    "create_template", "get_template", "delete_template",
    "list_templates", "find_template", "apply_template",
]

_CONFIG_FILE = "index_config.json"
_INDEX_ID_RE = re.compile(r"^[A-Za-z][A-Za-z0-9._-]{0,254}$")
_CONFIG_VERSION = "0.8"  # the reference's current config format version

# ids that collide with REST route words (http_api's {index}-shaped
# routes) — refused at creation so every index stays addressable
RESERVED_INDEX_IDS = frozenset({
    "indexes", "templates", "version", "cluster", "analyze",
    "parse-query", "parse_query", "otlp", "_elastic", "health",
    "metrics", "api", "jaeger"})


class MgmtError(ValueError):
    """Invalid management request (maps to HTTP 400)."""


class IndexNotFound(KeyError):
    """No such index (maps to HTTP 404)."""

    def __str__(self):  # KeyError str() adds quotes; keep the message
        return self.args[0] if self.args else "index not found"


# ---------------------------------------------------------------------------
# index config document <-> IndexConfig
# ---------------------------------------------------------------------------

def config_from_json(doc: dict, root_dir: str) -> IndexConfig:
    """Translate a reference-style index config document
    (index_id + doc_mapping{field_mappings, tag_fields, timestamp_field,
    partition_key, mode, doc_id_fields} + search_settings) into the
    engine's IndexConfig. Reference loader:
    quickwit-config/src/index_config/serialize.rs
    load_index_config_from_user_config."""
    if not isinstance(doc, dict):
        raise MgmtError("index config must be a JSON object")
    index_id = doc.get("index_id")
    if not isinstance(index_id, str) or not _INDEX_ID_RE.match(index_id):
        raise MgmtError(
            "index_id is required and must match "
            "[A-Za-z][A-Za-z0-9._-]* (<=255 chars)")
    if index_id in RESERVED_INDEX_IDS:
        raise MgmtError(
            f"index_id {index_id!r} is reserved (it collides with a "
            "REST route word)")
    dm = doc.get("doc_mapping") or {}
    if not isinstance(dm, dict):
        raise MgmtError("doc_mapping must be an object")
    fms = dm.get("field_mappings") or []
    if not isinstance(fms, list):
        raise MgmtError("doc_mapping.field_mappings must be a list")

    key_cols = dm.get("doc_id_fields")
    if not key_cols:
        # reference-shaped config (no doc key): the full doc-mapper
        # path — nested object/json fields, datetime, dynamic-mapping
        # options, synthesized deterministic doc ids (the reference
        # autogenerates ULIDs; we derive sha(batch)-ordinal so builds
        # stay replayable and publish stays exactly-once)
        return _config_from_mapper(doc, root_dir, index_id)
    if (not isinstance(key_cols, list)
            or not all(isinstance(c, str) and c for c in key_cols)):
        raise MgmtError(
            "doc_mapping.doc_id_fields must be a list of field names "
            "(omit it entirely for reference-style autogenerated ids)")

    by_name: dict[str, dict] = {}
    concat: tuple[str, ...] = ()
    text_candidates: list[dict] = []
    store_cols: list[str] = []
    field_types: dict[str, str] = {}
    for fm in fms:
        if not isinstance(fm, dict) or not isinstance(fm.get("name"), str):
            raise MgmtError("each field mapping needs a string `name`")
        name, ftype = fm["name"], fm.get("type", "text")
        by_name[name] = fm
        if ftype == "concatenate":
            # concatenate virtual field (field_mapping_entry.rs:357-365)
            fields = fm.get("concatenate_fields") or fm.get("fields") or []
            if not fields:
                raise MgmtError(
                    f"concatenate field {name!r} needs concatenate_fields")
            concat = tuple(fields)
            text_candidates.insert(0, fm)
        elif ftype == "text":
            if fm.get("tokenizer") == "raw" or fm.get("fast"):
                store_cols.append(name)
            else:
                text_candidates.append(fm)
        elif ftype in ("u64", "i64", "f64", "datetime", "bool"):
            store_cols.append(name)
        elif ftype == "ip":
            store_cols.append(name)
            field_types[name] = "ip"
        elif ftype == "bytes":
            store_cols.append(name)
            field_types[name] = "bytes"
        elif ftype in ("json", "object"):
            pass  # handled by dynamic mode below
        else:
            raise MgmtError(f"unsupported field type {ftype!r} for "
                            f"{name!r}")

    ss = doc.get("search_settings") or {}
    defaults = ss.get("default_search_fields") or []
    text_fm = None
    if defaults:
        cand = by_name.get(defaults[0])
        if cand is None:
            raise MgmtError(
                f"default_search_fields[0]={defaults[0]!r} is not a "
                "mapped field")
        text_fm = cand
    elif text_candidates:
        text_fm = text_candidates[0]
    if text_fm is None:
        raise MgmtError("no indexable text field: map at least one "
                        "`type: text` field (or a concatenate field)")

    tokenizer = text_fm.get("tokenizer", "default")
    from ..functions import tokenizers as tok
    if tokenizer not in tok.ANALYZERS \
            and tok.get_custom_analyzer(tokenizer) is None:
        raise MgmtError(
            f"unknown tokenizer {tokenizer!r}; built-ins: "
            f"{list(tok.ANALYZERS)}")
    record = text_fm.get("record", "freq")
    if record not in ("basic", "freq", "position"):
        raise MgmtError(f"record must be basic|freq|position, got "
                        f"{record!r}")

    tag_cols = tuple(dm.get("tag_fields") or ())
    # key cols are always stored as the doc key; tag cols as tag sets —
    # neither needs a second copy in store_cols
    store_cols = [c for c in store_cols
                  if c not in tag_cols and c != text_fm["name"]
                  and c not in key_cols]

    partition_key = dm.get("partition_key")
    if partition_key is None:
        partition_cols: tuple[str, ...] = ()
    elif isinstance(partition_key, str):
        # accept a field name or comma list (the reference accepts a
        # routing expression; hash-of-fields is its core form,
        # routing_expression/mod.rs:107-141)
        partition_cols = tuple(
            p.strip() for p in partition_key.split(",") if p.strip())
    elif isinstance(partition_key, list):
        partition_cols = tuple(partition_key)
    else:
        raise MgmtError("partition_key must be a field name or list")

    mode = dm.get("mode", "strict")
    if mode not in ("strict", "dynamic"):
        raise MgmtError(f"doc_mapping.mode must be strict|dynamic, got "
                        f"{mode!r}")
    dynamic_col = dm.get("dynamic_field", "_dynamic") \
        if mode == "dynamic" else None

    ts_field = dm.get("timestamp_field")
    if ts_field is not None and ts_field not in by_name:
        raise MgmtError(f"timestamp_field {ts_field!r} is not a mapped "
                        "field")
    if ts_field is not None and ts_field not in store_cols \
            and ts_field not in key_cols:
        store_cols.append(ts_field)

    cfg = IndexConfig(
        index_uid=index_id,
        index_dir=os.path.join(root_dir, index_id),
        key_cols=tuple(key_cols),
        text_col=text_fm["name"],
        tokenizer=tokenizer,
        tag_cols=tag_cols,
        sha_col=dm.get("sha_field"),
        concat_cols=concat,
        partition_cols=partition_cols,
        store_cols=tuple(store_cols),
        schema_rev=str(doc.get("schema_rev", "v1")),
        record=record,
        fieldnorms=bool(text_fm.get("fieldnorms", True)),
        dynamic_col=dynamic_col,
        field_types=field_types,
    )
    # carried for describe()/list_splits() time filtering; not part of
    # the dataclass because the build pipeline does not consume it
    cfg_extra = {"timestamp_field": ts_field}
    cfg.__dict__["_mgmt_extra"] = cfg_extra
    return cfg


def _config_from_mapper(doc: dict, root_dir: str,
                        index_id: str) -> IndexConfig:
    """Reference-shaped config documents (no ``doc_id_fields``) parse
    through the full doc mapper (pipeline/doc_mapper.py): nested
    object fields, json fields, datetime leaves, dynamic-mapping
    options.  The ORIGINAL document is kept in ``_mgmt_extra`` so
    save_index_config can persist it verbatim (the projection spec is
    recomputed from it on load — deterministic by construction)."""
    from ..pipeline.doc_mapper import DocMapper, MappingError
    try:
        mapper = DocMapper(doc)
        plan = mapper.index_plan()
    except MappingError as e:
        raise MgmtError(str(e)) from e
    from ..functions import tokenizers as tok
    for t in {plan["tokenizer"], plan["dynamic_tokenizer"],
              *(o.get("tokenizer", "raw")
                for o in plan["dyn_text_fields"].values())}:
        if t not in tok.ANALYZERS and t != "raw" \
                and tok.get_custom_analyzer(t) is None:
            raise MgmtError(
                f"unknown tokenizer {t!r}; built-ins: "
                f"{list(tok.ANALYZERS)}")
    cfg = IndexConfig(
        index_uid=index_id,
        index_dir=os.path.join(root_dir, index_id),
        schema_rev=str(doc.get("schema_rev", "v1")),
        **plan)
    cfg.__dict__["_mapper"] = mapper
    cfg.__dict__["_mgmt_extra"] = {
        "timestamp_field": mapper.timestamp_field,
        "original_doc": doc,
    }
    return cfg


def config_to_json(config: IndexConfig,
                   timestamp_field: str | None = None,
                   create_timestamp: float | None = None) -> dict:
    """Inverse of config_from_json: the persisted index config document
    (the reference's VersionedIndexConfig serialization)."""
    fms: list[dict] = [{
        "name": config.text_col,
        "type": "concatenate" if config.concat_cols else "text",
        "tokenizer": config.tokenizer,
        "record": config.record,
        "fieldnorms": bool(config.fieldnorms),
    }]
    if config.concat_cols:
        fms[0]["concatenate_fields"] = list(config.concat_cols)
    for c in config.key_cols:
        if c != config.text_col:
            fms.append({"name": c, "type": "text", "tokenizer": "raw",
                        "fast": True})
    for c in config.tag_cols:
        fms.append({"name": c, "type": "text", "tokenizer": "raw",
                    "fast": True})
    for c in config.store_cols:
        t = config.field_types.get(c)
        fms.append({"name": c,
                    "type": t if t else "u64" if c == timestamp_field
                    else "text",
                    **({} if t else {"tokenizer": "raw"}),
                    "fast": True})
    dm: dict = {
        "field_mappings": fms,
        "doc_id_fields": list(config.key_cols),
        "tag_fields": list(config.tag_cols),
        "mode": "dynamic" if config.dynamic_col else "strict",
    }
    if config.dynamic_col:
        dm["dynamic_field"] = config.dynamic_col
    if config.partition_cols:
        dm["partition_key"] = ",".join(config.partition_cols)
    if config.sha_col:
        dm["sha_field"] = config.sha_col
    if timestamp_field:
        dm["timestamp_field"] = timestamp_field
    doc = {
        "version": _CONFIG_VERSION,
        "index_id": config.index_uid,
        "schema_rev": config.schema_rev,
        "doc_mapping": dm,
        "search_settings": {
            "default_search_fields": [config.text_col]},
    }
    if create_timestamp is not None:
        doc["create_timestamp"] = create_timestamp
    return doc


def save_index_config(config: IndexConfig,
                      timestamp_field: str | None = None,
                      create_timestamp: float | None = None) -> str:
    os.makedirs(config.index_dir, exist_ok=True)
    original = (config.__dict__.get("_mgmt_extra") or {}).get(
        "original_doc")
    if original is not None:
        # mapper-shaped config: persist the user's document verbatim
        # (the projection spec is recomputed from it on load); only
        # engine-derived keys are added
        doc = dict(original)
        doc.setdefault("version", _CONFIG_VERSION)
        doc["schema_rev"] = config.schema_rev
        if create_timestamp is not None:
            doc["create_timestamp"] = create_timestamp
    else:
        doc = config_to_json(config, timestamp_field=timestamp_field,
                             create_timestamp=create_timestamp)
    path = os.path.join(config.index_dir, _CONFIG_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return path


def load_index_config(index_dir: str) -> IndexConfig | None:
    """Load the persisted full config (None when the index predates the
    management API or was built programmatically without saving one)."""
    path = os.path.join(index_dir, _CONFIG_FILE)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        doc = json.load(f)
    cfg = config_from_json(doc, os.path.dirname(index_dir.rstrip("/")))

    def _replace(c, **changes):
        # dataclasses.replace builds a FRESH instance: carry the
        # __dict__ extras (_mgmt_extra AND the doc mapper) along
        import dataclasses
        extras = {k: c.__dict__[k] for k in ("_mgmt_extra", "_mapper")
                  if k in c.__dict__}
        c2 = dataclasses.replace(c, **changes)
        c2.__dict__.update(extras)
        return c2

    if cfg.index_dir != index_dir:
        # the directory was renamed/copied since the config was saved:
        # the LOCATION the caller opened wins, or ingest would write
        # into (or recreate) the old path
        cfg = _replace(cfg, index_dir=index_dir)
    # the manifest is authoritative for the CURRENT schema_rev/tokenizer
    # (update_index_config bumps it there first)
    mpath = Manifest.path(index_dir)
    if os.path.isfile(mpath):
        m = Manifest.load(index_dir)
        mc = m.data.get("config", {})
        changes = {k: mc[k] for k in ("schema_rev", "tokenizer")
                   if k in mc}
        if changes:
            cfg = _replace(cfg, **changes)
    return cfg


def _loaded_timestamp_field(index_dir: str) -> str | None:
    path = os.path.join(index_dir, _CONFIG_FILE)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return (json.load(f).get("doc_mapping") or {}).get(
            "timestamp_field")


# ---------------------------------------------------------------------------
# index lifecycle
# ---------------------------------------------------------------------------

def require_index(root_dir: str, index_id: str) -> str:
    # the create-time grammar doubles as the traversal guard: every
    # path join below root_dir goes through it
    if not _INDEX_ID_RE.match(index_id or ""):
        raise MgmtError(f"invalid index id [{index_id}]")
    d = os.path.join(root_dir, index_id)
    if not os.path.isfile(Manifest.path(d)):
        raise IndexNotFound(f"index `{index_id}` does not exist")
    return d


def create_index(root_dir: str, doc: dict, overwrite: bool = False) -> dict:
    """POST /indexes (index_resource.rs create_index): persist the
    config, initialize an empty manifest, return the index metadata.
    `overwrite=True` clears any existing index of the same id first
    (the reference deletes + recreates)."""
    cfg = config_from_json(doc, root_dir)
    exists = os.path.isfile(Manifest.path(cfg.index_dir))
    if exists and not overwrite:
        raise MgmtError(
            f"index `{cfg.index_uid}` already exists "
            "(pass overwrite=true to replace it)")
    if exists:
        shutil.rmtree(cfg.index_dir)
    Manifest.create(cfg.index_dir, cfg.index_uid, cfg.manifest_config())
    ts = (doc.get("doc_mapping") or {}).get("timestamp_field")
    save_index_config(cfg, timestamp_field=ts,
                      create_timestamp=time.time())
    return index_metadata(cfg.index_dir)


def index_metadata(index_dir: str) -> dict:
    """GET /indexes/{id}: the VersionedIndexMetadata view —
    {version, index_uid, index_config, checkpoint, create_timestamp}."""
    m = Manifest.load(index_dir)
    path = os.path.join(index_dir, _CONFIG_FILE)
    if os.path.isfile(path):
        with open(path) as f:
            config_doc = json.load(f)
        create_ts = config_doc.pop("create_timestamp", None)
        # the manifest is authoritative for live analysis settings
        mc = m.data.get("config", {})
        if "schema_rev" in mc:
            config_doc["schema_rev"] = mc["schema_rev"]
    else:
        # programmatically built index: reconstruct a minimal doc from
        # the manifest's searchable subset
        mc = m.data.get("config", {})
        config_doc = {
            "version": _CONFIG_VERSION,
            "index_id": m.data["index_uid"],
            "schema_rev": mc.get("schema_rev"),
            "doc_mapping": {
                "field_mappings": [
                    {"name": mc.get("text_col", "content"),
                     "type": "text",
                     "tokenizer": mc.get("tokenizer")}],
                "doc_id_fields": list(mc.get("key_cols", [])),
                "tag_fields": list(mc.get("tag_cols", [])),
            },
            "search_settings": {"default_search_fields":
                                [mc.get("text_col", "content")]},
        }
        create_ts = None
    return {
        "version": _CONFIG_VERSION,
        "index_uid": m.data["index_uid"],
        "index_config": config_doc,
        "checkpoint": dict(m.data.get("checkpoints", {})),
        "create_timestamp": create_ts,
        "sources": [],
    }


def list_indexes_metadata(root_dir: str,
                          patterns: list[str] | None = None) -> list[dict]:
    """GET /indexes?index_id_patterns=a*,b (index_resource.rs
    list_indexes_metadata; `*` wildcards, comma-separated)."""
    out = []
    try:
        names = sorted(os.listdir(root_dir))
    except OSError:
        return []
    for name in names:
        d = os.path.join(root_dir, name)
        if not os.path.isfile(Manifest.path(d)):
            continue
        if patterns and not any(fnmatch.fnmatchcase(name, p)
                                for p in patterns):
            continue
        out.append(index_metadata(d))
    return out


def describe_index(index_dir: str) -> dict:
    """GET /indexes/{id}/describe: the IndexStats shape
    (index_resource.rs:95-106)."""
    m = Manifest.load(index_dir)
    published = m.segments(SEGMENT_STATE_PUBLISHED)
    ts_field = _loaded_timestamp_field(index_dir)
    num_docs = sum(int(s.get("num_docs", 0)) for s in published)
    size_uncompressed = sum(int(s.get("bytes_raw", 0)) for s in published)
    size_on_disk = 0
    for s in published:
        seg_dir = os.path.join(index_dir, "segments", s["segment_id"])
        if os.path.isdir(seg_dir):
            for fn in os.listdir(seg_dir):
                try:
                    size_on_disk += os.path.getsize(
                        os.path.join(seg_dir, fn))
                except OSError:
                    pass
    mn = mx = None
    if ts_field:
        for s in published:
            stats = s.get("col_stats", {}).get(ts_field)
            if stats is None:
                continue
            lo, hi = float(stats[0]), float(stats[1])
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
    return {
        "index_id": m.data["index_uid"],
        "index_uri": index_dir,
        "num_published_splits": len(published),
        "size_published_splits": size_on_disk,
        "num_published_docs": num_docs,
        "size_published_docs_uncompressed": size_uncompressed,
        "timestamp_field_name": ts_field,
        "min_timestamp": None if mn is None else int(mn),
        "max_timestamp": None if mx is None else int(mx),
    }


def update_index_config(root_dir: str, index_id: str, doc: dict,
                        create: bool = False) -> dict:
    """PUT /indexes/{id} (index_resource.rs update_index): apply a new
    config document to a live index. Searchable-analysis changes
    (tokenizer/record/fieldnorms) go through the doc-mapping update
    flow — a fresh schema_rev, existing segments keep theirs, merges
    stay rev-gated, search unions generations. Identity-level fields
    (doc_id_fields, partition_key, text field name) are immutable, like
    the reference's non-updatable config checks
    (index_config/serialize.rs load_index_config_update)."""
    try:
        index_dir = require_index(root_dir, index_id)
    except IndexNotFound:
        if not create:
            raise
        # like the plain-update path: an omitted index_id means "use
        # the path id"; only an explicit MISMATCH is an error
        if doc.get("index_id") not in (None, index_id):
            raise MgmtError("`index_id` in config does not match the "
                            "path index id")
        return create_index(root_dir, dict(doc, index_id=index_id),
                            overwrite=False)
    if doc.get("index_id") not in (None, index_id):
        raise MgmtError("`index_id` in config does not match the path "
                        "index id")
    doc = dict(doc, index_id=index_id)
    new_cfg = config_from_json(doc, root_dir)
    old_cfg = load_index_config(index_dir)
    if old_cfg is not None:
        immutable = [
            ("doc_id_fields", old_cfg.key_cols, new_cfg.key_cols),
            ("partition_key", old_cfg.partition_cols,
             new_cfg.partition_cols),
            ("text field", old_cfg.text_col, new_cfg.text_col),
            # tag sets are baked into published segment rows and the
            # manifest's searchable config; changing them would make
            # tag pruning silently inconsistent across generations
            ("tag_fields", old_cfg.tag_cols, new_cfg.tag_cols),
        ]
        for what, old, new in immutable:
            if old != new:
                raise MgmtError(
                    f"{what} cannot be updated on a live index "
                    f"({old!r} -> {new!r}): it changes doc identity/"
                    "placement; reindex into a new index instead")
    m = Manifest.load(index_dir)
    mc = m.data.get("config", {})
    analysis_changed = (
        new_cfg.tokenizer != mc.get("tokenizer")
        or new_cfg.record != mc.get("record", new_cfg.record)
        or bool(new_cfg.fieldnorms) != bool(
            mc.get("fieldnorms", new_cfg.fieldnorms)))
    if analysis_changed:
        new_rev = str(doc.get("schema_rev", "")).strip()
        if not new_rev or new_rev == mc.get("schema_rev"):
            # auto-bump: rev-N+1, skipping revs already on disk
            used = {s.get("schema_rev")
                    for s in m.data["segments"].values()}
            used.add(mc.get("schema_rev"))
            i = len(used) + 1
            while f"rev-{i}" in used:
                i += 1
            new_rev = f"rev-{i}"
        m.update_doc_mapping(new_rev, tokenizer=new_cfg.tokenizer,
                             record=new_cfg.record,
                             fieldnorms=new_cfg.fieldnorms)
        import dataclasses
        new_cfg = dataclasses.replace(new_cfg, schema_rev=new_rev)
    ts = (doc.get("doc_mapping") or {}).get("timestamp_field")
    old_create = None
    path = os.path.join(index_dir, _CONFIG_FILE)
    if os.path.isfile(path):
        with open(path) as f:
            old_create = json.load(f).get("create_timestamp")
    save_index_config(new_cfg, timestamp_field=ts,
                      create_timestamp=old_create)
    return index_metadata(index_dir)


def clear_index(index_dir: str) -> None:
    """PUT /indexes/{id}/clear (index.rs:417-467): retire every split,
    GC the files, reset every source checkpoint; keep the config."""
    m = Manifest.load(index_dir)
    ids = [s["segment_id"] for s in m.segments(SEGMENT_STATE_PUBLISHED)]
    if ids:
        m.mark_for_deletion(ids)
    m.vacuum()
    m.reset_checkpoints()


def delete_index(index_dir: str, dry_run: bool = False) -> list[dict]:
    """DELETE /indexes/{id}: remove the whole index, returning the
    FileEntry rows ({file_name, file_size_bytes},
    split_metadata.rs:255-260). dry_run lists without deleting."""
    entries = []
    for base, _dirs, files in os.walk(index_dir):
        for fn in sorted(files):
            p = os.path.join(base, fn)
            try:
                size = os.path.getsize(p)
            except OSError:
                continue
            entries.append({
                "file_name": os.path.relpath(p, index_dir),
                "file_size_bytes": size,
            })
    entries.sort(key=lambda e: e["file_name"])
    if not dry_run:
        shutil.rmtree(index_dir)
    return entries


# ---------------------------------------------------------------------------
# splits
# ---------------------------------------------------------------------------

_STATE_MAP = {  # ours -> the reference's SplitState names
    "published": "Published",
    "dead": "MarkedForDeletion",
}
_STATE_UNMAP = {v.lower(): k for k, v in _STATE_MAP.items()}


def _split_view(index_dir: str, seg: dict,
                ts_field: str | None) -> dict:
    """One manifest segment row in the reference's Split shape
    (split_metadata.rs:61-135)."""
    md: dict = {
        "split_id": seg["segment_id"],
        "num_docs": int(seg.get("num_docs", 0)),
        "uncompressed_docs_size_in_bytes": int(seg.get("bytes_raw", 0)),
        "partition_id": int(seg.get("partition_id", 0)),
        "num_merge_ops": int(seg.get("num_merge_ops", 0)),
        "tags": sorted(f"{k}:{v}" for k, vs in
                       (seg.get("tags") or {}).items() for v in vs),
        "doc_mapping_uid": seg.get("schema_rev"),
    }
    if seg.get("published_at") is not None:
        md["create_timestamp"] = int(seg["published_at"])
    if ts_field:
        stats = seg.get("col_stats", {}).get(ts_field)
        if stats is not None:
            md["time_range"] = {"start": int(float(stats[0])),
                                "end": int(float(stats[1]))}
    return {
        "split_state": _STATE_MAP.get(seg.get("state"), "Staged"),
        "split_metadata": md,
    }


def list_splits(index_dir: str, offset: int | None = None,
                limit: int | None = None,
                split_states: list[str] | None = None,
                start_timestamp: int | None = None,
                end_timestamp: int | None = None,
                end_create_timestamp: int | None = None) -> dict:
    """GET /indexes/{id}/splits (split_resource.rs list_splits):
    {offset, size, splits}. Time filters apply to the configured
    timestamp field's per-split range: keep splits whose range
    intersects [start_timestamp, end_timestamp) — a split with no
    recorded range always matches (conservative, like the reference's
    optional time_range)."""
    m = Manifest.load(index_dir)
    ts_field = _loaded_timestamp_field(index_dir)
    if (start_timestamp is not None or end_timestamp is not None) \
            and not ts_field:
        raise MgmtError(
            "this index has no timestamp_field configured; "
            "start_timestamp/end_timestamp filters need one")
    want_states = None
    if split_states:
        want_states = set()
        for s in split_states:
            k = _STATE_UNMAP.get(str(s).lower())
            if k is None:
                raise MgmtError(
                    f"unknown split state {s!r}; expected one of "
                    f"{sorted(_STATE_MAP.values())}")
            want_states.add(k)
    rows = sorted(m.data["segments"].values(),
                  key=lambda s: s["segment_id"])
    out = []
    for seg in rows:
        if want_states is not None and seg.get("state") not in want_states:
            continue
        if ts_field and (start_timestamp is not None
                         or end_timestamp is not None):
            stats = seg.get("col_stats", {}).get(ts_field)
            if stats is not None:
                lo, hi = float(stats[0]), float(stats[1])
                if start_timestamp is not None and hi < start_timestamp:
                    continue
                if end_timestamp is not None and lo >= end_timestamp:
                    continue
        if end_create_timestamp is not None:
            created = seg.get("published_at")
            # missing stamp = predates stamping = old: it passes
            if created is not None and created >= end_create_timestamp:
                continue
        out.append(_split_view(index_dir, seg, ts_field))
    off = int(offset or 0)
    out = out[off:]
    if limit is not None:
        out = out[:int(limit)]
    return {"offset": off, "size": len(out), "splits": out}


def mark_splits_for_deletion(index_dir: str,
                             split_ids: list[str]) -> None:
    """PUT /indexes/{id}/splits/mark-for-deletion
    (split_resource.rs mark_splits_for_deletion). Files survive until
    vacuum (the janitor GC), like the reference's two-stage delete."""
    if not isinstance(split_ids, list) or not split_ids:
        raise MgmtError("split_ids must be a non-empty list")
    m = Manifest.load(index_dir)
    m.mark_for_deletion(split_ids)


# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------

def reset_source_checkpoint(index_dir: str, source_id: str) -> list[str]:
    """PUT /indexes/{id}/sources/{source_id}/reset-checkpoint
    (source_resource.rs reset_source_checkpoint). Checkpoint keys are
    namespaced by source prefix here: `stream-*` (file stream),
    `iceberg:*`, `bulk-*`; bare integer keys belong to the
    batch builder (pseudo source id `_builder` — resetting it also
    releases the router claim so a fresh build can re-route).
    `_all` resets everything (what clear_index does). Returns the
    removed keys."""
    m = Manifest.load(index_dir)
    return m.reset_checkpoints(source_id)


# ---------------------------------------------------------------------------
# index templates
# ---------------------------------------------------------------------------

_TEMPLATES_DIR = "_templates"
_TEMPLATE_ID_RE = re.compile(r"^[A-Za-z][A-Za-z0-9._-]{0,254}$")


def _template_path(root_dir: str, template_id: str) -> str:
    if not _TEMPLATE_ID_RE.match(template_id or ""):
        raise MgmtError(
            "template_id must match [A-Za-z][A-Za-z0-9._-]*")
    return os.path.join(root_dir, _TEMPLATES_DIR, f"{template_id}.json")


def _validate_template(doc: dict, root_dir: str) -> dict:
    """An index template is an index config without a fixed index_id
    (quickwit-config/src/index_template/mod.rs:35-54:
    {template_id, index_id_patterns, priority, description,
    doc_mapping, search_settings}). Validated by applying it to a
    probe index id — a template that cannot produce a working config
    is refused at save time, not at auto-create time."""
    if not isinstance(doc, dict):
        raise MgmtError("template must be a JSON object")
    tid = doc.get("template_id")
    if not isinstance(tid, str) or not _TEMPLATE_ID_RE.match(tid):
        raise MgmtError("template needs a valid `template_id`")
    pats = doc.get("index_id_patterns")
    if not isinstance(pats, list) or not pats \
            or not all(isinstance(p, str) and p for p in pats):
        raise MgmtError(
            "template needs a non-empty `index_id_patterns` list")
    probe = dict(doc, index_id="probe-index")
    probe.pop("template_id", None)
    probe.pop("index_id_patterns", None)
    probe.pop("priority", None)
    probe.pop("description", None)
    config_from_json(probe, root_dir)  # raises MgmtError if unusable
    out = dict(doc)
    out["priority"] = int(doc.get("priority", 0))
    return out


def create_template(root_dir: str, doc: dict,
                    overwrite: bool = False) -> dict:
    """POST /templates (template_api/rest_handler.rs:70-118); PUT
    /templates/{id} upserts (overwrite=True)."""
    doc = _validate_template(doc, root_dir)
    path = _template_path(root_dir, doc["template_id"])
    if os.path.exists(path) and not overwrite:
        raise MgmtError(
            f"template `{doc['template_id']}` already exists")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return doc


def get_template(root_dir: str, template_id: str) -> dict:
    path = _template_path(root_dir, template_id)
    if not os.path.isfile(path):
        raise IndexNotFound(f"template `{template_id}` does not exist")
    with open(path) as f:
        return json.load(f)


def delete_template(root_dir: str, template_id: str) -> None:
    path = _template_path(root_dir, template_id)
    if not os.path.isfile(path):
        raise IndexNotFound(f"template `{template_id}` does not exist")
    os.unlink(path)


def list_templates(root_dir: str) -> list[dict]:
    d = os.path.join(root_dir, _TEMPLATES_DIR)
    out = []
    try:
        names = sorted(os.listdir(d))
    except OSError:
        return []
    for n in names:
        if n.endswith(".json"):
            with open(os.path.join(d, n)) as f:
                out.append(json.load(f))
    return out


def find_template(root_dir: str, index_id: str) -> dict | None:
    """Highest-priority template whose patterns match the index id
    (template matching in the reference's auto-create flow;
    `-`-prefixed patterns exclude, like index_id_patterns negation).
    Ties break on template_id for determinism."""
    best = None
    for t in list_templates(root_dir):
        pats = t.get("index_id_patterns", [])
        pos = [p for p in pats if not p.startswith("-")]
        neg = [p[1:] for p in pats if p.startswith("-")]
        if not any(fnmatch.fnmatchcase(index_id, p) for p in pos):
            continue
        if any(fnmatch.fnmatchcase(index_id, p) for p in neg):
            continue
        key = (-int(t.get("priority", 0)), t.get("template_id", ""))
        if best is None or key < best[0]:
            best = (key, t)
    return best[1] if best else None


def apply_template(root_dir: str, index_id: str) -> dict | None:
    """Auto-create `index_id` from the best matching template
    (IndexTemplate::apply_template). Returns the new index metadata,
    or None when no template matches."""
    t = find_template(root_dir, index_id)
    if t is None:
        return None
    doc = dict(t, index_id=index_id)
    for k in ("template_id", "index_id_patterns", "priority",
              "description"):
        doc.pop(k, None)
    return create_index(root_dir, doc, overwrite=False)


# ---------------------------------------------------------------------------
# delete tasks
# ---------------------------------------------------------------------------

def parse_with_fields(query: str, search_fields: list[str] | None,
                      default_field: str):
    """Parse a user query against 0/1/N default search fields: N>1
    expands to an OR over per-field parses (the reference resolves
    default_fields at convert time, user_input_query.rs). The ONE
    implementation behind parse-query AND delete tasks — field
    expansion must never diverge between them."""
    from . import ast as A
    from .parser import parse_query
    fields = [f for f in (search_fields or []) if f]
    if len(fields) <= 1:
        return parse_query(query, default_field=fields[0]
                           if fields else default_field)
    return A.Bool(should=tuple(
        parse_query(query, default_field=f) for f in fields))


def create_delete_task(index_dir: str, query: str,
                       search_fields: list[str] | None = None,
                       start_timestamp: int | None = None,
                       end_timestamp: int | None = None) -> dict:
    """POST /{index_id}/delete-tasks (delete_task_api/handler.rs:113-178):
    validate + record a delete query; it executes later (the reference
    queues it for the janitor's DeleteTaskService — here the janitor
    pass is execute_delete_tasks). Returns the DeleteTask shape
    {create_timestamp, opstamp, delete_query:{index_uid,
    start_timestamp, end_timestamp, query_ast}}."""
    from . import ast as A
    if not isinstance(query, str) or not query.strip():
        raise MgmtError("delete task needs a non-empty `query`")
    m = Manifest.load(index_dir)
    text_col = m.data.get("config", {}).get("text_col", "content")
    node = parse_with_fields(query, search_fields, text_col)
    if (start_timestamp is not None or end_timestamp is not None):
        ts_field = _loaded_timestamp_field(index_dir)
        if not ts_field:
            raise MgmtError(
                "this index has no timestamp_field configured; "
                "start_timestamp/end_timestamp need one")
        node = A.Bool(must=(node,), filter=(
            A.Range(ts_field,
                    gte=(None if start_timestamp is None
                         else float(start_timestamp)),
                    lt=(None if end_timestamp is None
                        else float(end_timestamp))),))
    task = m.add_delete_task({
        "query": query,
        "ast": A.ast_to_json(node),  # lossless, for execution
        "start_timestamp": start_timestamp,
        "end_timestamp": end_timestamp,
    })
    return _delete_task_view(m.data["index_uid"], task)


def _delete_task_view(index_uid: str, task: dict) -> dict:
    from . import ast as A
    out = {
        "create_timestamp": task["create_timestamp"],
        "opstamp": task["opstamp"],
        "delete_query": {
            "index_uid": index_uid,
            "start_timestamp": task.get("start_timestamp"),
            "end_timestamp": task.get("end_timestamp"),
            # the reference serializes the parsed QueryAst as a JSON
            # string inside the task (handler.rs:155-158)
            "query_ast": json.dumps(ast_to_reference_json(
                A.ast_from_json(task["ast"]))),
        },
        "status": task.get("status", "pending"),
    }
    if "result" in task:
        out["result"] = task["result"]
    return out


def list_delete_tasks(index_dir: str) -> list[dict]:
    """GET /{index_id}/delete-tasks (handler.rs:77-112)."""
    m = Manifest.load(index_dir)
    return [_delete_task_view(m.data["index_uid"], t)
            for t in m.delete_tasks()]


def execute_delete_tasks(index_dir: str, spark=None) -> dict:
    """The janitor pass (the reference's DeleteTaskService,
    quickwit-janitor/src/actors/delete_task_*.rs): run every pending
    delete task in opstamp order through the segment-rewrite delete
    path. Idempotent — completed tasks are skipped, and re-running a
    crash-interrupted task re-matches nothing (the docs are gone)."""
    from ..index.deletes import apply_delete_query
    from . import ast as A
    m = Manifest.load(index_dir)
    ran, docs = 0, 0
    for t in sorted(m.delete_tasks(), key=lambda t: int(t["opstamp"])):
        if t.get("status") == "done":
            continue
        node = A.ast_from_json(t["ast"])
        res = apply_delete_query(index_dir, node, spark=spark)
        m.complete_delete_task(t["opstamp"], res)
        ran += 1
        docs += int(res.get("docs_deleted", 0))
    return {"tasks_executed": ran, "docs_deleted": docs}


# ---------------------------------------------------------------------------
# analyze + parse-query
# ---------------------------------------------------------------------------

def analyze(text: str, tokenizer: str = "default") -> list[dict]:
    """POST /analyze (rest_handler.rs:125-160): tokenize `text`,
    returning tantivy-Token-shaped rows {text, position, offset_from,
    offset_to, position_length}. Offsets are exact where the analyzer's
    spans are recoverable (source_code_* via the exact scanner;
    default/en_stem/whitespace/lowercase via span re-derivation) and
    null for composite CJK emission (unigrams+bigrams share overlapping
    spans across positions)."""
    from ..functions import tokenizers as tok
    if not isinstance(text, str):
        raise MgmtError("`text` must be a string")
    tokens = tok.tokenize_one(text, tokenizer)
    spans: list[tuple[int, int] | None]
    if tokenizer in ("source_code_default", "source_code_with_hex"):
        spans = list(tok.code_token_spans_exact(
            text, hex_support=(tokenizer == "source_code_with_hex")))
        # RemoveLong drops >255-char tokens from `tokens` but the raw
        # scanner keeps them: re-filter spans the same way
        spans = [s for s in spans if s[1] - s[0] <= 255]
    elif tokenizer in ("default", "en_stem"):
        spans = [m.span() for m in re.finditer(r"[^\W_]+", text)
                 if m.end() - m.start() <= 255]
    elif tokenizer == "whitespace":
        spans = [m.span() for m in re.finditer(r"\S+", text)
                 if m.end() - m.start() <= 255]
    elif tokenizer in ("raw", "raw_lowercase", "lowercase"):
        spans = [(0, len(text))] if tokens else []
    else:
        spans = [None] * len(tokens)
    if len(spans) != len(tokens):  # analyzer-specific drop rules moved
        spans = [None] * len(tokens)
    out = []
    for pos, (t, sp) in enumerate(zip(tokens, spans)):
        row = {"text": t, "position": pos, "position_length": 1,
               "offset_from": None if sp is None else sp[0],
               "offset_to": None if sp is None else sp[1]}
        out.append(row)
    return out


_AST_TYPE = {
    "Term": "term", "TermSet": "term_set", "FullText": "full_text",
    "Phrase": "full_text", "PhrasePrefix": "phrase_prefix",
    "Range": "range", "FieldPresence": "field_presence",
    "Wildcard": "wildcard", "Regex": "regex", "MatchAll": "match_all",
    "MatchNone": "match_none", "Boost": "boost", "Bool": "bool",
}


def _bound(included, excluded):
    if included is not None:
        return {"included": included}
    if excluded is not None:
        return {"excluded": excluded}
    return "unbounded"


def ast_to_reference_json(node) -> dict:
    """Serialize the AST in the reference QueryAst's serde shape
    (quickwit-query/src/query_ast/mod.rs:51-70: `tag = "type"`,
    snake_case variants; Range bounds as {"included"/"excluded": v} |
    "unbounded", range_query.rs)."""
    from . import ast as A
    t = _AST_TYPE[type(node).__name__]
    if isinstance(node, A.Term):
        return {"type": "term", "field": node.field, "value": node.value}
    if isinstance(node, A.TermSet):
        return {"type": "term_set",
                "terms_per_field": {node.field: sorted(node.values)}}
    if isinstance(node, A.FullText):
        return {"type": "full_text", "field": node.field,
                "text": node.text,
                "params": {"mode": {"type": "bool",
                                    "operator": node.operator}}}
    if isinstance(node, A.Phrase):
        return {"type": "full_text", "field": node.field,
                "text": node.text,
                "params": {"mode": {"type": "phrase",
                                    "slop": node.slop}}}
    if isinstance(node, A.PhrasePrefix):
        return {"type": "phrase_prefix", "field": node.field,
                "phrase": node.text,
                "max_expansions": node.max_expansions}
    if isinstance(node, A.Range):
        return {"type": "range", "field": node.field,
                "lower_bound": _bound(node.gte, node.gt),
                "upper_bound": _bound(node.lte, node.lt)}
    if isinstance(node, A.FieldPresence):
        return {"type": "field_presence", "field": node.field}
    if isinstance(node, A.Wildcard):
        return {"type": "wildcard", "field": node.field,
                "value": node.pattern}
    if isinstance(node, A.Regex):
        return {"type": "regex", "field": node.field,
                "regex": node.pattern}
    if isinstance(node, A.Boost):
        return {"type": "boost", "boost": node.boost,
                "underlying": ast_to_reference_json(node.inner)}
    if isinstance(node, A.Bool):
        out: dict = {"type": "bool"}
        for k in ("must", "must_not", "should", "filter"):
            vs = getattr(node, k)
            if vs:
                out[k] = [ast_to_reference_json(v) for v in vs]
        if node.minimum_should_match is not None:
            out["minimum_should_match"] = node.minimum_should_match
        return out
    return {"type": t}


def parse_query_to_json(query: str,
                        search_fields: list[str] | None = None) -> dict:
    """POST /parse-query (rest_handler.rs:163-205): parse a user query
    into the QueryAst JSON. With multiple search fields, each text
    clause expands across fields — expressed here as an OR over
    per-field parses (the reference resolves default_fields at convert
    time, user_input_query.rs)."""
    if not isinstance(query, str):
        raise MgmtError("`query` must be a string")
    return ast_to_reference_json(
        parse_with_fields(query, search_fields, "content"))


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def ingest_ndjson(config: IndexConfig, docs: list[dict],
                  sizes: list[int] | None = None) -> dict:
    """POST /{index}/ingest (ingest_api/rest_handler.rs): NDJSON docs in,
    {num_docs_for_processing} out. Delegates to the bulk build path —
    one segment per payload, content-keyed checkpoint, so replaying the
    same payload is a publish no-op (exactly-once)."""
    from .es_dsl import es_bulk
    if not docs:
        return {"num_docs_for_processing": 0}
    has_mapper = config.__dict__.get("_mapper") is not None
    required = set() if has_mapper else set(config.key_cols) | (
        set(config.concat_cols) if config.concat_cols
        else {config.text_col})
    lines: list[dict] = []
    for i, d in enumerate(docs):
        if not isinstance(d, dict):
            raise MgmtError("ingest expects one JSON object per line")
        missing = required - set(d)
        if missing:
            raise MgmtError(
                f"doc {i} is missing required fields "
                f"{sorted(missing)} (doc id fields "
                f"{list(config.key_cols)} and the indexed text field "
                f"are mandatory)")
        lines.append({"index": {}})
        lines.append(d)
    try:
        es_bulk(config, lines, doc_sizes=sizes)
    except ValueError as e:
        raise MgmtError(str(e)) from e
    return {"num_docs_for_processing": len(docs)}
