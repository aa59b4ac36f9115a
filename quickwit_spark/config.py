"""Index configuration, mirroring the reference engine's defaults.

Reference anchors:
  - commit/flush sizing + heap: quickwit-config/src/index_config/mod.rs:65-141
  - merge policy defaults:      quickwit-config/src/merge_policy_config.rs:91-117
  - doc mapping (strict mode):  quickwit-doc-mapper/src/doc_mapping.rs:97-162
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class MergePolicyConfig:
    """StableLogMergePolicy defaults (merge_policy_config.rs:91-117)."""
    merge_factor: int = 10
    max_merge_factor: int = 12
    min_level_num_docs: int = 100_000
    # splits with >= this many docs are mature and never merged
    # (index_config/mod.rs:139-141)
    split_num_docs_target: int = 10_000_000


@dataclass
class IndexConfig:
    index_uid: str
    index_dir: str
    key_cols: tuple[str, ...] = ("repo", "path", "commit")
    text_col: str = "content"
    tokenizer: str = "source_code_default"
    tag_cols: tuple[str, ...] = ("lang",)
    sha_col: str | None = "sha256"
    # concatenate field (field_mapping_entry.rs:357-365,
    # rest-api-tests/scenarii/concat_fields/): when set, the indexed text
    # is the space-join of these source columns and text_col is the
    # virtual field's name
    concat_cols: tuple[str, ...] = ()
    # partition routing expression (doc_mapping partition_key via SipHash,
    # routing_expression/mod.rs:107-141): when set, docs route by the hash
    # of THESE columns instead of the doc key — same-valued docs land in
    # the same segments, which is what makes tag and min/max stats pruning
    # effective. Mod-based routing bounds the partition count inherently
    # (the reference's max_num_partitions/OTHER clamp solves the unbounded
    # per-value partition space, indexer.rs:60,152-178).
    partition_cols: tuple[str, ...] = ()
    # extra columns copied into the doc map as fast fields (range/sort/agg)
    store_cols: tuple[str, ...] = ()
    schema_rev: str = "v1"
    # flush a sub-segment when a build partition accumulates this many docs
    # (analog of the reference's commit triggers; keeps segments bounded)
    max_docs_per_segment: int = 5_000_000
    # max distinct tag values recorded per segment (packager.rs:40-44)
    max_tag_values: int = 1000
    # indexing regimes (field_mapping_entry.rs:316-337): record="basic"
    # treats tf as 1 at scoring time; fieldnorms=False uses a constant
    # length norm (score degenerates to idf)
    record: str = "freq"
    fieldnorms: bool = True
    # dynamic mapping mode (doc_mapping.rs:26-47 `mode: dynamic`): when
    # set, this column holds a JSON object of UNMAPPED fields; its leaf
    # paths are indexed as exact `path\0value` terms in a reserved
    # namespace of the main term dictionary, so Term/TermSet/exists
    # queries on any path work without schema changes (the reference's
    # find_field_or_hit_dynamic resolution). Strict mode (None) stays
    # the default for the fixed code corpus.
    dynamic_col: str | None = None
    # analyzer applied to string leaves of the dynamic column. "raw"
    # (the reference's QuickwitJsonOptions default,
    # field_mapping_entry.rs:405-411/620-629) keeps the legacy exact
    # `path\0value` terms; any other analyzer tokenizes leaves and
    # emits one `path\0token` term per occurrence — with real positions
    # when record="position" — which is what `dynamic_mapping:
    # {tokenizer: default, record: position}` configs mean (the
    # gharchive mapping of the reference's own rest-api-tests).
    dynamic_tokenizer: str = "raw"
    # normalizer for the dynamic FAST values (`dynamic_mapping: {fast:
    # {normalizer: lowercase}}`): sort/agg keys over dynamic string
    # paths are normalized, while the indexed terms follow the
    # tokenizer (the reference's fast-field normalizer option)
    dynamic_fast_normalizer: str | None = None
    # mapped fields routed through the dynamic namespace instead of a
    # doc column: secondary text fields, `json` fields and object
    # sub-fields from a reference doc mapping. {dotted.path: {
    # "tokenizer": str}} — tokenizer "raw" means exact terms.
    # The engine resolves queries on these paths with the FIELD's
    # analyzer rather than the catch-all dynamic_tokenizer.
    dyn_text_fields: dict = field(default_factory=dict)
    # doc-store column holding each doc's original JSON (served as ES
    # `_source`; the reference stores the full doc in the doc store)
    source_col: str | None = None
    # typed fast fields (field_mapping_type.rs:42-44): maps a tag/store
    # column name to "ip" (text IPs normalized to the sortable 32-hex
    # IPv6-u128 form; v4 mapped per RFC 4291) or "bytes" (base64 text
    # decoded to raw binary). Term/Range/sort on these columns coerce
    # query values through the same codec, so ordering is numeric, not
    # textual ("9.0.0.0" < "100.0.0.0" as IPs).
    field_types: dict = field(default_factory=dict)
    merge_policy: MergePolicyConfig = field(default_factory=MergePolicyConfig)

    def __post_init__(self):
        bad = set(self.field_types) & set(self.tag_cols)
        if bad:
            # tag sets are stored raw while typed columns store the
            # normalized transport — the tag-pruning comparison would
            # silently miss alternate spellings of the same IP. Typed
            # fields belong in store_cols (min/max stats still prune).
            raise ValueError(
                f"typed fast fields cannot be tag_cols: {sorted(bad)}")
        for col, t in self.field_types.items():
            if t not in ("ip", "bytes", "datetime"):
                raise ValueError(f"unknown field type {t!r} for {col!r}")

    def doc_sort_cols(self) -> list[str]:
        """Stable within-partition doc order => deterministic doc ids."""
        return list(self.key_cols)

    def manifest_config(self) -> dict:
        """The config dict persisted in the manifest (what the searcher
        reads back, engine `manifest.data['config']`). The SINGLE source
        for every Manifest.load_or_create call site — a key added here
        reaches all ingest paths (batch, streaming, Iceberg, bulk) at
        once instead of drifting across hand-typed dicts."""
        return {"key_cols": list(self.key_cols),
                "text_col": self.text_col,
                "tokenizer": self.tokenizer,
                "schema_rev": self.schema_rev,
                "tag_cols": list(self.tag_cols),
                # lets a searcher over a still-EMPTY index know that
                # schemaless paths may exist (aggregations on a
                # dynamic index must return empty results, not
                # unknown-field errors)
                "dynamic": bool(self.dynamic_col)}
