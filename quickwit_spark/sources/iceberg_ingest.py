"""Incremental index builds driven by Iceberg snapshots.

The reference's file/queue sources track a source position and commit it
atomically with each split publish (checkpoint.rs:170-337,
publisher.rs:130-155). With an Iceberg table as the source, the natural
position is the table's own SEQUENCE NUMBER: each call indexes exactly
the data files appended since the last recorded sequence number (however
many snapshots that spans) and advances the checkpoint in the SAME
manifest transaction that publishes the segments — exactly-once on top
of crash/retry replays, the same contract as streaming.incremental.

Scale shape: the delta plan touches only manifests newer than the
checkpoint (manifest-list sequence_number skip), the build is the
standard routed mapInPandas segment build over ONLY the new files, and
the driver collects one manifest row per segment — nothing is
proportional to the already-indexed corpus.

Source-side DELETES (position AND equality — upserts include one) do
not propagate through ``ingest_iceberg``: it consumes appends only
(delete manifests are skipped by ``appended_files``), matching the
reference's source contract — so an upserted document is indexed as a
NEW doc while its old version stays in the index until retired
explicitly. Deleting documents from the INDEX is the delete-task flow
(index/deletes.py, `_delete_by_query`), a separate operation; the
returned summary's ``source_deletes_ignored`` counts the delete
manifests this call skipped so callers can wire that retirement (None
with ``deletes_folded: True`` when a rewrite folded deletes this
checkpoint never observed — then the count is unknowable). Every
skipped delete is also recorded in the checkpoint position
(cumulative ``adel`` marker), and ``sync_iceberg`` REFUSES to take
over such an index: the skipped deletions sit below the checkpoint
where no delta will ever surface them again.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from ..config import IndexConfig
from ..index.builder import build_groups, route_partitions
from ..index.manifest import CheckpointConflict, Manifest
from ..streaming.incremental import _cleanup_replayed_segments
from .iceberg import IcebergTable, load_table

# partition-id namespace per ingested sequence number; disjoint from
# streaming's batch stride blocks only by key namespace (partition ids
# are segment metadata, not checkpoint keys — collisions are harmless,
# distinctness is just for lineage readability)
SEQ_PARTITION_STRIDE = 1_000_000


def _checkpoint_key(table: IcebergTable) -> str:
    return f"iceberg:{table.meta['table-uuid']}"


def _position_fields(pos: str | None) -> dict:
    if not pos:
        return {}
    if not pos.startswith("iceberg-seq="):
        raise ValueError(f"not an iceberg source position: {pos!r}")
    return dict(kv.split("=", 1) for kv in pos.split(";"))


def _parse_position(pos: str | None) -> tuple[int, int | None]:
    """Stored position 'iceberg-seq=N;snap=S;...' -> (N, S)."""
    fields = _position_fields(pos)
    if not fields:
        return 0, None
    snap = fields.get("snap")
    return int(fields["iceberg-seq"]), (int(snap) if snap else None)


def _norm_typed(v, itype: str):
    """ONE deterministic Python value per (raw value, declared iceberg
    type) — independent of pandas dtype inference, which floatifies an
    int64 column in the file that happens to carry nulls while keeping
    a null-free file's integral (str() of 7.0 vs 7 then silently
    mismatches between the delete side and the probe side)."""
    base = itype.split("(")[0].split("[")[0]
    if base in ("int", "long"):
        return int(v)
    if base in ("float", "double"):
        f = float(v)
        return int(f) if f.is_integer() else f
    if base == "boolean":
        return bool(v)
    if base in ("binary", "fixed", "uuid"):
        return bytes(v)
    return str(v)


def _blinding_folds(table: IcebergTable, since_seq: int,
                    cur_seq: int) -> list[int]:
    """Folded-delete watermarks that make delete files invisible to a
    consumer checkpointed at since_seq (rewrite_data_files drops delete
    manifests while preserving data sequence numbers)."""
    props = table.meta.get("properties", {})
    folds = [[int(f), int(r)] for f, r in
             json.loads(props.get("quickwit.folded-deletes", "[]"))]
    legacy = props.get("quickwit.folded-deletes-max-seq")
    if legacy is not None:   # pre-pair format: rewrite seq unknown
        folds.append([int(legacy), 0])
    return [f for f, r in folds if since_seq and f > since_seq
            and r <= cur_seq]


def _delta_state(table: IcebergTable, table_path: str, manifest: Manifest,
                 snapshot_id: int | None) -> tuple:
    """Shared checkpoint/lineage math for the incremental consumers:
    (key, stored, since_seq, cur_seq, snap). Raises CheckpointConflict
    on lineage breaks and rewinds."""
    snap = table.snapshot(snapshot_id)
    key = _checkpoint_key(table)
    stored = manifest.checkpoint(key)
    since_seq, since_snap = _parse_position(stored)
    cur_seq = 0 if snap is None else snap["sequence-number"]
    # lineage check FIRST: the table uuid is path-derived
    # (create_table._det_uuid), so a dropped-and-recreated table at the
    # same path reuses the checkpoint key — and can even land on the
    # SAME sequence number, which a pure seq comparison would read as
    # 'up-to-date' and silently never index. The recorded snapshot id
    # must still exist in the table's history — or be covered by the
    # expire_snapshots watermark below — to prove the same lineage.
    if since_snap is not None and since_snap not in {
            s["snapshot-id"] for s in table.meta["snapshots"]}:
        # expire_snapshots legitimately removes old snapshots from the
        # SAME lineage; it records the highest expired sequence number,
        # so a checkpoint at/below that watermark is provably consumed
        # history, not a replaced table (a recreated table starts with
        # no watermark, so its fresh metadata still fails this check).
        expired_seq = int(table.meta.get("properties", {})
                          .get("quickwit.expired-up-to-seq", -1))
        if since_seq > expired_seq:
            raise CheckpointConflict(
                f"iceberg table {table_path} does not contain snapshot "
                f"{since_snap} recorded in the index checkpoint — the "
                f"table was replaced or its history rewritten; rebuild "
                f"the index fresh instead of resuming")
    if cur_seq < since_seq:
        # same lineage but the metadata dir was rolled back manually
        raise CheckpointConflict(
            f"iceberg table {table_path} is at sequence {cur_seq} but "
            f"the index already consumed up to {since_seq}; refusing "
            f"to rewind — rebuild the index fresh instead")
    return key, stored, since_seq, cur_seq, snap


def ingest_iceberg(spark, table_path: str, config: IndexConfig,
                   partitions_per_ingest: int = 8,
                   snapshot_id: int | None = None,
                   allow_existing_index: bool = False) -> dict:
    """Index every data file appended since the last recorded sequence
    number (as of the current — or pinned — snapshot), publishing the
    segments and the new source position atomically. Returns a summary
    dict; ``status`` is 'up-to-date', 'published', or 'replayed'.

    The recorded position carries a cumulative ``adel`` (appends-only
    ignored deletes) marker whenever this consumer skipped delete
    manifests — switching the same index to ``sync_iceberg`` later is
    then refused loudly instead of silently never retiring those
    deletions. ``source_deletes_ignored`` is None (with
    ``deletes_folded: True``) when rewrite_data_files folded delete
    files this checkpoint never observed — the count is unknowable,
    and callers wiring retirement off it must not trust it."""
    table = load_table(table_path)
    manifest = Manifest.load_or_create(
        config.index_dir, config.index_uid, config.manifest_config())
    key, stored, since_seq, cur_seq, snap = _delta_state(
        table, table_path, manifest, snapshot_id)
    if cur_seq == since_seq:
        return {"status": "up-to-date", "sequence": cur_seq,
                "files": 0, "docs": 0, "segments": 0,
                "source_deletes_ignored": 0}
    # an index with published segments but no iceberg checkpoint was
    # built by a FULL build (or another source): "the delta" would be
    # the whole table, silently doubling every document (same guard as
    # sync_iceberg; opt out explicitly for multi-source indexes)
    if since_seq == 0 and manifest.segments() \
            and not allow_existing_index:
        raise CheckpointConflict(
            f"index {config.index_dir} has published segments but no "
            "iceberg source checkpoint — ingesting the full table on "
            "top would duplicate every document. Rebuild fresh, or "
            "pass allow_existing_index=True if this index really "
            "aggregates multiple sources")

    files = table.appended_files(since_seq, snapshot_id)
    from .avro_ocf import read_ocf
    _, all_manifests = read_ocf(snap["manifest-list"])
    deletes_ignored = sum(
        1 for mf in all_manifests
        if mf.get("content") == 1 and mf["sequence_number"] > since_seq)
    blinded = bool(_blinding_folds(table, since_seq, cur_seq))
    prev_adel = int(_position_fields(stored).get("adel", 0))
    new_adel = prev_adel + deletes_ignored + (1 if blinded else 0)

    df = None
    if files:
        # resolve columns by field id when the schema history contains
        # a rename/name-reuse (delta files may span generations)
        fields = table.schema_fields
        use_ids = table._needs_field_id_read(fields)
        if use_ids:
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
                           "true")
        df = (spark.read
              .schema(table._spark_read_schema(fields, use_ids))
              .parquet(*[f["file_path"] for f in files]))
    return _build_and_publish(
        df, config, manifest, key, stored, cur_seq, snap, len(files),
        partitions_per_ingest,
        {"source_deletes_ignored":
            None if blinded else deletes_ignored,
         **({"deletes_folded": True} if blinded else {})},
        adel=new_adel)


def _build_and_publish(df, config: IndexConfig, manifest: Manifest,
                       key: str, stored: str | None, cur_seq: int,
                       snap: dict, n_files: int,
                       partitions_per_ingest: int,
                       summary_extra: dict, adel: int = 0) -> dict:
    """Shared tail of the incremental consumers (ingest_iceberg and
    sync_iceberg): routed segment build over ``df`` (None or empty ->
    zero segments, checkpoint still advances), content-addressed
    position string, atomic publish, and exact-replay resolution —
    one implementation so the two consumers' exactly-once behavior
    cannot drift."""
    segments_root = os.path.join(config.index_dir, "segments")
    os.makedirs(segments_root, exist_ok=True)
    rows: list[dict] = []
    if df is not None:
        base = cur_seq * SEQ_PARTITION_STRIDE
        routed = route_partitions(df, config, partitions_per_ingest)
        from pyspark.sql import functions as F
        routed = routed.withColumn("_pid", F.col("_pid") + F.lit(base))
        rows = build_groups(routed, config, segments_root,
                            pids=range(base, base + partitions_per_ingest))

    n_docs = sum(r["num_docs"] for r in rows)
    sig = hashlib.sha256(
        "|".join(sorted(r["segment_id"] for r in rows)).encode()
    ).hexdigest()[:12]
    to = (f"iceberg-seq={cur_seq};snap={snap['snapshot-id']};"
          f"files={n_files};ids={sig}"
          + (f";adel={adel}" if adel else ""))
    summary = {"status": "published", "sequence": cur_seq,
               "files": n_files, "docs": n_docs,
               "segments": len(rows), **summary_extra}
    try:
        manifest.publish(rows, checkpoint_delta={key: (stored, to)})
    except CheckpointConflict:
        # exactly-once: only an EXACT replay (same position, i.e. same
        # snapshot AND same content-addressed segment ids) is benign.
        # The adel marker is consumption METADATA, not content: a
        # legacy position written before adel existed must still
        # replay benignly, so compare with it stripped.
        def _strip_adel(p: str) -> str:
            return ";".join(kv for kv in (p or "").split(";")
                            if not kv.startswith("adel="))
        if _strip_adel(manifest.checkpoint(key)) != _strip_adel(to):
            raise
        _cleanup_replayed_segments(manifest, segments_root, rows)
        summary["status"] = "replayed"
    return summary


def sync_iceberg(spark, table_path: str, config: IndexConfig,
                 key_cols: list[str] | None = None,
                 partitions_per_ingest: int = 8,
                 snapshot_id: int | None = None) -> dict:
    """Incremental ingest that PROPAGATES source deletes to the index.

    ``ingest_iceberg`` keeps the reference's source contract (appends
    only; ``source_deletes_ignored`` counts what it skipped). A table
    maintained by CDC (upsert_pandas / delete_where) also retires rows,
    and an index synced from it must retire the matching documents or
    serve stale versions forever. This does three moves, in order:

    1. RETIRE — every row identity deleted in the delta is removed from
       the already-published segments via the delete-task flow
       (index/deletes.py segment rewrite): equality-delete files
       contribute their key tuples directly; position-delete files
       aimed at data files at/below the checkpoint are resolved to key
       tuples by reading exactly those rows (``key_cols``). Everything
       already indexed was ingested at a sequence <= the checkpoint,
       strictly below every delta delete, so the spec's
       strictly-smaller rule reduces to "retire all matches".
    2. INGEST the delta rows WITH merge-on-read suppression applied
       inside the delta (``table.read(min_data_seq=checkpoint)``) — an
       upsert chain within the delta leaves only its newest version,
       and position deletes aimed at delta files suppress those rows
       before they are ever indexed.
    3. PUBLISH the new segments and the advanced source position
       atomically, exactly like ingest_iceberg.

    A crash between 1 and 3 is safe: the retirement rewrite is
    idempotent (content-addressed segment ids; already-retired docs
    match nothing) and the checkpoint only advances with the publish,
    so a retry redoes both and converges.

    Constraints (checked loudly): retirement matches key values as
    exact terms (numeric values via str()), so key columns must be
    doc fields of the index and must not be null in any delete row.

    key_cols identifies position-deleted rows; defaults to the index's
    own doc identity (config.key_cols). Equality-delete retirement
    always uses the delete file's OWN key columns.

    Scale shape: delete sets are compact by design (the same premise
    the reader's broadcast anti-joins rest on), so key extraction is a
    driver-side read of just the delete files plus the deleted rows;
    the retirement rewrite and the delta build both fan out over Spark.
    """
    import pyarrow.parquet as pq

    from ..index.deletes import apply_delete_query
    from ..search import ast as A
    from .iceberg import _read_cols_by_id

    table = load_table(table_path)
    manifest = Manifest.load_or_create(
        config.index_dir, config.index_uid, config.manifest_config())
    key, stored, since_seq, cur_seq, snap = _delta_state(
        table, table_path, manifest, snapshot_id)
    # a checkpoint advanced by ingest_iceberg WHILE delete manifests
    # landed (the position's cumulative adel marker) means deletions
    # at/below the checkpoint were consumed appends-only and never
    # retired — the index serves stale documents NOW, delta or not.
    # Refuse even when up-to-date, like every other stale-document
    # path (folds, rewinds, mixed sources).
    skipped = int(_position_fields(stored).get("adel", 0))
    if skipped:
        raise CheckpointConflict(
            f"index {config.index_dir} consumed this table appends-"
            f"only (ingest_iceberg) while {skipped} delete file(s) "
            "landed; those deletions were never propagated and are "
            "below the checkpoint now — rebuild the index fresh with "
            "sync_iceberg to get delete propagation")
    if cur_seq == since_seq:
        return {"status": "up-to-date", "sequence": cur_seq, "files": 0,
                "docs": 0, "segments": 0, "docs_retired": 0,
                "segments_rewritten": 0}
    # a checkpoint of 0 with segments already published means the index
    # was built by a FULL build (or a different source) — the sync's
    # "delta" would be the whole table, duplicating every document next
    # to its full-build copy and skipping all retirement
    if since_seq == 0 and manifest.segments():
        raise CheckpointConflict(
            f"index {config.index_dir} has published segments but no "
            "iceberg source checkpoint — it was not built by "
            "sync/ingest_iceberg; syncing on top would duplicate every "
            "document. Rebuild fresh via sync_iceberg, or keep "
            "maintaining it with full builds")
    # rewrite_data_files folds delete debt into rewritten data files
    # and DROPS the delete manifests while preserving data sequence
    # numbers — a checkpoint that predates a folded delete would
    # neither see the delete nor re-read the rewritten rows. Each fold
    # records (max folded delete seq, rewrite seq); a fold only blinds
    # THIS sync if its rewrite is visible in the planned snapshot
    # (cur_seq >= rewrite seq) — a sync pinned before the rewrite still
    # sees the delete manifests. Refuse rather than silently serve
    # stale documents forever.
    blinding = _blinding_folds(table, since_seq, cur_seq)
    if blinding:
        raise CheckpointConflict(
            f"rewrite_data_files compacted delete files up to sequence "
            f"{max(blinding)} while this index's checkpoint was at "
            f"{since_seq}; those deletions are no longer observable as "
            "a delta — rebuild the index fresh (sync before compacting "
            "next time)")

    plan = table.plan_files(None, snapshot_id)
    delta_files = [f for f in plan.files if f["_seq"] > since_seq]
    eq_dels = [d for d in plan.delete_files
               if d.get("content") == 2 and d["_seq"] > since_seq]
    pos_dels = [d for d in plan.delete_files
                if d.get("content") == 1 and d["_seq"] > since_seq]

    # ---- 1. collect + retire deleted identities (skipped entirely on a
    # first sync: nothing is indexed yet, and the delta read's MoR
    # suppression alone is exact — including null-keyed deletes, which
    # eqNullSafe handles but a term match could not) -------------------
    docs_retired = segments_rewritten = 0
    if since_seq > 0 and (eq_dels or pos_dels):
        fld_by_id = {f["id"]: f for f in table.schema_fields}
        fld_by_name = {f["name"]: f for f in table.schema_fields}
        groups: dict[tuple, set] = {}   # key columns -> key tuples
        pos_groups: dict[tuple, set] = {}  # position-delete derived only

        field_types: dict[tuple, tuple] = {}  # cols -> iceberg types

        def _add(bucket: dict, cols: tuple, fields: list[dict],
                 pdf: pd.DataFrame) -> None:
            dest = bucket.setdefault(cols, set())
            field_types[cols] = tuple(f["type"] for f in fields)
            # normalize per the DECLARED column type, not pandas dtype
            # inference: a file whose int64 key column carries nulls
            # floatifies its non-null values (7 -> 7.0) while a
            # null-free file keeps them integral — value-set-dependent
            # canonicalization silently missed real duplicates
            for tup in pdf.itertuples(index=False, name=None):
                if any(pd.isna(v) for v in tup):
                    raise ValueError(
                        f"delete row with null key "
                        f"{dict(zip(cols, tup))!r}: null keys cannot be "
                        "retired by term match — refusing rather than "
                        "leaving a stale document")
                dest.add(tuple(
                    _norm_typed(v, t)
                    for v, t in zip(tup, field_types[cols])))

        for d in eq_dels:
            missing = [i for i in d["equality_ids"] if i not in fld_by_id]
            if missing:
                raise ValueError(
                    f"equality delete references field id(s) {missing} "
                    "not in the current schema — refusing to sync")
            # resolve by embedded field id: delete files written before
            # a rename carry the old column NAME but the same id
            wanted = [fld_by_id[i] for i in d["equality_ids"]]
            _add(groups, tuple(f["name"] for f in wanted), wanted,
                 _read_cols_by_id(d["file_path"], wanted))

        # eq-dead suppression for position deletes: a pos delete aimed
        # at a row an equality delete already killed (d_seq > f_seq)
        # retires by a key whose LIVE newer version survives — skip
        # those positions; the eq-key path retires the right docs.
        # (delete_where no longer emits such positions; foreign CDC
        # writers may.)
        all_eq_sets = []
        for d in (x for x in plan.delete_files
                  if x.get("content") == 2):
            flds = [fld_by_id[i] for i in d["equality_ids"]
                    if i in fld_by_id]
            if len(flds) != len(d["equality_ids"]):
                continue
            epdf = _read_cols_by_id(d["file_path"], flds)
            all_eq_sets.append((d["_seq"], flds, {
                tuple(_norm_typed(v, f["type"])
                      for v, f in zip(t, flds))
                for t in epdf.itertuples(index=False, name=None)
                if not any(pd.isna(v) for v in t)}))

        if pos_dels:
            live_by_path = {f["file_path"]: f for f in plan.files}
            pos_by_file: dict[str, list[int]] = {}
            for d in pos_dels:
                t = pq.read_table(d["file_path"],
                                  columns=["file_path", "pos"])
                for fp, p in zip(t.column("file_path").to_pylist(),
                                 t.column("pos").to_pylist()):
                    pos_by_file.setdefault(fp, []).append(p)
            if key_cols is None:
                key_cols = list(config.key_cols)  # the index's identity
            missing = [c for c in key_cols if c not in fld_by_name]
            if missing:
                raise ValueError(
                    f"key_cols {missing} not in the table schema")
            key_fields = [fld_by_name[c] for c in key_cols]
            for fp, poss in sorted(pos_by_file.items()):
                f = live_by_path.get(fp)
                if f is None:
                    # rewrite_data_files folds delete debt and drops
                    # the delete manifests with it, so a live position
                    # delete always references a live file — anything
                    # else is a corrupt table
                    raise ValueError(
                        f"position delete references {fp!r}, which is "
                        "not a live data file")
                if f["_seq"] > since_seq:
                    continue  # delta-internal: the delta read suppresses
                pdf = _read_cols_by_id(fp, key_fields)
                bad = sorted(p for p in set(poss)
                             if p < 0 or p >= len(pdf))
                if bad:
                    raise ValueError(
                        f"position delete references row {bad[0]} of "
                        f"{fp!r}, which has only {len(pdf)} rows — "
                        "corrupt table")
                live_poss = sorted(set(poss))
                if all_eq_sets:
                    dead: set[int] = set()
                    for dseq, flds, keyset in all_eq_sets:
                        if f["_seq"] >= dseq or not keyset:
                            continue
                        kdf = _read_cols_by_id(fp, flds)
                        for p in live_poss:
                            vals = list(kdf.iloc[p])
                            if any(pd.isna(v) for v in vals):
                                continue  # null keys never eq-match
                            t = tuple(_norm_typed(v, fd["type"])
                                      for v, fd in zip(vals, flds))
                            if t in keyset:
                                dead.add(p)
                    live_poss = [p for p in live_poss if p not in dead]
                if not live_poss:
                    continue
                sub = pdf.iloc[live_poss]
                _add(pos_groups, tuple(key_cols), key_fields, sub)

        # a position delete removes ONE row; retiring by key is only
        # sound if no OTHER already-indexed row shares the key (those
        # survivors would be dropped from the index yet never
        # re-ingested). A DISTRIBUTED inner join of the MoR-suppressed
        # pre-delta rows against the (broadcast-small) delete-key set
        # checks this on the table's own Spark types — no driver-side
        # collect proportional to the corpus, no dtype-inference canon.
        # Equality deletes need no check: they remove every matching
        # row from the table, mirroring the index retirement exactly.
        from pyspark.sql import functions as F
        for cols, tuples in sorted(pos_groups.items()):
            types = field_types[cols]
            key_fields_c = [fld_by_name[c] for c in cols]

            def _spark_val(v, itype):
                base = itype.split("(")[0].split("[")[0]
                return float(v) if base in ("float", "double") else v

            rows_ = [tuple(_spark_val(v, t) for v, t in zip(tup, types))
                     for tup in sorted(tuples, key=repr)]
            keys_df = spark.createDataFrame(
                rows_, table._spark_read_schema(key_fields_c, False))
            pre_filter = None
            if types[0].split("(")[0] in ("int", "long", "string"):
                # scan pruning on the leading key when pushdown-typed
                pre_filter = [(cols[0], "in",
                               sorted({t[0] for t in tuples}))]
            pre = table.read(spark, filter=pre_filter,
                             snapshot_id=snapshot_id,
                             max_data_seq=since_seq).select(*cols)
            clash = (pre.join(F.broadcast(keys_df), on=list(cols),
                              how="inner").limit(3).collect())
            if clash:
                raise ValueError(
                    f"position-deleted key {tuple(clash[0])!r} is not "
                    "unique among already-indexed rows; retiring by "
                    f"key {list(cols)} would drop surviving duplicates "
                    "— refusing")
            groups.setdefault(cols, set()).update(tuples)
            field_types.setdefault(cols, types)

        if groups:
            def _term_value(col: str, v) -> str:
                if isinstance(v, bytes):
                    # the engine's bytes fast fields coerce query
                    # literals through base64 (_attr_value); str(v)
                    # would either crash the typed path or silently
                    # match nothing on an untyped one
                    if config.field_types.get(col) != "bytes":
                        raise ValueError(
                            f"binary key column {col!r} needs "
                            f"IndexConfig.field_types[{col!r}] = "
                            "'bytes' for retirement by term — "
                            "refusing rather than retiring nothing")
                    import base64
                    return base64.b64encode(v).decode()
                return str(v)

            clauses: list[A.Node] = []
            for cols, tuples in sorted(groups.items()):
                if len(cols) == 1:
                    clauses.append(A.TermSet(
                        cols[0],
                        tuple(sorted(_term_value(cols[0], t[0])
                                     for t in tuples))))
                else:
                    clauses.extend(
                        A.Bool(must=tuple(
                            A.Term(c, _term_value(c, v))
                            for c, v in zip(cols, t)))
                        for t in sorted(tuples, key=repr))
            query = (clauses[0] if len(clauses) == 1
                     else A.Bool(should=tuple(clauses),
                                 minimum_should_match=1))
            # retirement must only scope by ingest epoch when partition
            # ids MEAN iceberg sequence numbers — an index that also
            # ingests from streaming sources shares the 1M-stride pid
            # namespace with unrelated batch ids, and scoping by it
            # would silently skip already-consumed streaming segments
            foreign = [k for k in manifest.data.get("checkpoints", {})
                       if not str(k).startswith("iceberg:")]
            if foreign:
                raise CheckpointConflict(
                    f"index {config.index_dir} also ingests from "
                    f"non-iceberg sources ({sorted(foreign)[:3]}): CDC "
                    "retirement cannot scope safely across mixed "
                    "partition-id namespaces — retire via an explicit "
                    "_delete_by_query instead")
            # scope retirement to segments ingested AT OR BELOW the
            # checkpoint (partition ids encode the ingest sequence;
            # merge/delete rewrites carry the NEWEST ancestor epoch as
            # max_src_pid). A crash-retry or racing duplicate of this
            # very delta otherwise re-runs retirement against an index
            # that already contains the delta's NEW rows — and the
            # equality-delete keys match the new versions too, deleting
            # the documents the winning sync just published.
            cutoff = (since_seq + 1) * SEQ_PARTITION_STRIDE

            def _epoch_pid(seg: dict) -> int:
                msp = seg.get("max_src_pid")
                return msp if msp is not None else \
                    seg.get("partition_id", -1)

            res = apply_delete_query(
                config.index_dir, query, spark=spark,
                segment_filter=lambda seg: _epoch_pid(seg) < cutoff)
            docs_retired = res["docs_deleted"]
            segments_rewritten = res["segments_rewritten"]

    # ---- 2+3. ingest the delta with in-delta suppression, publish ----
    df = None
    if delta_files:
        df = table.read(spark, snapshot_id=snapshot_id,
                        min_data_seq=since_seq, _plan=plan)
    return _build_and_publish(
        df, config, manifest, key, stored, cur_seq, snap,
        len(delta_files), partitions_per_ingest,
        {"docs_retired": docs_retired,
         "segments_rewritten": segments_rewritten,
         "eq_delete_files": len(eq_dels),
         "pos_delete_files": len(pos_dels)})
