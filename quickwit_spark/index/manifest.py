"""Segment manifest: the engine's metastore.

One JSON document per index, updated by atomic rename (os.replace), holding
segment metadata rows (mirroring the reference's SplitMetadata,
quickwit-metastore/src/split_metadata.rs:61-135) and per-partition source
checkpoints (checkpoint.rs:170-337).

Publish semantics mirror the reference publisher
(quickwit-indexing/src/actors/publisher.rs:130-155): staged segment rows are
added, replaced segment ids are marked dead, and the checkpoint delta is
applied in the SAME atomic commit. A delta whose `from` position does not
equal the stored position is rejected (the reference's exactly-once publish
guarantee, checkpoint.rs:285-324) — re-running an already-published build
partition is therefore a no-op.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
import tempfile
import time as _time
from typing import Any

SEGMENT_STATE_PUBLISHED = "published"
SEGMENT_STATE_DEAD = "dead"


# Checkpoint POSITION formats. These prefixes are load-bearing: integer
# checkpoint keys are shared between the index builders and the (legacy,
# pre-namespacing) stream, and the position prefix is how readers prove
# which writer owns a key — builder.py counts only BUILDER_POS positions
# as completed build partitions, streaming/incremental.py treats only
# STREAM_POS positions as legacy stream checkpoints. Change them here
# and nowhere else.
BUILDER_POS_PREFIX = "docs="
STREAM_POS_PREFIX = "batch="


class CheckpointConflict(Exception):
    """Delta's from-position does not match the stored position."""


class Manifest:
    def __init__(self, index_dir: str, data: dict[str, Any]):
        self.index_dir = index_dir
        self.data = data

    # -- construction ------------------------------------------------------

    @classmethod
    def path(cls, index_dir: str) -> str:
        return os.path.join(index_dir, "manifest.json")

    @classmethod
    def create(cls, index_dir: str, index_uid: str, config: dict[str, Any]
               ) -> "Manifest":
        os.makedirs(os.path.join(index_dir, "segments"), exist_ok=True)
        data = {
            "index_uid": index_uid,
            "version": 0,
            "config": config,
            "segments": {},     # segment_id -> metadata dict
            "checkpoints": {},  # partition_id (str) -> position (str)
        }
        m = cls(index_dir, data)
        m._write()
        return m

    @classmethod
    def load(cls, index_dir: str) -> "Manifest":
        with open(cls.path(index_dir)) as f:
            return cls(index_dir, json.load(f))

    @classmethod
    def load_or_create(cls, index_dir: str, index_uid: str,
                       config: dict[str, Any]) -> "Manifest":
        if os.path.exists(cls.path(index_dir)):
            return cls.load(index_dir)
        return cls.create(index_dir, index_uid, config)

    def _write(self) -> None:
        """Atomic write: tmp file + rename (single-writer CAS analog)."""
        fd, tmp = tempfile.mkstemp(dir=self.index_dir, prefix=".manifest-")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(self.data, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path(self.index_dir))
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    # -- queries -----------------------------------------------------------

    def segments(self, state: str = SEGMENT_STATE_PUBLISHED) -> list[dict]:
        return [s for s in self.data["segments"].values()
                if s["state"] == state]

    def checkpoint(self, partition_id: int | str) -> str | None:
        return self.data["checkpoints"].get(str(partition_id))

    def published_partitions(self) -> set[int]:
        # string-keyed checkpoints (e.g. bulk payload keys) are not
        # build partitions. Must be int()-based, not isdigit(): '--7'
        # and unicode digits like '²' pass isdigit() after lstrip but
        # raise in int(), bricking every resume on one odd key
        out = set()
        for p in self.data["checkpoints"]:
            try:
                out.add(int(str(p)))
            except ValueError:
                continue
        return out

    # -- transactions ------------------------------------------------------

    @contextmanager
    def _locked_fresh(self):
        """Exclusive manifest lock + fresh on-disk re-read: EVERY mutating
        transaction (publish, retention, vacuum) goes through this so a
        janitor holding a stale in-memory view cannot clobber a concurrent
        publish's segment rows. flock is per-open-fd, so nested use in one
        process would self-deadlock — callers must not stack transactions
        (apply_retention releases before delegating to vacuum)."""
        lock_path = os.path.join(self.index_dir, ".manifest.lock")
        with open(lock_path, "w") as lf:
            try:
                import fcntl
                fcntl.flock(lf, fcntl.LOCK_EX)
            except (ImportError, OSError):
                pass  # no flock (non-posix FS): single-writer assumption
            path = self.path(self.index_dir)
            if os.path.exists(path):
                with open(path) as f:
                    fresh = json.load(f)
                if fresh["version"] >= self.data["version"]:
                    self.data = fresh
            yield

    def claim_router(self, router: str) -> None:
        """Record (or validate) the partition-routing scheme that
        produced this index's integer per-partition checkpoints.

        Checkpoint resume is only sound under ONE routing function:
        build_index routes with Spark xxhash64, build_index_pandas with
        a driver-local sha256 hash. Resuming a partially built index
        under the OTHER scheme (or another partition count) would
        silently duplicate documents (re-routed into a not-yet-published
        partition) and drop documents (re-routed into an already
        published one) — refuse instead. Stream-batch and bulk
        sources use string checkpoint keys and are unaffected. Builders
        call this only when there is real work to resume — a COMPLETE
        index (legacy pre-router manifests included) reruns as a
        no-op."""
        with self._locked_fresh():
            cur = self.data.get("router")
            if cur == router:
                return
            if cur is None and not self.published_partitions():
                self.data["router"] = router
                self.data["version"] += 1
                self._write()
                return
            if cur is None:
                raise ValueError(
                    "index has partition checkpoints but no recorded "
                    f"router; cannot prove they were produced by "
                    f"{router!r} — rebuild fresh instead of resuming")
            raise ValueError(
                f"index was partition-routed with {cur!r}; resuming "
                f"with {router!r} would duplicate and drop documents")

    def update_doc_mapping(self, schema_rev: str,
                           tokenizer: str | None = None,
                           record: str | None = None,
                           fieldnorms: bool | None = None) -> None:
        """Doc-mapping update (reference: doc_mapping_uid bump,
        split_metadata.rs:132-134; update_tests/doc_mapping_tests.rs):
        record a NEW schema_rev with changed analysis settings in the
        index config. Existing segments keep the rev they were built
        under and are NEVER rewritten; merges stay rev-gated
        (merge.py _mapping_group) so generations compact independently,
        and search compiles queries PER SEGMENT REV (SegmentReader
        resolves its analyzer from its own meta.json). The new rev must
        be distinct from every rev already on disk — reusing one would
        silently mix analyzers inside a merge group."""
        with self._locked_fresh():
            cfg = self.data["config"]
            if schema_rev == cfg.get("schema_rev"):
                raise ValueError(
                    f"schema_rev {schema_rev!r} is already current — a "
                    "doc-mapping update must bump the rev")
            used = {s.get("schema_rev")
                    for s in self.data["segments"].values()}
            if schema_rev in used:
                raise ValueError(
                    f"schema_rev {schema_rev!r} was already used by "
                    "published segments; pick a fresh rev")
            cfg["schema_rev"] = schema_rev
            if tokenizer is not None:
                cfg["tokenizer"] = tokenizer
            if record is not None:
                cfg["record"] = record
            if fieldnorms is not None:
                cfg["fieldnorms"] = bool(fieldnorms)
            self.data["version"] += 1
            self._write()

    def publish(self, staged_segments: list[dict],
                replaced_segment_ids: list[str] | None = None,
                checkpoint_delta: dict[int | str, tuple[str | None, str]] | None = None,
                ) -> None:
        """Atomic publish: add segments + retire replaced + advance checkpoint.

        checkpoint_delta maps partition -> (from_position, to_position); the
        from_position must equal the stored position (None == no record).

        Concurrency: the whole transaction runs under an exclusive file
        lock and validates against a FRESH on-disk read, then applies the
        staged changes to that fresh state — so two concurrent publishers
        compose instead of last-writer-wins clobbering each other's
        segment rows (the reference metastore's conditional publish;
        file_backed_index/mod.rs mutate-with-version). The in-memory view
        (self.data) is refreshed as a side effect."""
        replaced_segment_ids = replaced_segment_ids or []
        checkpoint_delta = checkpoint_delta or {}
        with self._locked_fresh():
            # validate checkpoint compatibility first (all-or-nothing)
            for pid, (frm, to) in checkpoint_delta.items():
                cur = self.data["checkpoints"].get(str(pid))
                if cur != frm:
                    raise CheckpointConflict(
                        f"partition {pid}: stored position {cur!r} != delta "
                        f"from-position {frm!r}")
            for sid in replaced_segment_ids:
                if sid not in self.data["segments"]:
                    raise KeyError(f"unknown segment {sid}")
            for seg in staged_segments:
                cur = self.data["segments"].get(seg["segment_id"])
                if cur is not None \
                        and cur["state"] == SEGMENT_STATE_DEAD:
                    # a stale retry (e.g. a merge planned from a
                    # pre-compaction snapshot) re-publishing a since-
                    # RETIRED segment would resurrect it next to its
                    # replacement and serve every doc twice
                    raise CheckpointConflict(
                        f"segment {seg['segment_id']} was retired; "
                        "re-publishing it would resurrect replaced "
                        "documents — the publisher is working from a "
                        "stale plan")
            for seg in staged_segments:
                seg = dict(seg)
                seg["state"] = SEGMENT_STATE_PUBLISHED
                # split create_timestamp analog (split_metadata.rs:75):
                # manifest-row-only — segment FILES stay content-
                # addressed and byte-identical across replays/merges
                seg.setdefault("published_at", _time.time())
                self.data["segments"][seg["segment_id"]] = seg
            for sid in replaced_segment_ids:
                self.data["segments"][sid]["state"] = SEGMENT_STATE_DEAD
            for pid, (_frm, to) in checkpoint_delta.items():
                self.data["checkpoints"][str(pid)] = to
            self.data["version"] += 1
            self._write()

    def apply_retention(self, column: str, cutoff: float,
                        vacuum: bool = True) -> list[str]:
        """Time-based retention (the janitor's
        retention_policy_executor.rs): retire every published segment
        whose per-segment max of `column` (col_stats, the split
        time_range analog) is strictly below `cutoff`. Segment-granular
        like the reference — a segment straddling the cutoff stays until
        it ages out entirely. Returns the retired segment ids."""
        with self._locked_fresh():
            expired = []
            for sid, seg in self.data["segments"].items():
                if seg["state"] != SEGMENT_STATE_PUBLISHED:
                    continue
                stats = seg.get("col_stats", {}).get(column)
                if stats is not None and float(stats[1]) < float(cutoff):
                    expired.append(sid)
            for sid in expired:
                self.data["segments"][sid]["state"] = SEGMENT_STATE_DEAD
            if expired:
                self.data["version"] += 1
                self._write()
        # own transaction: nested flock on the same file self-deadlocks
        if expired and vacuum:
            self.vacuum()
        return expired

    def mark_for_deletion(self, segment_ids: list[str]) -> list[str]:
        """MarkSplitsForDeletion analog (split_resource.rs
        mark_splits_for_deletion): retire published segments without
        touching their files — vacuum (the janitor GC) removes them
        later, the reference's two-stage delete. Unknown ids raise
        before anything mutates (all-or-nothing, like publish);
        already-dead ids are a no-op (the operation is idempotent in
        the reference metastore). Returns the ids actually retired."""
        with self._locked_fresh():
            unknown = [sid for sid in segment_ids
                       if sid not in self.data["segments"]]
            if unknown:
                raise KeyError(f"unknown segments: {unknown}")
            changed = []
            for sid in segment_ids:
                seg = self.data["segments"][sid]
                if seg["state"] == SEGMENT_STATE_PUBLISHED:
                    seg["state"] = SEGMENT_STATE_DEAD
                    changed.append(sid)
            if changed:
                self.data["version"] += 1
                self._write()
            return changed

    def reset_checkpoints(self, source_id: str = "_all") -> list[str]:
        """ResetSourceCheckpoint analog (source_resource.rs): drop the
        checkpoint positions recorded by one source so its data can be
        re-ingested. Keys are namespaced by source prefix
        (`stream-*`, `iceberg:*`, `bulk-*`); bare integer
        keys belong to the batch builder (pseudo id `_builder`), and
        resetting those also releases the router claim — partition
        checkpoints are only meaningful under the routing scheme that
        produced them (claim_router's invariant). `_all` resets every
        source. Returns the removed keys."""
        with self._locked_fresh():
            removed = []
            for key in list(self.data["checkpoints"]):
                if source_id == "_all":
                    hit = True
                elif source_id == "_builder":
                    # integer keys are shared with the LEGACY stream;
                    # the position prefix proves ownership (see the
                    # BUILDER_POS/STREAM_POS contract above)
                    try:
                        int(key)
                    except ValueError:
                        hit = False
                    else:
                        hit = str(self.data["checkpoints"][key]
                                  ).startswith(BUILDER_POS_PREFIX)
                elif source_id == "stream":
                    # the stream owns its namespaced keys AND legacy
                    # bare-int keys whose position carries the stream
                    # prefix — otherwise those are unresettable short
                    # of the nuclear '_all' and keep rejecting every
                    # future batch-0 as a collision
                    if key.startswith("stream-"):
                        hit = True
                    else:
                        try:
                            int(key)
                        except ValueError:
                            hit = False
                        else:
                            hit = str(self.data["checkpoints"][key]
                                      ).startswith(STREAM_POS_PREFIX)
                else:
                    hit = (key == source_id
                           or key.startswith(source_id + "-")
                           or key.startswith(source_id + ":"))
                if hit:
                    del self.data["checkpoints"][key]
                    removed.append(key)
            router_released = False
            if source_id in ("_all", "_builder") \
                    and "router" in self.data:
                del self.data["router"]
                router_released = True
            if removed or router_released:
                self.data["version"] += 1
                self._write()
            return removed

    def add_delete_task(self, task: dict) -> dict:
        """Record a delete task (the reference metastore's
        create_delete_task, quickwit-metastore delete tasks table;
        DeleteTask proto: opstamp + create_timestamp + delete_query).
        Tasks execute later via the janitor pass
        (mgmt_api.execute_delete_tasks), mirroring the reference's
        queue-then-clean-up model (delete_task_api/handler.rs:139-141).
        Assigns the next opstamp; returns the stored row."""
        with self._locked_fresh():
            tasks = self.data.setdefault("delete_tasks", [])
            row = dict(task)
            row["opstamp"] = 1 + max(
                (int(t["opstamp"]) for t in tasks), default=0)
            row.setdefault("create_timestamp", int(_time.time()))
            row.setdefault("status", "pending")
            tasks.append(row)
            self.data["version"] += 1
            self._write()
            return dict(row)

    def delete_tasks(self) -> list[dict]:
        return [dict(t) for t in self.data.get("delete_tasks", [])]

    def complete_delete_task(self, opstamp: int, result: dict) -> None:
        """Mark a task executed, recording the apply_delete_query
        result (docs_deleted etc.) for observability."""
        with self._locked_fresh():
            for t in self.data.get("delete_tasks", []):
                if int(t["opstamp"]) == int(opstamp):
                    t["status"] = "done"
                    t["executed_at"] = int(_time.time())
                    t["result"] = dict(result)
                    self.data["version"] += 1
                    self._write()
                    return
            raise KeyError(f"unknown delete task opstamp {opstamp}")

    def vacuum(self) -> list[str]:
        """Drop dead segment rows and delete their directories (GC/janitor
        analog, quickwit-janitor garbage_collector.rs)."""
        import shutil
        with self._locked_fresh():
            dead = [sid for sid, s in self.data["segments"].items()
                    if s["state"] == SEGMENT_STATE_DEAD]
            for sid in dead:
                seg_dir = os.path.join(self.index_dir, "segments", sid)
                if os.path.isdir(seg_dir):
                    shutil.rmtree(seg_dir)
                del self.data["segments"][sid]
            if dead:
                self.data["version"] += 1
                self._write()
        return dead
