"""Span recording for the traced run, installed from outside the program.

Each wrapped callable records one span per call: name, start, end, its own
id, the id of the span that was open on the same thread when it started
(its parent), the id of that thread's outermost open span (the request id)
and an optional size figure. Spans stay in memory; the owning process
writes them out once (driver and server at the end of the run, Spark
Python workers at the end of each outermost span, because the daemon kills
idle workers without running exit hooks).

Wrappers are installed by rebinding each public function at the module the
caller looks it up in, so the program's own files are untouched.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time

from perfbench.common import dir_bytes


class Recorder:
    """Spans of one process, kept in memory until `dump`."""

    def __init__(self, flush_dir: str | None = None, enabled=None):
        # flush_dir set: append this process's spans to a file there each
        # time a thread's outermost span closes (Spark Python workers).
        # enabled(): checked when an outermost span would open; False
        # runs the call untraced
        self.flush_dir = flush_dir
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._installed: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, name: str, size=None):
        """Return `fn` wrapped to record a span per call. `size(args,
        kwargs, result)` gives a number stored with the span."""
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = rec._stack()
            if not stack and rec.enabled is not None and not rec.enabled():
                return fn(*args, **kwargs)
            sid = next(rec._ids)
            parent = stack[-1] if stack else 0
            req = stack[0] if stack else sid
            stack.append(sid)
            t0 = time.perf_counter()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                t1 = time.perf_counter()
                stack.pop()
                nbytes = size(args, kwargs, result) if size else None
                with rec._lock:
                    rec.spans.append((name, t0, t1, sid, parent, req,
                                      os.getpid(), nbytes))
                if not stack and rec.flush_dir:
                    rec.flush()

        return traced

    def install(self, targets) -> None:
        """targets: iterable of (module, attribute path, span name, size).
        An attribute path "Class.method" wraps the method on the class."""
        for mod_name, attr, name, size in targets:
            owner = importlib.import_module(mod_name)
            *outer, leaf = attr.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = getattr(owner, leaf)
            setattr(owner, leaf, self.wrap(orig, name, size))
            self._installed.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._installed):
            setattr(owner, leaf, orig)
        self._installed.clear()

    def flush(self) -> None:
        with self._lock:
            spans, self.spans = self.spans, []
        if spans:
            path = os.path.join(self.flush_dir, f"spans-{os.getpid()}.jsonl")
            with open(path, "a") as f:
                for s in spans:
                    f.write(json.dumps(s) + "\n")

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")


def load_spans(paths) -> list[tuple]:
    spans = []
    for p in paths:
        if os.path.exists(p):
            with open(p) as f:
                spans.extend(tuple(json.loads(line)) for line in f if line.strip())
    return spans


def _text_bytes(args, kwargs, _result) -> int:
    texts = args[0] if args else kwargs["texts"]
    return sum(len(t) for t in texts if isinstance(t, str))


def _seg_dir_bytes(args, kwargs, _result) -> int:
    return dir_bytes(args[0] if args else kwargs["seg_dir"])


def _merged_bytes(args, kwargs, result) -> int:
    index_dir = args[0] if args else kwargs["index_dir"]
    return dir_bytes(os.path.join(index_dir, "segments",
                                  result["segment_id"]))


def _pruned(args, _kwargs, result) -> list[int]:
    """[segments returned, segments published]"""
    return [len(result), args[0].n]


class Tracer:
    """Installs a target list into this process for one traced window."""

    def __init__(self, targets):
        self.targets = targets
        self.recorder = Recorder()

    def start(self) -> None:
        self.recorder.install(self.targets)

    def stop(self) -> None:
        self.recorder.uninstall()

    @property
    def spans(self) -> list[tuple]:
        return self.recorder.spans


# -- what gets wrapped where -------------------------------------------------
# (module the caller resolves the name in, attribute, span name, size)

_BUILDER = "quickwit_spark.index.builder"
_MERGE = "quickwit_spark.index.merge"
_ENGINE = "quickwit_spark.search.engine"
_WAND = "quickwit_spark.search.wand"

# write path, inside Spark Python workers (or the server process)
WRITE_TARGETS = [
    (_BUILDER, "build_partition", "builder.build_partition", None),
    (_BUILDER, "build_segment", "builder.build_segment", None),
    (_BUILDER, "tokenize_batch_ids", "tokenizers.tokenize_batch_ids",
     _text_bytes),
    (_BUILDER, "_varint_encode_with_sizes", "codecs.encode", None),
    (_BUILDER, "encode_position_blob", "codecs.encode", None),
    (_BUILDER, "write_segment", "builder.write_segment", _seg_dir_bytes),
    (_MERGE, "merge_segments", "merge.merge_segments", _merged_bytes),
    (_MERGE, "_varint_encode_with_sizes", "codecs.encode", None),
    (_MERGE, "_encode_position_blob", "codecs.encode", None),
    (_MERGE, "write_segment", "merge.write_segment", _seg_dir_bytes),
]

# write path, on the Spark driver
DRIVER_WRITE_TARGETS = [
    (_BUILDER, "build_index", "spark.build_index", None),
    (_MERGE, "run_merges", "spark.run_merges", None),
    ("quickwit_spark.index.manifest", "Manifest.publish",
     "manifest.publish", None),
]

# read path (in-process searcher and server process)
READ_TARGETS = [
    (_ENGINE, "IndexSearcher.search", "engine.search", None),
    ("quickwit_spark.search.parser", "parse_query", "parser.parse_query",
     None),
    ("quickwit_spark.search.es_dsl", "parse_query", "parser.parse_query",
     None),
    (_ENGINE, "PruneIndex.prune", "engine.prune", _pruned),
    (_ENGINE, "SegmentReader.__init__", "engine.reader_open", None),
    (_ENGINE, "SegmentReader._term_row", "engine.term_lookup", None),
    (_ENGINE, "SegmentReader.lookup_terms", "engine.term_lookup", None),
    (_ENGINE, "segment_top_k", "engine.leaf", None),
    (_ENGINE, "decode_postings", "codecs.decode", None),
    (_WAND, "decode_postings", "codecs.decode", None),
    (_WAND, "decode_blocks_batch", "codecs.decode", None),
    (_WAND, "or_topk", "wand.score", None),
    (_WAND, "and_topk", "wand.score", None),
    (_WAND, "single_term_topk", "wand.score", None),
]

# HTTP server process only
SERVER_TARGETS = [
    ("quickwit_spark.search.http_api", "SearchHttpServer._dispatch",
     "http.request", None),
    ("quickwit_spark.search.rest", "native_search", "rest.native_search",
     None),
    ("quickwit_spark.search.es_dsl", "es_search", "es_dsl.es_search", None),
    ("quickwit_spark.search.mgmt_api", "ingest_ndjson",
     "mgmt_api.ingest_ndjson", None),
    ("quickwit_spark.index.manifest", "Manifest.publish",
     "manifest.publish", None),
]
