"""Per-layer metrics from the spans and counters of a traced window.

Every workload reports every metric; a layer that does no work on a
workload reads 0. Seconds (`_s`) are per build+merge cycle on ingest_merge
and per traced window elsewhere; milliseconds (`_ms`) are per search
request, except the render and ingest ones, which are per call of that
function."""

from __future__ import annotations

from collections import defaultdict

# name -> unit, in report order
UNITS = {
    "tokenizers.busy_s": "s",
    "tokenizers.mb_per_s": "MB/s",
    "codecs.encode_busy_s": "s",
    "builder.segment_self_s": "s",
    "builder.write_s": "s",
    "builder.bytes_written": "bytes",
    "manifest.publish_s": "s",
    "manifest.publish_calls": "count",
    "spark.build_overhead_s": "s",
    "merge.merge_segments_s": "s",
    "merge.bytes_rewritten_per_input_byte": "ratio",
    "spark.merge_overhead_s": "s",
    "parser.parse_ms": "ms",
    "engine.prune_ms": "ms",
    "engine.segments_searched_ratio": "ratio",
    "engine.term_lookup_ms": "ms",
    "codecs.decode_ms": "ms",
    "codecs.decode_calls": "count",
    "wand.score_ms": "ms",
    "wand.block_skip_ratio": "ratio",
    "engine.leaf_self_ms": "ms",
    "engine.root_self_ms": "ms",
    "engine.leaf_cache_hit_ratio": "ratio",
    "engine.reader_opens": "count",
    "rest.native_render_ms": "ms",
    "es_dsl.es_render_ms": "ms",
    "mgmt_api.ingest_ms": "ms",
    "http.server_ms": "ms",
    "http.wait_ms": "ms",
    "trace.root_coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def union_seconds(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SpanSet:
    """Durations, self times and sizes of spans grouped by name."""

    def __init__(self, spans):
        self.spans = spans
        child = defaultdict(float)
        for name, t0, t1, sid, parent, _req, pid, _x in spans:
            if parent:
                child[(pid, parent)] += t1 - t0
        self.dur = defaultdict(float)
        self.self_ = defaultdict(float)
        self.count = defaultdict(int)
        self.extra = defaultdict(list)
        for name, t0, t1, sid, _parent, _req, pid, x in spans:
            self.dur[name] += t1 - t0
            self.self_[name] += (t1 - t0) - child[(pid, sid)]
            self.count[name] += 1
            if x is not None:
                self.extra[name].append(x)

    def size(self, name: str) -> float:
        return float(sum(self.extra[name]))

    def busy(self, name: str, pids, within) -> float:
        """Summed duration of `name` spans of processes not in `pids`
        (Spark workers) that start inside one of the `within` intervals."""
        tot = 0.0
        for n, t0, t1, _sid, _p, _r, pid, _x in self.spans:
            if n == name and pid not in pids and any(
                    a <= t0 <= b for a, b in within):
                tot += t1 - t0
        return tot

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(s[1], s[2]) for s in self.spans if s[0] == name]


def compute(spans, *, cycles: int = 1, searches: int = 0,
            cores: int = 1, driver_pids=(), raw_bytes: int = 0,
            wand0=None, wand1=None, leaf0=None, leaf1=None,
            roots=(), window: float = 0.0, http=None,
            overhead: float = 0.0) -> dict:
    s = SpanSet(spans)
    cyc = max(cycles, 1)
    per_req = 1e3 / searches if searches else 0.0

    builds = s.intervals("spark.build_index")
    merges = s.intervals("spark.run_merges")
    exec_build = s.busy("builder.build_partition", driver_pids, builds)
    exec_merge = s.busy("merge.merge_segments", driver_pids, merges)
    pruned = s.extra["engine.prune"]
    dec0 = (wand0 or {}).get("blocks_decoded", 0)
    tot0 = (wand0 or {}).get("blocks_total", 0)
    dec = (wand1 or {}).get("blocks_decoded", 0) - dec0
    tot = (wand1 or {}).get("blocks_total", 0) - tot0
    hits = (leaf1 or {}).get("hits", 0) - (leaf0 or {}).get("hits", 0)
    misses = ((leaf1 or {}).get("misses", 0)
              - (leaf0 or {}).get("misses", 0))
    root_cov = _div(union_seconds(
        [iv for name in roots for iv in s.intervals(name)]), window)
    http = http or {}

    out = {
        "tokenizers.busy_s": s.dur["tokenizers.tokenize_batch_ids"] / cyc,
        "tokenizers.mb_per_s": _div(
            s.size("tokenizers.tokenize_batch_ids") / 1e6,
            s.dur["tokenizers.tokenize_batch_ids"]),
        "codecs.encode_busy_s": s.dur["codecs.encode"] / cyc,
        "builder.segment_self_s": s.self_["builder.build_segment"] / cyc,
        "builder.write_s": s.self_["builder.write_segment"] / cyc,
        "builder.bytes_written": s.size("builder.write_segment") / cyc,
        "manifest.publish_s": s.dur["manifest.publish"] / cyc,
        "manifest.publish_calls": s.count["manifest.publish"] / cyc,
        "spark.build_overhead_s": (
            (sum(b - a for a, b in builds) - exec_build / cores) / cyc
            if builds else 0.0),
        "merge.merge_segments_s": s.dur["merge.merge_segments"] / cyc,
        "merge.bytes_rewritten_per_input_byte": _div(
            s.size("merge.merge_segments"), raw_bytes * cyc),
        "spark.merge_overhead_s": (
            (sum(b - a for a, b in merges) - exec_merge / cores) / cyc
            if merges else 0.0),
        "parser.parse_ms": s.dur["parser.parse_query"] * per_req,
        "engine.prune_ms": s.dur["engine.prune"] * per_req,
        "engine.segments_searched_ratio": _div(
            sum(p[0] for p in pruned), sum(p[1] for p in pruned)),
        "engine.term_lookup_ms": s.self_["engine.term_lookup"] * per_req,
        "codecs.decode_ms": s.dur["codecs.decode"] * per_req,
        "codecs.decode_calls": _div(s.count["codecs.decode"], searches),
        "wand.score_ms": s.self_["wand.score"] * per_req,
        "wand.block_skip_ratio": 1.0 - dec / tot if tot else 0.0,
        "engine.leaf_self_ms": s.self_["engine.leaf"] * per_req,
        "engine.root_self_ms": s.self_["engine.search"] * per_req,
        "engine.leaf_cache_hit_ratio": _div(hits, hits + misses),
        "engine.reader_opens": float(s.count["engine.reader_open"]),
        "rest.native_render_ms": 1e3 * _div(
            s.self_["rest.native_search"], s.count["rest.native_search"]),
        "es_dsl.es_render_ms": 1e3 * _div(
            s.self_["es_dsl.es_search"], s.count["es_dsl.es_search"]),
        "mgmt_api.ingest_ms": 1e3 * _div(
            s.dur["mgmt_api.ingest_ndjson"],
            s.count["mgmt_api.ingest_ndjson"]),
        "http.server_ms": http.get("server_ms", 0.0),
        "http.wait_ms": http.get("wait_ms", 0.0),
        "trace.root_coverage": root_cov,
        "trace.overhead_ratio": overhead,
    }
    return out
