"""http_hot_mixed: hot searches beside small ingests, over HTTP.

The server runs in its own process (`perfbench.server`, a launcher of the
program's SearchHttpServer in writable mode). Set-up creates the index
through `POST /api/v1/indexes` and fills it through `/api/v1/{index}/ingest`
in N_PAYLOADS payloads, one segment each. min(4, nproc) connections then
run closed loops over one operation sequence fixed by the seed: 95%
searches drawn Zipf-style from a hot set of HOT queries, split between the
native and the Elasticsearch-compatible endpoints, and 5% small NDJSON
ingests whose documents hold only a per-run token, so they never change a
hot query's answer."""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import random
import subprocess
import sys
import threading
import time
from urllib.parse import quote, urlsplit

from . import common as C

N_DOCS = 20_000
N_PAYLOADS = 10
HOT = 32
INGEST_EVERY = 20  # 5% of operations are ingests
INGEST_DOCS = 20
MAX_OPS = 100_000
INDEX = "bench"

INDEX_CONFIG = {
    "version": "0.7",
    "index_id": INDEX,
    "doc_mapping": {
        "doc_id_fields": ["repo", "path", "commit"],
        "field_mappings": [
            {"name": "repo", "type": "text", "tokenizer": "raw"},
            {"name": "path", "type": "text", "tokenizer": "raw"},
            {"name": "commit", "type": "text", "tokenizer": "raw"},
            {"name": "lang", "type": "text", "tokenizer": "raw"},
            {"name": "content", "type": "text",
             "tokenizer": "source_code_default"},
            {"name": "sha256", "type": "text", "tokenizer": "raw"},
        ],
        "tag_fields": ["lang"],
    },
    "search_settings": {"default_search_fields": ["content"]},
}


class Server:
    """The server process: started, spoken to over stdin, stopped."""

    def __init__(self, root: str, trace_out: str | None = None):
        cmd = [sys.executable, "-m", "perfbench.server", "--root-dir", root]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (C.ROOT, env.get("PYTHONPATH")) if p)
        self.proc = subprocess.Popen(cmd, cwd=C.ROOT, env=env, text=True,
                                     stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE)
        self.url = self.proc.stdout.readline().strip()
        if not self.url.startswith("http://"):
            self.stop()
            raise RuntimeError("server did not start")
        parts = urlsplit(self.url)
        self.host, self.port = parts.hostname, parts.port

    def command(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def stop(self) -> None:
        if self.proc.stdin and not self.proc.stdin.closed:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()

    def request(self, method: str, path: str, body: bytes | None = None,
                ctype: str = "application/json") -> tuple[int, bytes]:
        conn = http.client.HTTPConnection(self.host, self.port, timeout=120)
        try:
            headers = {"Content-Type": ctype} if body is not None else {}
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()


def ndjson(rows) -> bytes:
    return "".join(json.dumps(r) + "\n" for r in rows).encode()


def search_path(q: str) -> str:
    return f"/api/v1/{INDEX}/search?query={quote(q)}&max_hits=10"


def es_body(q: str) -> bytes:
    return json.dumps({"query": {"query_string": {"query": q}},
                       "size": 10}).encode()


def setup(work: str, pdf, hot: list[str], trace_out: str | None = None):
    """Start a server, create and fill the index, warm every hot query on
    both endpoints and compute their exhaustive in-process answers."""
    from quickwit_spark.search.engine import IndexSearcher
    root = os.path.join(work, "root")
    os.makedirs(root)
    srv = Server(root, trace_out)
    try:
        st, body = srv.request("POST", "/api/v1/indexes",
                               json.dumps(INDEX_CONFIG).encode())
        if st != 200:
            raise RuntimeError(f"create index: {st} {body[:200]!r}")
        rows = pdf.to_dict("records")
        step = -(-len(rows) // N_PAYLOADS)
        for lo in range(0, len(rows), step):
            st, body = srv.request("POST", f"/api/v1/{INDEX}/ingest",
                                   ndjson(rows[lo:lo + step]),
                                   "application/x-ndjson")
            if st != 200:
                raise RuntimeError(f"ingest: {st} {body[:200]!r}")
        for q in hot:
            srv.request("GET", search_path(q))
            srv.request("POST", f"/api/v1/_elastic/{INDEX}/_search",
                        es_body(q))
        searcher = IndexSearcher(os.path.join(root, INDEX))
        expected = {}
        for q in hot:
            res = searcher.search(q, k=10, count_all=True)
            expected[q] = ([(C.doc_key(h.doc), float(h.score))
                            for h in res.hits], res.num_hits)
    except BaseException:
        srv.stop()
        raise
    return srv, root, expected


def hot_set() -> list[str]:
    """The hot queries, in Zipf rank order. They are the same for every
    seed: which queries are hot sets most of the latency, and the seed
    must not change the work."""
    qgen = C.QueryGen(C.VOCAB_SEED, shapes=(
        "term", "and2", "or_exact", "lang", "not", "phrase"))
    return [qgen.distinct()[1] for _ in range(HOT)]


def op_sequence(seed: int) -> list[tuple]:
    """The whole operation sequence, fixed by the seed: ("ingest", n) or
    ("native" | "es", hot query index). Each block of INGEST_EVERY ops
    holds one ingest at a seeded place, so every stretch of the sequence
    has the same write share."""
    rng = random.Random(seed * 7919 + 17)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(HOT)]
    out = []
    for i in range(MAX_OPS):
        if i % INGEST_EVERY == 0:
            ingest_at = i + rng.randrange(INGEST_EVERY)
        if i == ingest_at:
            out.append(("ingest", i))
        else:
            out.append((rng.choice(("native", "es")),
                        rng.choices(range(HOT), weights)[0]))
    return out


def ingest_rows(token: str, i: int) -> list[dict]:
    rows = []
    for j in range(INGEST_DOCS):
        content = f"{token} {token}{'q' * (j % 5)}"
        rows.append({"repo": "ingest/run", "path": f"op{i}/doc{j}",
                     "commit": token, "lang": "md", "content": content,
                     "sha256": hashlib.sha256(content.encode()).hexdigest()})
    return rows


class Load:
    """Closed-loop connections sharing one operation sequence."""

    def __init__(self, srv: Server, ops, hot, token: str):
        self.srv, self.ops, self.hot, self.token = srv, ops, hot, token
        self.next = 0
        self.lock = threading.Lock()
        self.records: list[dict] = []

    def _take(self):
        with self.lock:
            i = self.next
            self.next += 1
        return i, self.ops[i]

    def _one(self, i, op) -> dict:
        kind, arg = op
        t0 = time.perf_counter()
        if kind == "ingest":
            st, body = self.srv.request(
                "POST", f"/api/v1/{INDEX}/ingest",
                ndjson(ingest_rows(self.token, i)), "application/x-ndjson")
        elif kind == "native":
            st, body = self.srv.request("GET", search_path(self.hot[arg]))
        else:
            st, body = self.srv.request(
                "POST", f"/api/v1/_elastic/{INDEX}/_search",
                es_body(self.hot[arg]))
        return {"kind": kind, "arg": arg,
                "ms": (time.perf_counter() - t0) * 1e3,
                "status": st, "body": body}

    def _worker(self, t_end: float, out: list) -> None:
        while time.perf_counter() < t_end:
            i, op = self._take()
            try:
                out.append(self._one(i, op))
            except OSError as e:
                out.append({"kind": op[0], "arg": op[1], "ms": float("inf"),
                            "status": 0,
                            "body": str(e).encode()})

    def run(self, seconds: float) -> tuple[list[dict], float]:
        """Run the connections for `seconds`; returns their records and
        the elapsed wall."""
        t_start = time.perf_counter()
        t_end = t_start + seconds
        outs = [[] for _ in range(C.workers())]
        threads = [threading.Thread(target=self._worker, args=(t_end, o))
                   for o in outs]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        recs = [r for o in outs for r in o]
        self.records += recs
        return recs, time.perf_counter() - t_start


def check(rec: dict, hot, expected, sha) -> bool:
    """Whether one operation's answer is right."""
    if rec["status"] != 200:
        return False
    body = json.loads(rec["body"])
    if rec["kind"] == "ingest":
        return body.get("num_docs_for_processing") == INGEST_DOCS
    want, want_n = expected[hot[rec["arg"]]]
    if rec["kind"] == "native":
        docs = body["hits"]
        got = [C.doc_key(d) for d in docs]
        ok = (got == [k for k, _ in want] and body["num_hits"] == want_n)
    else:
        hits = body["hits"]["hits"]
        docs = [h["_source"] for h in hits]
        got = [(C.doc_key(d), float(h["_score"]))
               for d, h in zip(docs, hits)]
        ok = got == want and body["hits"]["total"]["value"] == want_n
    return ok and all(sha.get(C.doc_key(d)) == d.get("sha256")
                      for d in docs)


def metrics_totals(srv: Server) -> tuple[float, int]:
    """(seconds, requests) summed over the server's request histogram."""
    _st, body = srv.request("GET", "/metrics")
    secs, n = 0.0, 0
    for line in body.decode().splitlines():
        if line.startswith("quickwit_request_duration_secs_sum"):
            secs += float(line.rsplit(" ", 1)[1])
        elif line.startswith("quickwit_request_duration_secs_count"):
            n += int(line.rsplit(" ", 1)[1])
    return secs, n


def search_cpu_ms(cpu: dict) -> list[float]:
    """Server thread CPU ms of each search request in a `cpu` answer."""
    return [ms for path, ms in cpu["requests"] if path.endswith("search")]


def run(args) -> dict:
    from . import layers, tracing
    n_docs = args.docs or N_DOCS
    work = C.make_workdir()
    srv = None
    trace_out = os.path.join(work, "server-spans.jsonl") \
        if args.trace else None
    try:
        # the indexed corpus is the same for every seed, like the hot set:
        # the head queries' costs depend on it, and the seed must not
        # change the work
        pdf = C.corpus(n_docs, C.VOCAB_SEED)
        hot = hot_set()
        srv, root, expected = setup(work, pdf, hot, trace_out)
        sha = C.expected_sha(pdf)
        raw = int(pdf["content"].str.len().sum())
        token = "zqx" + "".join(random.Random(args.seed).choice(
            "bcdfghjkmnpvwz") for _ in range(8))

        load = Load(srv, op_sequence(args.seed), hot, token)
        cpu0 = srv.command("cpu")
        setup_s = C.process_age_s()
        recs, elapsed = load.run(args.seconds)
        cpu1 = srv.command("cpu")
        # the server's peak over its life: set-up's bulk ingests, then the
        # window's searches, small ingests and cold readers
        rss = C.peak_rss_mb(srv.proc.pid)
        out_layers = None
        if args.trace:
            s0 = srv.command("trace")
            m0 = metrics_totals(srv)
            t0 = time.perf_counter()
            trecs, _ = load.run(args.seconds)
            t1 = time.perf_counter()
            m1 = metrics_totals(srv)
            s1 = srv.command("stats")
            tcpu = srv.command("cpu")

        # end of run: every acknowledged ingested doc is searchable
        acked = sum(INGEST_DOCS for r in load.records
                    if r["kind"] == "ingest" and r["status"] == 200)
        st, body = srv.request("GET", search_path(token).replace(
            "max_hits=10", "max_hits=1"))
        count_ok = st == 200 and json.loads(body)["num_hits"] == acked
        # the corpus plus every acknowledged ingest, as published
        raw += sum(len(d["content"]) for r in load.records
                   if r["kind"] == "ingest" and r["status"] == 200
                   for d in ingest_rows(token, r["arg"]))
        index_bytes = C.live_segment_bytes(os.path.join(root, INDEX))
        srv.stop()
        srv = None

        if args.trace:
            searches = [r for r in trecs if r["kind"] != "ingest"]
            server_ms = 1e3 * (m1[0] - m0[0]) / max(m1[1] - m0[1], 1)
            spans = [s for s in tracing.load_spans([trace_out])
                     if t0 <= s[1] <= t1]
            vals = layers.compute(
                spans, searches=len(searches),
                wand0=s0["wand"], wand1=s1["wand"],
                leaf0=s0["leaf"], leaf1=s1["leaf"],
                roots=("http.request",), window=t1 - t0,
                http={"server_ms": server_ms,
                      "wait_ms": sum(r["ms"] for r in trecs)
                      / max(len(trecs), 1) - server_ms},
                overhead=(C.median(search_cpu_ms(tcpu))
                          / C.median(search_cpu_ms(cpu1)) - 1))
            out_layers = {k: (v, layers.UNITS[k]) for k, v in vals.items()}

        failed = sum(not check(r, hot, expected, sha) for r in load.records)
        failed += not count_ok
        attempted = len(load.records) + 1
        lat = [r["ms"] for r in recs if r["kind"] != "ingest"]
        ing = [r["ms"] for r in recs if r["kind"] == "ingest"]
        qps = len(lat) / elapsed
        t = C.tail(lat)
        # server-side CPU: per request, on the thread that served it, and
        # for the whole process over the window
        search_cpu = search_cpu_ms(cpu1)
        ingest_cpu = [ms for path, ms in cpu1["requests"]
                      if path.endswith("/ingest")]
        ops_per_cpu_s = len(recs) / (cpu1["process_cpu_s"]
                                     - cpu0["process_cpu_s"])
        tc = C.tail(search_cpu)
        # ~5% of searches cost 2-3x the median, so the p95 sits on the
        # edge of that group and swings between runs; the mean of the
        # slowest 10% holds all of it and moves less
        slow10 = C.slowest_mean(search_cpu, 0.10)
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (C.median(search_cpu), "ms"),
            "op_tail_ms": (slow10, "ms"),
            "write_ms": (C.median(ingest_cpu), "ms"),
            "work_per_s": (ops_per_cpu_s, "1/s"),
            "peak_rss_mb": (rss, "MB"),
            "index_bytes_per_input_byte": (index_bytes / raw, "ratio"),
        }
        report = {
            "setup_s": (setup_s, "s"),
            "http_search_p50_ms": (C.median(lat), "ms"),
            "http_search_tail_ms": (t["value"], "ms",
                                    {"percentile": t["percentile"],
                                     "n": t["n"]}),
            "http_qps": (qps, "1/s"),
            "http_ingest_p50_ms": (C.median(ing), "ms"),
            "server_search_cpu_p50_ms": (C.median(search_cpu), "ms"),
            "server_search_cpu_tail_ms": (tc["value"], "ms",
                                          {"percentile": tc["percentile"],
                                           "n": tc["n"]}),
            "server_search_cpu_slowest10_ms": (slow10, "ms"),
            "server_ingest_cpu_p50_ms": (C.median(ingest_cpu), "ms"),
            "ops_per_server_cpu_s": (ops_per_cpu_s, "1/s"),
            "peak_rss_mb": (rss, "MB"),
            "index_bytes_per_input_byte": (index_bytes / raw, "ratio"),
            "failed_ratio": (failed / attempted, "ratio"),
        }
        return {"metrics": metrics, "report": report, "layers": out_layers,
                "attempted": attempted, "failed": failed,
                "details": {"n_docs": n_docs, "payloads": N_PAYLOADS,
                            "hot": HOT, "connections": C.workers(),
                            "ops": len(recs), "ingests": len(ing),
                            "ingested_docs_acked": acked,
                            "end_count_ok": count_ok}}
    finally:
        if srv is not None:
            srv.stop()
        C.remove_workdir(work)
