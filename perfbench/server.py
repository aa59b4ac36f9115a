"""Run the program's SearchHttpServer in a process of its own.

    python3 -m perfbench.server --root-dir DIR [--trace-out FILE]

Serves every index under DIR in writable mode, prints its URL on one line,
then reads commands from stdin, answering each with one JSON line:

    trace   install the span wrappers (server, read and write path)
    stats   counters: leaf cache, WAND blocks
    cpu     the CPU time of each request since the last `cpu` command
            ([path, thread CPU ms] pairs) and the process's CPU seconds

Closing stdin stops the server; with --trace-out its spans are written to
FILE first.
"""

import argparse
import functools
import json
import sys
import time
from urllib.parse import urlsplit

# [path, CPU ms of the thread that served it], appended per request
_REQUEST_CPU: list = []


def _cpu_timed(dispatch):
    @functools.wraps(dispatch)
    def timed(self, h, method):
        c0 = time.thread_time()
        try:
            return dispatch(self, h, method)
        finally:
            _REQUEST_CPU.append([urlsplit(h.path).path,
                                 (time.thread_time() - c0) * 1e3])
    return timed


def _stats() -> dict:
    from quickwit_spark.search import wand
    from quickwit_spark.search.engine import leaf_cache_stats
    return {"leaf": leaf_cache_stats(), "wand": dict(wand.STATS)}


def _cpu() -> dict:
    requests = list(_REQUEST_CPU)
    del _REQUEST_CPU[:len(requests)]
    return {"requests": requests, "process_cpu_s": time.process_time()}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--root-dir", required=True)
    p.add_argument("--trace-out")
    args = p.parse_args()

    from quickwit_spark.search.http_api import SearchHttpServer

    from perfbench import tracing

    SearchHttpServer._dispatch = _cpu_timed(SearchHttpServer._dispatch)
    srv = SearchHttpServer(args.root_dir, writable=True).start()
    tracer = tracing.Tracer(tracing.SERVER_TARGETS + tracing.READ_TARGETS
                            + tracing.WRITE_TARGETS)
    print(srv.url, flush=True)
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "trace":
                tracer.start()
            print(json.dumps(_cpu() if cmd == "cpu" else _stats()),
                  flush=True)
    finally:
        srv.stop()
        tracer.stop()
        if args.trace_out:
            tracer.recorder.dump(args.trace_out)


if __name__ == "__main__":
    main()
