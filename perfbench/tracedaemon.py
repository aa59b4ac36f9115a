"""Spark Python daemon that records write-path spans in every worker.

Set as `spark.python.daemon.module` for the traced ingest_merge run. The
wrappers are installed in the daemon before it forks workers, so every
worker inherits them. Spans are recorded only while the file `ON` exists
in $PERFBENCH_TRACE_DIR, and each worker appends its spans to
`spans-<pid>.jsonl` there when an outermost span closes.
"""

import os

from perfbench import tracing


def main() -> None:
    trace_dir = os.environ["PERFBENCH_TRACE_DIR"]
    flag = os.path.join(trace_dir, "ON")
    rec = tracing.Recorder(flush_dir=trace_dir,
                           enabled=lambda: os.path.exists(flag))
    rec.install(tracing.WRITE_TARGETS)
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
