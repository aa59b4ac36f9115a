"""sparkwit benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query_unique --seed 1 \
        --seconds 10 --trace 0

Workloads: ingest_merge, query_unique, http_hot_mixed (see README.md).
--trace 0 prints the end-to-end metrics; --trace 1 runs an untraced and
then a traced window and prints the per-layer metrics, with the tracing
overhead. The last line of stdout is the result object; lines before it
are a human-readable report. setup_s is the time from process start to
the first timed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

WORKLOADS = ("ingest_merge", "query_unique", "http_hot_mixed")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=0,
                   help="corpus size override (smoke tests)")
    return p.parse_args(argv)


def _fmt(name, v):
    value, unit = v[0], v[1]
    extra = f"  {v[2]}" if len(v) > 2 else ""
    return f"  {name:<40} {value:>14.4f} {unit}{extra}"


def main(argv=None) -> int:
    args = _parse(argv)
    # program knobs stay at their defaults, in every process started here
    for k in [k for k in os.environ if k.startswith("QW_")]:
        del os.environ[k]
    try:
        import quickwit_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from "
              f"{os.path.dirname(HERE)}: {e}", file=sys.stderr)
        return 2

    from perfbench import common as C
    prov = {"git_sha": C.git_sha(), "source_sha256": C.source_digest(),
            "nproc": C.nproc(), "workers": C.workers(),
            "loadavg_start": C.loadavg(),
            "sentinel_start_ms": C.cpu_sentinel_ms()}

    if args.workload == "query_unique":
        from perfbench import query_unique as W
    elif args.workload == "ingest_merge":
        from perfbench import ingest_merge as W
    else:
        from perfbench import http_hot_mixed as W
    res = W.run(args)

    prov["sentinel_end_ms"] = C.cpu_sentinel_ms()
    prov["loadavg_end"] = C.loadavg()
    drift = (max(prov["sentinel_start_ms"], prov["sentinel_end_ms"])
             / min(prov["sentinel_start_ms"], prov["sentinel_end_ms"]) - 1)
    prov["sentinel_drift"] = drift
    prov["degraded"] = bool(drift > C.SENTINEL_BOUND
                            or max(prov["loadavg_end"]) > prov["nproc"])

    print(f"perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print("provenance " + json.dumps(prov))
    if prov["degraded"]:
        print("WARNING: degraded draw (CPU sentinel drift "
              f"{drift:.0%} or load above nproc)")
    print("end-to-end (untraced):")
    for name, v in res["report"].items():
        print(_fmt(name, v))
    print("details " + json.dumps(res.get("details", {})))
    print("end_to_end " + json.dumps(
        {k: {"value": float(v[0]), "unit": v[1]}
         for k, v in res["metrics"].items()}))
    if args.trace:
        print("per-layer (traced window):")
        for name, v in res["layers"].items():
            print(_fmt(name, v))
        metrics = res["layers"]
    else:
        metrics = res["metrics"]
    result = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v[0]), "unit": v[1]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
