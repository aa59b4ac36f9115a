"""Shared pieces: paths, provenance, CPU sentinel, statistics, inputs."""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import subprocess
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# every corpus shares one vocabulary and its rank law, so seeds change the
# documents and queries but not the term statistics that set their cost
VOCAB_SEED = 42
# a draw whose CPU sentinel moves by more than this share between the
# start and the end of the run is flagged as degraded
SENTINEL_BOUND = 0.25


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def workers() -> int:
    """Threads, connections or Spark cores the load comes from."""
    return min(4, nproc())


def make_workdir() -> str:
    os.makedirs(WORK_ROOT, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=WORK_ROOT)


def remove_workdir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, files in os.walk(path) for f in files)


def live_segment_bytes(index_dir: str) -> int:
    """Bytes of the segments the manifest lists as published."""
    from quickwit_spark.index.manifest import Manifest
    segs = Manifest.load(index_dir).segments()
    return sum(dir_bytes(os.path.join(index_dir, "segments",
                                      s["segment_id"])) for s in segs)


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def reset_peak_rss(pid: int) -> None:
    """Start `pid`'s VmHWM afresh from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _stat_fields(pid: int | str) -> list[str]:
    """Fields 3.. of /proc/PID/stat (after the command name)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started."""
    start = int(_stat_fields("self")[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def descendants(pid: int) -> list[int]:
    """Every process below `pid` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(entry)[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, ())
    return out


def python_descendants(pid: int) -> list[int]:
    """Python processes below `pid` in the process tree."""
    out = []
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().startswith("python"):
                    out.append(p)
        except OSError:
            pass
    return out


# -- provenance ---------------------------------------------------------------

def source_digest() -> str:
    """sha256 over the program's source files (the checkout under test
    need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "quickwit_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_sentinel_ms() -> float:
    """Median of 7 timings of a fixed single-threaded numpy kernel (sort of
    1M doubles, ~0.1 s in all). Moves when the host is contended, not when
    the program under test changes."""
    data = np.random.default_rng(12345).random(1_000_000)
    np.sort(data[:1000])
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        np.sort(data, kind="quicksort")
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


# -- statistics ---------------------------------------------------------------

def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    for pct in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        idx = int(n * pct / 100.0)
        if n - idx - 1 >= 10:
            return {"percentile": pct, "value": xs[idx], "n": n}
    return {"percentile": 100.0, "value": xs[-1] if xs else 0.0, "n": n}


def slowest_mean(values, share: float) -> float:
    """Mean of the slowest `share` of the values (at least one)."""
    xs = sorted(values, reverse=True)
    k = max(1, round(len(xs) * share))
    return sum(xs[:k]) / k


# -- inputs -------------------------------------------------------------------

def corpus(n_docs: int, seed: int):
    """The program's own corpus generator (non-skewed): document content
    from `seed`, vocabulary from VOCAB_SEED."""
    from quickwit_spark.index.corpus import build_vocab, generate_batch
    vocab = np.array(build_vocab(VOCAB_SEED), dtype=object)
    return generate_batch(np.arange(n_docs, dtype=np.uint64), seed, vocab)


def corpus_spark(spark, n_docs: int, seed: int, num_partitions: int):
    """`corpus` as a Spark DataFrame, generated on the executors (the
    program's `corpus_df` with the vocabulary seed held fixed)."""
    from quickwit_spark.index.corpus import (CORPUS_SCHEMA, build_vocab,
                                             generate_batch)
    vocab = np.array(build_vocab(VOCAB_SEED), dtype=object)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield generate_batch(ids, seed, vocab)

    return (spark.range(0, n_docs, 1, num_partitions)
            .mapInPandas(gen, schema=CORPUS_SCHEMA))


def doc_key(doc: dict) -> tuple:
    return (doc.get("repo"), doc.get("path"), doc.get("commit"))


def expected_sha(pdf) -> dict:
    return dict(zip(zip(pdf["repo"], pdf["path"], pdf["commit"]),
                    pdf["sha256"]))


class QueryGen:
    """Seeded stream of query strings over the corpus vocabulary.

    Terms are the analyzer's tokens of vocabulary words drawn with the
    generator's own log-uniform rank law, so head terms are common and
    the tail is rare, as in the indexed text."""

    SHAPES = ("term", "and2", "or_exact", "or_wand", "lang", "not",
              "phrase")
    POOL = 200

    def __init__(self, seed: int, shapes=SHAPES):
        from quickwit_spark.functions.tokenizers import tokenize_one
        from quickwit_spark.index.corpus import LANGS, build_vocab
        self.words = [list(dict.fromkeys(tokenize_one(w)))
                      for w in build_vocab(VOCAB_SEED)]
        self.langs = LANGS
        self.rng = random.Random(seed)
        self.shapes = shapes
        self.seen: set[str] = set()
        self.turn = 0
        self.uniform = False
        self.pools: dict[str, list[tuple[str, bool]]] = {}

    def term(self) -> str:
        v = len(self.words)
        while True:
            if self.uniform:
                rank = self.rng.randrange(v)
            else:
                rank = min(int(v ** self.rng.random()) - 1, v - 1)
            toks = self.words[max(rank, 0)]
            if toks:
                return self.rng.choice(toks)

    def _terms(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            t = self.term()
            if t not in out:
                out.append(t)
        return out

    def make(self, shape: str) -> tuple[str, bool]:
        """(query string, count_all) of one shape."""
        if shape == "term":
            return self.term(), True
        if shape == "and2":
            a, b = self._terms(2)
            return f"{a} AND {b}", True
        if shape == "or_exact":
            return " OR ".join(self._terms(self.rng.choice((2, 3)))), True
        if shape == "or_wand":
            return " OR ".join(self._terms(self.rng.choice((2, 3)))), False
        if shape == "lang":
            return f"{self.term()} AND lang:{self.rng.choice(self.langs)}", \
                True
        if shape == "not":
            a, b = self._terms(2)
            return f"{a} -{b}", True
        if shape == "phrase":
            return '"' + " ".join(self._terms(self.rng.choice((2, 3)))) \
                + '"', True
        raise ValueError(shape)

    def fresh(self, shape: str) -> tuple[str, bool]:
        """A query of `shape` never produced before. Later queries skew
        rarer: the most common terms are used up first."""
        for attempt in range(10_000):
            # once the head of the rank law is used up, draw ranks
            # uniformly (single terms run out first)
            self.uniform = attempt >= 100
            q, count_all = self.make(shape)
            if q not in self.seen:
                self.seen.add(q)
                return q, count_all
        raise RuntimeError(f"query space of shape {shape} exhausted")

    def distinct(self) -> tuple[str, str, bool]:
        """Next (shape, query, count_all) of a stream that never repeats.
        Shapes take turns, and each shape's queries come from shuffled
        chunks of POOL `fresh` ones, so a run that gets further in the
        stream still sees the same mix of shapes and term ranks."""
        shape = self.shapes[self.turn % len(self.shapes)]
        self.turn += 1
        pool = self.pools.setdefault(shape, [])
        if not pool:
            pool += [self.fresh(shape) for _ in range(self.POOL)]
            self.rng.shuffle(pool)
        return (shape, *pool.pop())
