"""Tracing from outside the program: spans around the layers' public
functions, Spark job groups per span, and the attribution of Spark's event
log and Python UDF profiles to those spans.

Nothing under ``etlpy_spark/`` knows about this module. ``Tracer.install``
replaces the traced functions and methods with wrappers for the traced
run and ``Tracer.uninstall`` puts the originals back. A wrapper

- records a span (name, start, end, parent, run id) in memory;
- sets the Spark job group to the span while the call runs and restores
  the parent's group afterwards, so each Spark job (and every stage it
  runs, whichever lazy DataFrame it forces) is credited to the innermost
  span that was open when it was submitted;
- counts the call.

A layer's self time is its span's duration minus the time its child spans
cover.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import pstats
import time
from collections import defaultdict
from dataclasses import dataclass, field

# (module, class or "" for a module function, function); a span is named
# "<module without etlpy_spark.>.<function>". The dedup operators are lazy,
# so their spans are opened by the dedup workload around call and collect.
TRACED = [
    ("etlpy_spark.crawl.frontier", "SparkCrawler", "init_from_seeds"),
    ("etlpy_spark.crawl.frontier", "SparkCrawler", "run_round"),
    ("etlpy_spark.crawl.frontier", "SparkCrawler", "recrawl"),
    ("etlpy_spark.crawl.frontier", "SparkCrawler", "forget"),
    ("etlpy_spark.crawl.frontier", "", "global_rank"),
    ("etlpy_spark.sources.catalog", "SnapshotTable", "commit_external"),
    ("etlpy_spark.sources.catalog", "SnapshotTable", "append"),
    ("etlpy_spark.sources.catalog", "SnapshotTable", "append_with_deletes"),
    ("etlpy_spark.sources.catalog", "SnapshotTable", "overwrite"),
    ("etlpy_spark.sources.catalog", "SnapshotTable", "compact"),
    ("etlpy_spark.crawl.filterstate", "FilterState", "begin"),
    ("etlpy_spark.crawl.filterstate", "FilterState", "finish"),
    ("etlpy_spark.crawl.filterstate", "FilterState", "rebuild_from"),
]


def span_name(module: str, fn: str) -> str:
    return f"{module.removeprefix('etlpy_spark.')}.{fn}"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans of one benchmark run. ``enabled`` is switched per operation:
    a disabled tracer records nothing and leaves job groups alone."""

    sc: object
    run_id: str
    enabled: bool = False
    spans: list = field(default_factory=list)
    calls: dict = field(default_factory=lambda: defaultdict(int))
    _stack: list = field(default_factory=list)
    _saved: list = field(default_factory=list)

    def group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None,
                 self.run_id, time.perf_counter())
        self.spans.append(s)
        self.calls[name] += 1
        self._stack.append(s)
        self.sc.setJobGroup(self.group(s.id), name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                p = self._stack[-1]
                self.sc.setJobGroup(self.group(p.id), p.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def install(self) -> None:
        for module, owner, fn in TRACED:
            mod = importlib.import_module(module)
            target = getattr(mod, owner) if owner else mod
            orig = getattr(target, fn)
            self._saved.append((target, fn, orig))
            setattr(target, fn, self._wrap(orig, span_name(module, fn)))

    def uninstall(self) -> None:
        while self._saved:
            target, fn, orig = self._saved.pop()
            setattr(target, fn, orig)

    def _wrap(self, orig, name):
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        return traced


# -- analysis -----------------------------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids[s.id]):
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.id] = s.dur - covered
    return out


def subtree_root(spans: list[Span], roots: set[str]) -> dict[int, int]:
    """Map every span id to its nearest ancestor-or-self whose name is in
    ``roots`` (spans outside any such root are left out)."""
    by_id = {s.id: s for s in spans}
    out = {}
    for s in spans:
        cur = s
        while cur is not None and cur.name not in roots:
            cur = by_id.get(cur.parent) if cur.parent is not None else None
        if cur is not None:
            out[s.id] = cur.id
    return out


STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("exec_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("exec_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
}


def read_event_log(log_dir: str, run_id: str) -> dict[int, dict]:
    """Per span id: jobs, stages, tasks and executor run/CPU/GC time and
    shuffle bytes written by the stages of the jobs submitted under that
    span's job group. Only job-start and stage-completed events are
    decoded; the rest of the log is skipped by prefix."""
    stage_span: dict[int, int] = {}
    per: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    prefix = f"{run_id}:"
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    e = json.loads(line)
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not g.startswith(prefix):
                        continue
                    sid = int(g[len(prefix):])
                    per[sid]["jobs"] += 1
                    for st in e.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
                elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                    info = json.loads(line)["Stage Info"]
                    sid = stage_span.get(info["Stage ID"])
                    if sid is None:
                        continue
                    d = per[sid]
                    d["stages"] += 1
                    d["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        m = STAGE_METRICS.get(acc.get("Name"))
                        if m:
                            d[m[0]] += float(acc.get("Value") or 0) * m[1]
    return per


# (file basename after pstats.strip_dirs, function) -> metric stem
PY_FUNCS = {
    ("synthetic_web.py", "page"): "sources.synthetic_web.page",
    ("synthetic_web.py", "fetch_image"): "sources.synthetic_web.fetch_image",
    ("url.py", "canonicalize_url"): "functions.url.canon_slow",
    ("seen.py", "might_contain_many"): "crawl.seen.probe",
    ("seen.py", "add_many"): "crawl.seen.fold",
    ("core.py", "write_table"): "sources.catalog.parquet_write",
    ("imagecodec.py", "decode"): "functions.imagecodec.decode",
    ("imagecodec.py", "phash64"): "functions.imagecodec.phash",
}


def read_udf_profiles(dump_dir: str) -> dict[str, float]:
    """Python time inside UDFs, from the perf profiler's dumps: the total
    profiled time (``python.udf_s``) and, per function the layers are
    known by, its cumulative time (``<stem>_py_s``) and call count
    (``<stem>_calls``)."""
    out: dict[str, float] = defaultdict(float)
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        out["python.udf_s"] += st.total_tt
        for (fname, _line, func), (_cc, nc, _tt, ct, _callers) in st.stats.items():
            stem = PY_FUNCS.get((os.path.basename(fname), func))
            if stem:
                out[f"{stem}_py_s"] += ct
                out[f"{stem}_calls"] += nc
    return out
