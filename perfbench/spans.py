"""Spans around calls into the engine's layers, and their arithmetic.

The tracer wraps every public function of the layer modules listed in
``LAYERS`` (plus the CLI's ``process`` handler) in place, for as long as
it is installed; the engine's own files are never edited. Each call
becomes a span with a parent, a thread id and wall-clock bounds.
Threads started through ``ThreadPoolExecutor`` inherit the submitting
thread's span, and each submitted task gets a ``task.<fn>`` span of its
own, so the retrieval composites' concurrent channels show as siblings
on two threads.

Spans that can launch Spark jobs also set the local property
``perfbench.span``, so Spark's event log attributes every job and stage
to the innermost such span. ``event_log_stats`` reads that log back.

Spans are kept in memory until the run ends.
"""

from __future__ import annotations

import concurrent.futures
import functools
import inspect
import itertools
import json
import os
import sys
import threading
import time

#: Layer → modules whose public functions get spans.
LAYERS = {
    "session": ["process_spark.session"],
    "cli": ["process_spark.cli"],
    "sources": ["process_spark.sources.io", "process_spark.sources.nmea_fixture"],
    "functions": [
        "process_spark.functions.nmea",
        "process_spark.functions.textfn",
        "process_spark.functions.vectorfn",
        "process_spark.functions.angles",
    ],
    "operators": [
        "process_spark.operators.series",
        "process_spark.operators.retrieval",
        "process_spark.operators.similarity",
        "process_spark.operators.dedup",
        "process_spark.operators.indexlife",
    ],
    "queries": [
        "process_spark.queries.nmea",
        "process_spark.queries.retrieval",
        "process_spark.queries.pipeline",
        "process_spark.queries.text",
    ],
}

#: Private functions that are a layer's real entry point.
EXTRA = {("process_spark.cli", "_cmd_process"): "cli.process"}

#: Column-expression builders: called thousands of times while plans are
#: built and never launch a job, so they skip the job-tagging calls.
UNTAGGED_LAYERS = {"functions"}

#: Functions whose output directory (positional index of the path
#: argument) is measured after the call: bytes and file count.
OUTPUT_ARG = {
    "sources.io.write_json_docs": 1,
    "sources.io.write_parquet": 1,
    "operators.retrieval.write_postings_index": 1,
}

SPAN_PROPERTY = "perfbench.span"


def span_name(module: str, func: str) -> str:
    return EXTRA.get((module, func)) or f"{module.removeprefix('process_spark.')}.{func}"


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


class Tracer:
    """In-memory span recorder. ``install`` patches the layer modules;
    ``uninstall`` restores them."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else getattr(self._local, "inherited", None)

    def begin(self, name: str, tag: bool = True, **attrs) -> dict:
        parent = self.current()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
            "start": time.time(),
            "end": None,
            "tag": None,
            "attrs": attrs,
        }
        rec["tag"] = rec["id"] if tag else (parent["tag"] if parent else None)
        if tag:
            _set_span_property(rec["tag"])
        self._stack().append(rec)
        with self._lock:
            self.spans.append(rec)
        return rec

    def end(self, rec: dict) -> None:
        rec["end"] = time.time()
        st = self._stack()
        st.pop()
        if rec["tag"] == rec["id"]:
            parent = self.current()
            _set_span_property(parent["tag"] if parent else None)

    def span(self, name: str, tag: bool = True, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.rec = tracer.begin(name, tag, **attrs)
                return self.rec

            def __exit__(self, *exc):
                tracer.end(self.rec)
                return False

        return _Ctx()

    # -- instrumentation -------------------------------------------------

    def _wrap(self, fn, name: str, tag: bool):
        tracer = self
        out_arg = OUTPUT_ARG.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = tracer.begin(name, tag)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(rec)
                if out_arg is not None and len(args) > out_arg:
                    rec["attrs"]["bytes"], rec["attrs"]["files"] = dir_stats(
                        args[out_arg]
                    )
                    rec["attrs"]["target"] = os.path.basename(str(args[out_arg]))

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every public layer function, in its own module and in every
        engine module that imported it by name."""
        import importlib

        originals = {}
        for layer, modules in LAYERS.items():
            for modname in modules:
                mod = importlib.import_module(modname)
                for attr, obj in vars(mod).items():
                    if not inspect.isfunction(obj) or obj.__module__ != modname:
                        continue
                    if attr.startswith("_") and (modname, attr) not in EXTRA:
                        continue
                    if hasattr(obj, "evalType"):  # a pandas/Python UDF
                        continue
                    originals[id(obj)] = (
                        obj,
                        self._wrap(obj, span_name(modname, attr),
                                   layer not in UNTAGGED_LAYERS),
                    )
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("process_spark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patch(mod, attr, hit[1])
        self._patch_pool()

    def _patch_pool(self) -> None:
        tracer = self
        submit = concurrent.futures.ThreadPoolExecutor.submit

        def traced_submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()
            name = f"task.{getattr(fn, '__name__', 'call')}"

            def run():
                tracer._local.inherited = parent
                try:
                    with tracer.span(name):
                        return fn(*args, **kwargs)
                finally:
                    tracer._local.inherited = None
                    _set_span_property(None)

            return submit(pool, run)

        self._patch(concurrent.futures.ThreadPoolExecutor, "submit", traced_submit)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)


def _set_span_property(tag) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(SPAN_PROPERTY, None if tag is None else str(tag))


# -- span arithmetic ------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def children_of(spans: list[dict]) -> dict:
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part of it that child spans
    cover. Children on other threads may overlap one another; the
    covered part is the union of their intervals, not their sum."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        covered = union_length(
            clip([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                 s["start"], s["end"])
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def overlap_ratio(intervals) -> float:
    """Sum of the intervals' lengths over their union: 1.0 when they run
    one after another, N when N of them run fully in parallel."""
    union = union_length(intervals)
    if union <= 0:
        return 1.0
    return sum(b - a for a, b in intervals) / union


def channel_overlaps(spans: list[dict], channels=("task.lex_ch", "task.vec_ch")) -> list[float]:
    """One overlap ratio per parent span that ran the named channels."""
    groups: dict = {}
    for s in spans:
        if s["name"] in channels:
            groups.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [overlap_ratio(iv) for iv in groups.values() if len(iv) > 1]


def subtree_ids(spans: list[dict], root_id: int) -> set[int]:
    kids = children_of(spans)
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(c["id"] for c in kids.get(i, []))
    return out


# -- Spark event log ------------------------------------------------------

_ACC = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}


def _tag_of(props) -> int | None:
    v = (props or {}).get(SPAN_PROPERTY)
    return int(v) if v else None


def event_log_files(log_dir: str) -> list[str]:
    """The event log files of the one application logged under
    ``log_dir``, in order. Spark 4 rolls its log into an
    ``eventlog_v2_<app>/events_<n>_<app>`` directory by default."""
    (app,) = os.listdir(log_dir)
    path = os.path.join(log_dir, app)
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def event_log_stats(paths: list[str]) -> dict:
    """Jobs and completed stages from an uncompressed Spark event log:
    ``{"jobs": [{id, tag, t}], "stages": [{id, tag, start, end, tasks,
    failed_tasks, executor_cpu_s, gc_s, shuffle_write_bytes,
    spill_bytes}]}`` with times in epoch seconds."""
    jobs, stage_tag, stages, failed = [], {}, [], {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append({
                "id": ev["Job ID"],
                "tag": _tag_of(ev.get("Properties")),
                "t": ev["Submission Time"] / 1000.0,
            })
        elif kind == "SparkListenerStageSubmitted":
            stage_tag[ev["Stage Info"]["Stage ID"]] = _tag_of(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                failed[ev["Stage ID"]] = failed.get(ev["Stage ID"], 0) + 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" not in info or "Completion Time" not in info:
                continue
            st = {
                "id": info["Stage ID"],
                "tag": stage_tag.get(info["Stage ID"]),
                "start": info["Submission Time"] / 1000.0,
                "end": info["Completion Time"] / 1000.0,
                "tasks": info.get("Number of Tasks", 0),
                "failed_tasks": failed.get(info["Stage ID"], 0),
                "executor_cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
            for acc in info.get("Accumulables", []):
                hit = _ACC.get(acc.get("Name"))
                if hit:
                    st[hit[0]] += float(acc.get("Value", 0)) * hit[1]
            stages.append(st)
    return {"jobs": jobs, "stages": stages}


def _lines(paths):
    for p in paths:
        with open(p) as f:
            yield from f


STAGE_COUNTERS = ("executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


def annotate(spans: list[dict], log: dict) -> None:
    """Add ``self_s``, ``wall_s``, ``driver_s``, ``jobs``, ``stages``,
    ``tasks``, ``failed_tasks`` and the stage counters to every span.
    Job and stage figures are inclusive of the span's subtree;
    ``driver_s`` is the part of the span no running stage covers."""
    selfs = self_times(spans)
    busy = [(s["start"], s["end"]) for s in log["stages"]]
    own: dict = {}
    for j in log["jobs"]:
        own.setdefault(j["tag"], _zero())["jobs"] += 1
    for st in log["stages"]:
        agg = own.setdefault(st["tag"], _zero())
        agg["stages"] += 1
        agg["tasks"] += st["tasks"]
        agg["failed_tasks"] += st["failed_tasks"]
        for k in STAGE_COUNTERS:
            agg[k] += st[k]
    kids = children_of(spans)

    def total(s) -> dict:
        acc = dict(own.get(s["id"], _zero())) if s["tag"] == s["id"] else _zero()
        for c in kids.get(s["id"], []):
            for k, v in total(c).items():
                acc[k] += v
        s.update(acc)
        return acc

    for root in kids.get(None, []):
        total(root)
    for s in spans:
        s["wall_s"] = s["end"] - s["start"]
        s["self_s"] = selfs[s["id"]]
        s["driver_s"] = s["wall_s"] - union_length(clip(busy, s["start"], s["end"]))


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            **{k: 0.0 for k in STAGE_COUNTERS}}


def untagged_into_passes(spans: list[dict], log: dict) -> None:
    """Give jobs and stages that carry no span tag (launched from a
    thread the tracer never saw) to the pass root whose interval holds
    their start."""
    roots = [s for s in spans if s["parent"] is None and s["name"] == "pass"]
    for item, t_key in [(j, "t") for j in log["jobs"]] + [(st, "start") for st in log["stages"]]:
        if item["tag"] is None:
            for r in roots:
                if r["start"] <= item[t_key] <= r["end"]:
                    item["tag"] = r["id"]
                    break


def self_time_tree(spans: list[dict], n_passes: int, min_s: float = 0.005) -> str:
    """Per-call-path totals (calls, wall, self) averaged over the traced
    passes, indented by depth; paths under ``min_s`` wall are folded."""
    by_id = {s["id"]: s for s in spans}
    agg: dict = {}
    for s in spans:
        path, cur = [s["name"]], s
        while cur["parent"] is not None:
            cur = by_id[cur["parent"]]
            path.append(cur["name"])
        key = tuple(reversed(path))
        a = agg.setdefault(key, [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s["wall_s"]
        a[2] += s["self_s"]
    lines = []
    for key in sorted(agg):
        calls, wall, self_s = agg[key]
        if wall / n_passes < min_s:
            continue
        lines.append(
            f"{'  ' * (len(key) - 1)}{key[-1]}  calls={calls / n_passes:g} "
            f"wall={wall / n_passes:.3f}s self={self_s / n_passes:.3f}s"
        )
    return "\n".join(lines)
