"""Tracing for the benchmark's traced run: spans around the engine's
public functions, the Spark event log, and the per-layer roll-up.

Spans are recorded from outside the engine. :func:`install` replaces
the public functions named in ``WRAPPED`` by timing wrappers *before*
the operator modules are imported, because those modules bind names
such as ``load_table`` at import time; :func:`verify` then checks that
no loaded module still holds an unwrapped original. Spans stay in
memory and are written out when the run ends.

Jobs are attributed from the event log: every op runs in its own Spark
job group, so the job group gives the op, and a job's submission time
gives the innermost span that was open when it started.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import importlib
import json
import sys
import time
from collections import defaultdict

PKG = "nosql_triple_store_spark"

# (module, function, span name). Leaf modules come first: a module is
# patched before any module that imports the function by name.
WRAPPED = (
    ("session", "get_spark", "session.start"),
    ("catalog", "load_table", "catalog.load_table"),
    ("materialize", "materialize", "materialize"),
    ("materialize", "lazy_cut", "lazy_cut"),
    ("functions.lww", "latest_by_key", "lww.latest_by_key"),
    ("functions.lww", "lww_merge", "lww.lww_merge"),
    ("sources.compaction", "compact", "compaction.compact"),
    ("sources.compaction", "read_register", "compaction.read_register"),
    ("plans.sparql", "parse_sparql", "sparql.parse"),
    ("plans.sparql", "compile_sparql_encoded", "sparql.compile"),
    ("operators.relational_ext3", "encoded_store", "encoded_store"),
    ("registry", "all_specs", "registry.load"),
)


class Tracer:
    """In-memory span recorder. A span is
    ``[id, parent_id, name, t_start, t_end]`` in epoch seconds, the
    clock the Spark event log uses for job submission times."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.originals: dict[str, object] = {}

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([sid, parent, name, time.time(), None])
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid][4] = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield sid
        finally:
            self.end(sid)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every ``WRAPPED`` function. Call before the engine's
        operator modules are imported. The package ``__init__`` binds
        ``get_spark`` and ``all_specs`` before any wrapper can exist, so
        bindings already made are repointed too."""
        wrappers = {}
        for mod_name, attr, span in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            self.originals[span] = fn
            wrappers[id(fn)] = self.wrap(fn, span)
            setattr(mod, attr, wrappers[id(fn)])
        for mod in _engine_modules():
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers:
                    setattr(mod, attr, wrappers[id(val)])

    def verify(self) -> None:
        """Raise if a loaded engine module still binds an original."""
        stale = sorted(
            f"{mod.__name__}.{attr}"
            for mod in _engine_modules()
            for attr, val in vars(mod).items()
            if any(val is fn for fn in self.originals.values())
        )
        if stale:
            raise RuntimeError(f"untraced bindings of wrapped functions: {stale}")


def _engine_modules() -> list:
    return [
        mod
        for name, mod in list(sys.modules.items())
        if mod is not None and (name == PKG or name.startswith(PKG + "."))
    ]


# ------------------------------------------------------------ event log

_TOTALS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "jvm_gc_s",
    "input_records",
)


def read_event_log(path: str) -> dict[int, dict]:
    """Per-job totals from an uncompressed Spark event log:
    ``{job_id: {group, submit_s, stages, tasks, executor_run_s, ...}}``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = dict.fromkeys(_TOTALS[2:], 0) | {
                    "group": props.get("spark.jobGroup.id"),
                    "submit_s": ev["Submission Time"] / 1000.0,
                    "stages": len(ev["Stage IDs"]),
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                job["tasks"] += 1
                job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                job["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
    return jobs


def attribute_jobs(spans: list[list], jobs: dict[int, dict]) -> dict[int, int]:
    """Job id -> innermost span open at the job's submission."""
    closed = [s for s in spans if s[4] is not None]  # in start order
    starts = [s[3] for s in closed]
    out = {}
    for jid, job in jobs.items():
        t = job["submit_s"]
        # spans are properly nested, so the innermost open span is the
        # latest-started one that has not ended yet
        for s in reversed(closed[: bisect.bisect_right(starts, t)]):
            if s[4] >= t:
                out[jid] = s[0]
                break
    return out


# --------------------------------------------------------------- roll-up


def group_totals(jobs: dict[int, dict]) -> dict[str, dict]:
    """Event-log totals per job group (one group per op)."""
    out: dict[str, dict] = {}
    for job in jobs.values():
        t = out.setdefault(job["group"], dict.fromkeys(_TOTALS, 0))
        t["jobs"] += 1
        for key in _TOTALS[1:]:
            t[key] += job[key]
    return out


def empty_totals() -> dict:
    return dict.fromkeys(_TOTALS, 0)


def top_ancestor(spans: list[list]) -> dict[int, int]:
    """Span id -> id of its outermost enclosing span (itself if top)."""
    out: dict[int, int] = {}
    for s in spans:  # parents are recorded before their children
        out[s[0]] = s[0] if s[1] is None else out[s[1]]
    return out


def inclusive_jobs(spans: list[list], job_span: dict[int, int]) -> dict[int, int]:
    """Span id -> jobs submitted while it (or a child) was innermost."""
    out = dict.fromkeys((s[0] for s in spans), 0)
    for sid in job_span.values():
        while sid is not None:
            out[sid] += 1
            sid = spans[sid][1]
    return out


def span_table(spans: list[list], incl_jobs: dict[int, int], keep: set[int]) -> list[dict]:
    """One row per span name over the spans in ``keep``: calls, inclusive
    and self seconds, and the jobs submitted inside (inclusive), ranked
    by self time."""
    child_s = defaultdict(float)
    for s in spans:
        if s[1] is not None and s[4] is not None:
            child_s[s[1]] += s[4] - s[3]
    rows: dict[str, dict] = {}
    for s in spans:
        if s[4] is None or s[0] not in keep:
            continue
        dur = s[4] - s[3]
        r = rows.setdefault(
            s[2], {"layer": s[2], "calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0}
        )
        r["calls"] += 1
        r["total_s"] += dur
        r["self_s"] += max(0.0, dur - child_s[s[0]])
        r["jobs"] += incl_jobs[s[0]]
    return sorted(rows.values(), key=lambda r: -r["self_s"])


def format_table(title: str, rows: list[dict], moves: dict) -> str:
    """Markdown per-layer table, ranked by self time."""
    out = [
        f"#### {title}",
        "",
        "| layer | calls | self s | total s | jobs | moves |",
        "|---|---:|---:|---:|---:|---|",
    ]
    for r in rows:
        out.append(
            f"| {r['layer']} | {r['calls']} | {r['self_s']:.3f} | "
            f"{r['total_s']:.3f} | {r['jobs']} | {moves.get(r['layer'], '')} |"
        )
    return "\n".join(out)
