"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from outside the package: the benchmark rebinds a
fixed list of public entry points (``instrument``) to wrappers that
open a span, and wraps its own calls (session start, query builds,
actions) directly. Each span sets the Spark job group to its id, so
the event log ties every job, stage and task to the innermost span
that launched it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "canadiannewsdatapipeline_spark"

# layer -> modules whose public functions are spanned as "<layer>.<name>"
# ("*" = every module of the subpackage)
_LAYER_MODULES = {
    "sources": ["sources.registry"],
    "operators": ["operators.*"],
    "enrich": ["enrich.batch"],
    "plans": ["plans.pipeline"],
    "streaming": ["streaming.*"],
}
# span names that are not "<layer>.<function>"
_RENAME = {"plans.extract_source": "sources.scrape"}
# the extra run of each scrape that times it (see _wrap); its jobs are
# the benchmark's, not the program's, and stay out of the exec.* totals
RERUN = "sources.rerun_scrape"


class Tracer:
    """Span recorder; a disabled tracer's ``span`` is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.catalyst_ms = defaultdict(float)
        self._seen_plans: set[int] = set()
        self.materialize_scrape = False

    def bind(self, sc) -> None:
        self.sc = sc
        if self._stack:
            sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": f"pb{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None and self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])

    def record_catalyst(self, df) -> None:
        """Add the Catalyst phase times of ``df``'s query execution, once
        per plan (a plan-cache hit reuses an already-planned execution)."""
        if not self.enabled or id(df) in self._seen_plans:
            return
        self._seen_plans.add(id(df))
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.catalyst_ms[phase] += float(opt.get().durationMs())

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
            if name == "sources.scrape" and tracer.materialize_scrape:
                # extract_source is lazy; run its lineage once here so
                # the scrape's own cost is measured (the DAG runs it again)
                with tracer.span(RERUN):
                    out.write.format("noop").mode("overwrite").save()
            return out

    return wrapped


def _expand(patterns: list[str]) -> list[str]:
    out = []
    for p in patterns:
        if p.endswith(".*"):
            sub = p[:-2]
            pkg = importlib.import_module(f"{PKG}.{sub}")
            out += [f"{sub}.{m.name}" for m in pkgutil.iter_modules(pkg.__path__)]
        else:
            out.append(p)
    return out


def instrument(tracer: Tracer) -> None:
    """Rebind every public function of the layer modules, in every
    package module that imported it, to a span wrapper. ``functools.
    wraps`` keeps the wrappers picklable by reference, so closures
    shipped to Python workers still resolve to the original code."""
    originals: dict[int, tuple] = {}
    for layer, patterns in _LAYER_MODULES.items():
        for m in _expand(patterns):
            mod = importlib.import_module(f"{PKG}.{m}")
            for attr, fn in vars(mod).items():
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                name = _RENAME.get(f"{layer}.{attr}", f"{layer}.{attr}")
                originals[id(fn)] = (fn, _wrap(tracer, fn, name))
    from canadiannewsdatapipeline_spark.plans import runner

    run = runner.ModelRunner.run
    runner.ModelRunner.run = _wrap(tracer, run, "plans.model_run")
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])


# --- event log -----------------------------------------------------------

_PY_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(path: str) -> dict:
    """Per-job-group task totals from one Spark event log."""
    stage_group: dict[int, str | None] = {}
    per = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
                per[g]["jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                per[stage_group.get(sid)]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = per[stage_group.get(ev.get("Stage ID"))]
                g["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1000.0
                g["task_s"] += run_s
                g["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                py = 0
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") in _PY_ACCUMS:
                        py += int(acc.get("Update") or 0)
                if py:
                    g["python_bytes"] += py
                    g["python_task_s"] += run_s
    return {k: dict(v) for k, v in per.items()}


def find_event_log(log_dir: str, app_id: str) -> str:
    for f in os.listdir(log_dir):
        if f.startswith(app_id) and not f.endswith(".inprogress"):
            return os.path.join(log_dir, f)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


# --- per-layer report ------------------------------------------------------


def _subtree(spans: list[dict], root_ids: set[str]) -> set[str]:
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    out, todo = set(), list(root_ids)
    while todo:
        sid = todo.pop()
        if sid not in out:
            out.add(sid)
            todo.extend(children[sid])
    return out


def layer_report(
    spans: list[dict], groups: dict, catalyst_ms: dict, cores: int, extra: dict
) -> dict:
    """The per-layer metrics of ``BENCHMARK.json`` from spans + event log.

    ``<layer>.self_s`` is the layer's span time minus the time of the
    spans it caused; ``trace.unattributed_ratio`` is the share of the
    root span not covered by any child span. The ``exec.*`` totals leave
    out the jobs of ``RERUN`` spans, and ``exec.core_busy_ratio`` their
    time."""
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    child_time = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += dur[s["id"]]
    root = next(s for s in spans if s["parent"] is None)
    wall = dur[root["id"]]

    def named(prefix: str) -> list[dict]:
        return [s for s in spans if s["name"].startswith(prefix)]

    def total_s(prefix: str) -> float:
        # outermost matching spans only, so recursion is not double counted
        hits = named(prefix)
        ids = {s["id"] for s in hits}
        return sum(dur[s["id"]] for s in hits if s["parent"] not in ids)

    def jobs(prefix: str) -> float:
        ids = _subtree(spans, {s["id"] for s in named(prefix)})
        return sum(groups.get(i, {}).get("jobs", 0) for i in ids)

    rerun_ids = _subtree(spans, {s["id"] for s in named(RERUN)})
    rerun_s = total_s(RERUN)
    tot = defaultdict(float)
    for gid, g in groups.items():
        if gid in rerun_ids:
            continue
        for k, v in g.items():
            tot[k] += v
    mb = 1024.0 * 1024.0
    self_s = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            self_s[s["name"].split(".")[0]] += dur[s["id"]] - child_time[s["id"]]
    builds = named("queries.build")
    hits = sum(1 for s in builds if s.get("plan_cache_hit"))
    out = {
        "session.start_s": total_s("session.start"),
        "sources.first_touch_s": total_s("sources.first_touch"),
        "sources.first_touch_jobs": jobs("sources.first_touch"),
        "sources.scrape_s": total_s("sources.scrape"),
        "queries.build_s": total_s("queries.build"),
        "queries.build_jobs": jobs("queries.build"),
        "queries.plan_cache_hit_ratio": hits / len(builds) if builds else 0.0,
        "catalyst.analysis_ms": catalyst_ms.get("analysis", 0.0),
        "catalyst.optimization_ms": catalyst_ms.get("optimization", 0.0),
        "catalyst.planning_ms": catalyst_ms.get("planning", 0.0),
        "exec.jobs": tot["jobs"],
        "exec.stages": tot["stages"],
        "exec.tasks": tot["tasks"],
        "exec.failed_tasks": tot["failed_tasks"],
        "exec.scan_mb": tot["scan_bytes"] / mb,
        "exec.shuffle_write_mb": tot["shuffle_write_bytes"] / mb,
        "exec.shuffle_read_mb": tot["shuffle_read_bytes"] / mb,
        "exec.spill_mb": tot["spill_bytes"] / mb,
        "exec.task_s": tot["task_s"],
        "exec.core_busy_ratio": tot["task_s"] / ((wall - rerun_s) * cores),
        "exec.python_mb": tot["python_bytes"] / mb,
        "exec.python_stage_s": tot["python_task_s"],
        "operators.serial_ids_s": total_s("operators.assign_serial_ids"),
        "operators.serial_ids_jobs": jobs("operators.assign_serial_ids"),
        "operators.quality_s": total_s("operators.quality_checks"),
        "enrich.translate_s": total_s("enrich.translate_language"),
        "plans.model_run_s": total_s("plans.model_run"),
        "streaming.microbatch_s": total_s("streaming."),
        "plans.files_written": 0.0,
        "plans.bytes_written_mb": 0.0,
        "trace.wall_s": wall,
        "trace.spans": float(len(spans)),
        "trace.unattributed_ratio": (wall - child_time[root["id"]]) / wall,
    }
    for layer in ("session", "sources", "queries", "exec", "operators", "enrich",
                  "plans", "streaming"):
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    out.update(extra)
    return out
