"""Per-layer tracing from outside the library.

A layer is one library module. ``Tracer.install`` wraps the layer's
public functions, and every module-level reference to them in the
package, so each call opens a span and sets the Spark job group to the
layer's name (the innermost open span wins). The traced session writes
an uncompressed event log; ``layer_counters`` reads it after the session
stops and attributes jobs, tasks, executor run time, shuffle writes and
spills to layers by job group. PySpark-issued jobs carry no useful call
site, so the job group is the only reliable attribution.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from pathlib import Path

# layer → (module, public functions) pairs. Names are the modules' own;
# fixtures.ontology_dfs, which turns parsed tables into frames, is the
# sources layer's hand-off to Spark.
LAYERS = {
    "sources": (("fhir_owl_spark.sources.turtle", ("parse_ontology_document",)),
                ("fhir_owl_spark.fixtures", ("ontology_dfs",))),
    "dictionary": (("fhir_owl_spark.operators.dictionary", ("build_concept_dictionary",)),),
    "hierarchy": (("fhir_owl_spark.operators.hierarchy", ("build_hierarchy",)),),
    "mentions": (("fhir_owl_spark.operators.mentions", ("linkable_terms", "extract_mentions")),),
    "build_graph": (("fhir_owl_spark.plans.build_graph", (
        "build_graph", "concept_triples", "triples_with_key")),),
    "lineage": (("fhir_owl_spark.plans.lineage", (
        "build_graph_resumable", "write_committed_chunk", "read_triples")),),
    "refresh": (("fhir_owl_spark.plans.refresh", ("affected_codes", "refresh_graph")),),
    "export": (("fhir_owl_spark.plans.export", ("export_codesystem", "write_codesystem_json")),),
}
COUNTERS = {"wall_s": "s", "jobs": "count", "tasks": "count", "task_s": "s",
            "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}


class Tracer:
    """Spans around layer calls plus the job group of the innermost one."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[list] = []  # [layer, start, child_seconds]
        self.self_s: dict[str, float] = defaultdict(float)
        self._restore: list[tuple] = []

    def _set_group(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(layer, layer, interruptOnCancel=True)

    @contextlib.contextmanager
    def span(self, layer: str):
        frame = [layer, time.perf_counter(), 0.0]
        self.stack.append(frame)
        self._set_group(layer)
        try:
            yield
        finally:
            self.stack.pop()
            took = time.perf_counter() - frame[1]
            self.self_s[layer] += took - frame[2]
            if self.stack:
                self.stack[-1][2] += took
            self._set_group(self.stack[-1][0] if self.stack else None)

    def _wrap(self, layer, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every layer function wherever the package refers to it."""
        originals = {}
        for layer, modules in LAYERS.items():
            for modname, names in modules:
                mod = importlib.import_module(modname)
                for name in names:
                    fn = getattr(mod, name)
                    originals[id(fn)] = (fn, self._wrap(layer, fn))
        for modname, mod in list(sys.modules.items()):
            if not (modname == "fhir_owl_spark" or modname.startswith("fhir_owl_spark.")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._restore.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._restore):
            setattr(mod, attr, val)
        self._restore.clear()


def layer_counters(eventlog_dir: Path, self_s: dict[str, float]) -> dict[str, tuple]:
    """Event log → ``<layer>.<counter>``: (value, unit) for every layer."""
    jobs_of: dict[str, int] = defaultdict(int)
    group_of_stage: dict[int, str] = {}
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(p for p in eventlog_dir.rglob("*") if p.is_file()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in LAYERS:
                        jobs_of[group] += 1
                        for sid in ev.get("Stage IDs", ()):
                            group_of_stage.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = group_of_stage.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    if group is None:
                        continue
                    a = agg[group]
                    a["tasks"] += 1
                    a["task_s"] += metrics.get("Executor Run Time", 0) / 1000.0
                    a["shuffle_write_bytes"] += (
                        metrics.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                        "Disk Bytes Spilled", 0
                    )
    out = {}
    for layer in LAYERS:
        values = dict(agg.get(layer, {}), wall_s=self_s.get(layer, 0.0), jobs=jobs_of.get(layer, 0))
        for counter, unit in COUNTERS.items():
            out[f"{layer}.{counter}"] = (values.get(counter, 0), unit)
    return out


def job_count(eventlog_dir: Path, start_ms: float, end_ms: float) -> int:
    """Jobs submitted in [start_ms, end_ms] (epoch milliseconds)."""
    n = 0
    for path in sorted(p for p in eventlog_dir.rglob("*") if p.is_file()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' not in line:
                    continue
                ev = json.loads(line)
                if start_ms <= ev.get("Submission Time", 0) <= end_ms:
                    n += 1
    return n
