"""In-memory span tracer for the traced benchmark run.

Spans wrap the engine's layer functions *as their callers import them*
(module attributes are swapped while a traced op runs and restored after),
so the engine source is never edited. Each span:

- records name, layer, parent span, thread and start/end time in memory;
- runs under its own Spark job group, so the jobs it launches can be read
  back from ``statusTracker().getJobIdsForGroup`` after the op.

Two more swaps make that attribution complete:

- the ``ThreadPoolExecutor`` the runner and the violation pass import is
  replaced by one whose worker threads inherit the submitting thread's job
  group, so jobs launched from the engine's pools land in the span (or
  phase) that submitted them;
- "phase marks" on ``fine_grained_agg`` / ``rollups_from_fine_pdf`` /
  ``build_verdicts`` set a sticky job group on the runner's thread, so the
  PASS-1 jobs and the PASS-2 write jobs, which run inside the runner and
  not inside any wrapped function, are grouped as ``phase:fused`` and
  ``phase:pass2``.

After the op, the per-stage counters come from the engine's public
``engine.stage_metrics.stage_metrics(spark, since_epoch_sec=)`` in one call
and are summed per span through the job -> stage mapping. Nothing is
written until :meth:`Tracer.dump` at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

_PKG = "bio_data_validation_spark"

# (module, attribute, layer). The attribute is the name the CALLER looks
# up at call time: runner.py binds most layer functions into its own
# namespace at import, so those are patched on the runner module.
PATCHES = [
    ("engine.runner", "write_profile", "profilepass"),
    ("engine.runner", "profile_violations", "violations"),
    ("engine.drift", "drift_rule_results", "drift"),
    ("engine.runner", "build_verdicts", "verdicts"),
    ("engine.runner", "partition_decisions", "verdicts"),
    ("engine.runner", "global_decision", "verdicts"),
    ("engine.runner", "generate_rationale", "policy"),
    ("engine.runner", "generate_conditions", "policy"),
    ("policy.metrics", "quality_metrics", "policy"),
    ("engine.runner", "render_markdown", "report"),
    ("engine.runner", "render_html", "report"),
    ("checkpoint.ledger", "Ledger.append", "checkpoint"),
    ("checkpoint.ledger", "Ledger.completed_pids", "checkpoint"),
    ("engine.incremental", "snapshot_diff", "incremental"),
    ("engine.incremental", "relation_fingerprint", "incremental"),
    ("engine.incremental", "carry_forward", "incremental"),
    ("engine.ingest", "ingest_payload", "ingest"),
    ("engine.ingest", "violation_pass", "ingest"),
    ("engine.ingest", "structural_check", "ingest"),
    ("engine.runner", "fine_grained_agg", "mark"),
    ("engine.runner", "rollups_from_fine_pdf", "mark"),
]
# Entry into these calls switches the calling thread's sticky phase group.
PHASE_MARKS = {
    "fine_grained_agg": "phase:fused",
    "rollups_from_fine_pdf": "phase:pass2",
    "build_verdicts": None,
}
POOL_USERS = ["engine.runner", "engine.violations"]

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_COUNTERS = ("tasks", "failed_tasks", "executor_run_ms", "input_bytes",
             "output_bytes", "shuffle_write_bytes", "spilled_bytes")


def _interval_union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans for one op at a time; keeps every op's spans."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self._op: dict | None = None

    # ---- patch install / removal
    def _swap(self, owner, name: str, make) -> None:
        orig = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def install(self) -> None:
        for mod_name, attr, layer in PATCHES:
            owner = importlib.import_module(f"{_PKG}.{mod_name}")
            name = attr
            if "." in attr:
                cls_name, name = attr.split(".")
                owner = getattr(owner, cls_name)
            self._swap(owner, name, lambda fn, a=attr, l=layer: self._wrap(fn, a, l))
        pool = self._inheriting_pool()
        for mod_name in POOL_USERS:
            self._swap(importlib.import_module(f"{_PKG}.{mod_name}"), "ThreadPoolExecutor", lambda _: pool)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)

    def _group(self) -> list:
        return [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]

    def _set_group(self, values) -> None:
        for k, v in zip(_GROUP_KEYS, values):
            self.sc.setLocalProperty(k, v)

    def _inheriting_pool(self):
        tracer = self

        class InheritingPool(ThreadPoolExecutor):
            def submit(self, fn, /, *args, **kwargs):
                group = tracer._group()

                def run(*a, **k):
                    tracer._set_group(group)
                    try:
                        return fn(*a, **k)
                    finally:
                        tracer._set_group([None] * len(_GROUP_KEYS))

                return super().submit(run, *args, **kwargs)

        return InheritingPool

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer._call(fn, name, layer, args, kwargs)

        return traced

    def _call(self, fn, name, layer, args, kwargs):
        op = self._op
        if op is None:
            return fn(*args, **kwargs)
        if name in PHASE_MARKS:
            phase = PHASE_MARKS[name]
            group = f"{phase}@{op['label']}"  # per op: the tracker keeps old jobs
            self._set_group([group, phase, None] if phase else [None] * len(_GROUP_KEYS))
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        span = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": stack[-1] if stack else op["root"],
            "thread": threading.get_ident(),
        }
        prev = self._group()
        if layer != "mark":
            span["group"] = f"perfbench-span-{sid}"
            self.sc.setJobGroup(span["group"], name)
        stack.append(sid)
        span["t0"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span["t1"] = time.perf_counter()
            stack.pop()
            if layer != "mark":
                self._set_group(prev)
            with self._lock:
                op["spans"].append(span)

    def _ungrouped_jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(None))

    # ---- op lifecycle
    def begin(self, label: str) -> None:
        self._op = {
            "label": label,
            "root": 0,
            "spans": [],
            "wall0": time.time(),
            "ungrouped0": self._ungrouped_jobs(),
            "t0": time.perf_counter(),
        }

    def end(self) -> dict:
        op, self._op = self._op, None
        op["t1"] = time.perf_counter()
        self._set_group([None] * len(_GROUP_KEYS))  # drop a sticky phase group
        self._attach_spark_counters(op)
        op["self_s"] = self._self_times(op)
        self.ops.append(op)
        return op

    # ---- post-op analysis (outside the op's timed region)
    def _attach_spark_counters(self, op: dict) -> None:
        from bio_data_validation_spark.engine.stage_metrics import stage_metrics

        tracker = self.sc.statusTracker()
        stages = {s["stage_id"]: s for s in stage_metrics(self.spark, since_epoch_sec=op["wall0"])}
        op["stages"] = list(stages.values())
        groups = {sp["group"]: sp["name"] for sp in op["spans"] if "group" in sp}
        groups.update({f"{p}@{op['label']}": p for p in PHASE_MARKS.values() if p})
        counters: dict[str, dict] = {}
        grouped_jobs = 0
        for group, name in groups.items():
            jids = [int(j) for j in tracker.getJobIdsForGroup(group)]
            if not jids:
                continue
            grouped_jobs += len(jids)
            stage_ids: set[int] = set()
            for jid in jids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(int(s) for s in info.stageIds)
            c = counters.setdefault(name, dict.fromkeys(("jobs", "stages", *_COUNTERS), 0))
            c["jobs"] += len(jids)
            for sid in stage_ids:
                st = stages.get(sid)
                if st is not None:
                    c["stages"] += 1
                    for k in _COUNTERS:
                        c[k] += st[k]
        op["counters"] = counters
        op["jobs"] = grouped_jobs + self._ungrouped_jobs() - op["ungrouped0"]

    @staticmethod
    def _self_times(op: dict) -> dict[str, float]:
        """Self time per span name: duration minus the union of its
        children's intervals (clipped to the span)."""
        spans = op["spans"]
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))

        def self_time(sid, t0, t1):
            covered = _interval_union(
                [(max(a, t0), min(b, t1)) for a, b in kids.get(sid, []) if b > t0 and a < t1]
            )
            return (t1 - t0) - covered

        out: dict[str, float] = {}
        for s in spans:
            if s["layer"] != "mark":
                out[s["name"]] = out.get(s["name"], 0.0) + self_time(s["id"], s["t0"], s["t1"])
        out["op"] = self_time(op["root"], op["t0"], op["t1"])
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.ops, indent=1, default=str))
