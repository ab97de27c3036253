"""Spans around the calls into each engine layer, for the traced run.

``Tracer.install`` wraps the engine's layer entry points in place (every
module binding of each function, and the ``Engine`` methods). A wrapped
call records a span while the tracer is active and passes straight
through otherwise, so traced and untraced jobs can alternate in one
session. Timing a lazy call measures only plan building, so a wrapped
call that returns a DataFrame forces it with ``localCheckpoint`` inside
its span; the next layer reads the checkpoint. Each span sets the Spark
job group to its own id, so event-log jobs are attributed to it. Spans
stay in memory and are written out when the run ends.

``fold_event_log`` turns Spark's own JSON event log into the ``spark.*``
per-layer metrics.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

# (module, attribute, layer, force): ``attribute`` may be "Class.method".
# ``force`` checkpoints a returned DataFrame inside the span.
TARGETS = (
    ("nexgap_spark.session", "materialize", "session", False),
    ("nexgap_spark.session", "fan_out_python_stage", "session", True),
    ("nexgap_spark.engine", "Engine.read_spans", "sources", True),
    ("nexgap_spark.sources.jsonl", "write_jsonl", "sources", False),
    ("nexgap_spark.operators.converter", "convert_spans", "converter", True),
    ("nexgap_spark.operators.span_tree", "filter_generation_spans", "span_tree", True),
    ("nexgap_spark.operators.span_tree", "filter_nonempty_input", "span_tree", True),
    ("nexgap_spark.operators.span_tree", "last_generation_per_group", "span_tree", True),
    ("nexgap_spark.operators.span_tree", "resolve_agent_name", "span_tree", True),
    ("nexgap_spark.operators.span_tree", "exclude_meta", "span_tree", True),
    ("nexgap_spark.engine", "Engine.validate", "validators", True),
    ("nexgap_spark.engine", "Engine.emit", "emitters", True),
    ("nexgap_spark.plans.curation", "corpus_pipeline", "plans", True),
    ("nexgap_spark.operators.text", "quality_features", "text", True),
    ("nexgap_spark.operators.curation", "repetition_features", "curation", True),
    ("nexgap_spark.operators.curation", "contamination_scores", "curation", True),
    ("nexgap_spark.operators.curation", "split_assign", "curation", True),
    ("nexgap_spark.operators.curation", "pack_chunks", "curation", True),
    ("nexgap_spark.operators.dedup", "exact_dedup", "dedup", True),
    ("nexgap_spark.operators.dedup", "shared_shingles", "dedup", True),
    ("nexgap_spark.operators.dedup", "minhash_signatures", "dedup", True),
    ("nexgap_spark.operators.dedup", "lsh_candidate_pairs", "dedup", True),
    ("nexgap_spark.operators.dedup", "verify_jaccard", "dedup", True),
    ("nexgap_spark.operators.dedup", "dup_groups", "dedup", True),
    ("nexgap_spark.operators.dedup", "dedup_corpus_join", "dedup", True),
    ("nexgap_spark.operators.similarity", "append_ivf_index", "similarity", False),
    ("nexgap_spark.operators.similarity", "ivf_topk_indexed", "similarity", True),
    ("nexgap_spark.operators.similarity", "ivf_topk_indexed_int8", "similarity", True),
    ("nexgap_spark.operators.pq", "ivf_topk_indexed_pq", "pq", True),
    ("nexgap_spark.engine", "Engine.synthesize", "engine", True),
    ("nexgap_spark.operators.taxonomy", "paths_df", "taxonomy", True),
    ("nexgap_spark.operators.taxonomy", "join_counts", "taxonomy", True),
    ("nexgap_spark.operators.taxonomy", "record_samples", "taxonomy", True),
    ("nexgap_spark.operators.sampling", "inverse_frequency_weights", "sampling", True),
    ("nexgap_spark.operators.sampling", "weighted_sample", "sampling", True),
    ("nexgap_spark.operators.sampling", "pick_by_distribution", "sampling", True),
    ("nexgap_spark.external.client", "external_call", "external", True),
    ("nexgap_spark.external.workflow", "run_synthesis_workflow", "external", True),
)


def _force(out):
    if isinstance(out, DataFrame) and not out.isStreaming:
        return out.localCheckpoint()
    if isinstance(out, tuple):
        return tuple(_force(o) for o in out)
    return out


class Tracer:
    """In-memory span recorder. ``job`` names the traced job the next
    spans belong to; ``active`` switches recording on and off."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.active = False
        self.job: int | None = None
        self._installed: list[tuple] = []

    @contextmanager
    def span(self, layer: str, name: str):
        sp = {"id": f"j{self.job}.s{len(self.spans)}", "job": self.job, "layer": layer,
              "name": name, "parent": self.stack[-1]["id"] if self.stack else None,
              "t0": time.time()}
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp["id"], f"{layer}.{name}")
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["id"], self.stack[-1]["name"])
            else:
                self.sc.setJobGroup(f"j{self.job}", "job")

    def _wrap(self, orig, layer: str, name: str, force: bool):
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(layer, name) as sp:
                out = orig(*args, **kwargs)
                if force:
                    out = _force(out)
                sp["out"] = out
            return out

        return traced

    def install(self) -> None:
        for mod_name, attr, layer, force in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._installed.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(orig, layer, meth, force))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, layer, attr, force)
            # rebind every `from module import name` copy as well
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("nexgap_spark") and \
                        getattr(m, attr, None) is orig:
                    self._installed.append((m, attr, orig))
                    setattr(m, attr, wrapped)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._installed):
            setattr(obj, attr, orig)
        self._installed.clear()

    def job_spans(self, job: int) -> list[dict]:
        return [s for s in self.spans if s["job"] == job]

    def release(self, job: int) -> None:
        """Drop the DataFrames kept on ``job``'s spans."""
        for s in self.job_spans(job):
            s.pop("out", None)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = sum(c["t1"] - c["t0"] for c in children.get(s["id"], []))
        out[s["id"]] = max(0.0, (s["t1"] - s["t0"]) - covered)
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_event_log(path: str, windows: list[tuple[float, float]]
                   ) -> tuple[dict[str, float], dict[str, float]]:
    """Sum Spark's own task, stage and SQL metrics over the jobs submitted
    inside ``windows`` (epoch seconds, one per traced job). Times are in
    seconds, sizes in bytes, memory in MB. Also returns the task run time
    per job group, i.e. per span id."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"t0": ev["Submission Time"] / 1000.0, "t1": None,
                                      "group": (ev.get("Properties") or {}).get(
                                          "spark.jobGroup.id")}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)

    def in_window(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    keep = {j for j, v in jobs.items() if in_window(v["t0"]) and v["t1"] is not None}
    stages = {s for s, j in stage_job.items() if j in keep}
    m = dict.fromkeys(
        ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures",
         "spark.sched_delay_s", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
         "spark.scan_s", "spark.scan_bytes", "spark.shuffle_write_bytes",
         "spark.shuffle_fetch_wait_s", "spark.spill_bytes", "spark.python_s",
         "spark.python_boot_s", "spark.python_bytes", "spark.output_bytes",
         "spark.peak_exec_mem_mb"), 0.0)
    m["spark.jobs"] = float(len(keep))
    m["spark.stages"] = float(len(stages))
    by_group: dict[str, float] = {}
    for ev in tasks:
        if ev.get("Stage ID") not in stages:
            continue
        info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        group = jobs[stage_job[ev["Stage ID"]]]["group"] or ""
        by_group[group] = by_group.get(group, 0.0) + tm.get("Executor Run Time", 0) / 1000.0
        m["spark.tasks"] += 1
        m["spark.task_failures"] += bool(info.get("Failed"))
        run_ms = tm.get("Executor Run Time", 0)
        dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        m["spark.sched_delay_s"] += max(
            0, dur_ms - run_ms - tm.get("Executor Deserialize Time", 0)
            - tm.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0)
        ) / 1000.0
        m["spark.task_run_s"] += run_ms / 1000.0
        m["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        m["spark.scan_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        m["spark.output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        m["spark.shuffle_write_bytes"] += (
            (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
        m["spark.shuffle_fetch_wait_s"] += (
            (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000.0)
        m["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0)
        m["spark.peak_exec_mem_mb"] = max(
            m["spark.peak_exec_mem_mb"], tm.get("Peak Execution Memory", 0) / 2**20)
        for acc in info.get("Accumulables", []):
            name, upd = acc.get("Name", ""), acc.get("Update")
            try:
                upd = float(upd)
            except (TypeError, ValueError):
                continue
            if name == "scan time":
                m["spark.scan_s"] += upd / 1000.0
            elif name == "time to run Python workers":
                m["spark.python_s"] += upd / 1000.0
            elif name in ("time to start Python workers", "time to initialize Python workers"):
                m["spark.python_boot_s"] += upd / 1000.0
            elif name in ("data sent to Python workers", "data returned from Python workers"):
                m["spark.python_bytes"] += upd
    intervals = [(jobs[j]["t0"], jobs[j]["t1"]) for j in keep]
    wall = sum(b - a for a, b in windows)
    m["spark.driver_s"] = max(0.0, wall - _union_len(intervals))
    return m, by_group
