"""Spans, process-tree RSS sampling and Spark event-log attribution.

A span is (name, start, end, parent, run). ``run`` is the index of the
closed-loop call the span belongs to (``None`` during set-up). Spans live in
memory and are written out with the result file at the end of a run.

With tracing on, every action span tags its Spark jobs through
``setJobGroup``; after the session stops, the uncompressed, non-rolling
event log is read back and each job, stage and task is attached to the
span whose group id it carries.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from the ppid fields in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        children.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the Python driver, the JVM and its Python workers), read from
    ``/proc`` every ``interval`` seconds in a daemon thread.

    A process counts only from its second sample on. The JVM starts
    helper commands with posix_spawn, whose child shares the JVM's
    address space until it execs; counting it would add the whole JVM
    a second time."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_bytes = 0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        me = os.getpid()
        pids = process_tree(me)
        total = 0
        for pid in pids:
            if pid != me and pid not in self._seen:
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except OSError:
                continue
        self._seen = set(pids)
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self.interval)


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and sets no
    job groups, so the untraced metric runs pay nothing for it."""

    def __init__(self, enabled: bool, sc):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.run = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, *, action: bool = False):
        """Record a span; an action span also tags the Spark jobs it
        starts with a job group named after the span (action spans do not
        nest)."""
        if not self.enabled:
            yield
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run,
            "start": time.time(),
            "end": None,
            "action": action,
        }
        self.spans.append(s)
        self._stack.append(s)
        if action:
            self.sc.setJobGroup(f"pb-{s['id']}", name)
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if action:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper, so a
        library function called from inside another library function is
        timed at the call into its module."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


# -- event log ---------------------------------------------------------------

_TASK_SUMS = {
    "executor_run_ms": ("Executor Run Time",),
    "executor_cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_read_local": ("Shuffle Read Metrics", "Local Bytes Read"),
    "shuffle_read_remote": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "mem_spill": ("Memory Bytes Spilled",),
    "disk_spill": ("Disk Bytes Spilled",),
}


def _dig(d: dict, path: tuple) -> int:
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
        if d is None:
            return 0
    return int(d)


def read_event_log(log_dir: str) -> dict:
    """Per job group: job intervals, stage intervals and summed task
    metrics, from the single uncompressed event-log file in ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}

    def grp(gid: str) -> dict:
        return groups.setdefault(
            gid,
            {"jobs": {}, "stages": {}, "tasks": 0, "failed_tasks": 0,
             **{k: 0 for k in _TASK_SUMS}},
        )

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid:
                    job_group[ev["Job ID"]] = gid
                    grp(gid)["jobs"][ev["Job ID"]] = [ev["Submission Time"], None]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_group:
                    groups[job_group[ev["Job ID"]]]["jobs"][ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid:
                    stage_group[ev["Stage Info"]["Stage ID"]] = gid
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                gid = stage_group.get(info["Stage ID"])
                if gid:
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    grp(gid)["stages"][key] = (
                        info.get("Submission Time"), info.get("Completion Time")
                    )
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"])
                if not gid:
                    continue
                g = grp(gid)
                g["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g["failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                for k, path in _TASK_SUMS.items():
                    g[k] += _dig(tm, path)
    return groups


def _union_ms(intervals) -> float:
    """Length of the union of [start, end] intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[0] is not None and i[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(
    spans: list[dict],
    groups: dict,
    *,
    cores: int,
    first_cycle: set,
) -> dict:
    """Per-layer metrics from the spans of the timed calls.

    Timings are medians, over the calls in which a span name occurs, of
    that call's summed duration. Counts and byte totals are summed over
    the calls of the first schedule cycle (``first_cycle``), whose inputs
    the seed fixes, so they repeat exactly between two traced runs of
    one seed."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def wall(s):
        return s["end"] - s["start"]

    def group_of(s):
        return groups.get(f"pb-{s['id']}") if s["action"] else None

    def self_s(s):
        """Wall time covered neither by child spans nor by Spark jobs."""
        covered = [(k["start"] * 1e3, k["end"] * 1e3) for k in children.get(s["id"], [])]
        g = group_of(s)
        if g:
            covered += list(g["jobs"].values())
        return wall(s) - _union_ms(covered) / 1e3

    timed = [s for s in spans if s["run"] is not None]
    per_run: dict[str, dict[int, float]] = {}

    def add(name, run, v):
        per_run.setdefault(name, {}).setdefault(run, 0.0)
        per_run[name][run] += v

    gap = op_wall = 0.0
    for s in timed:
        name = s["name"]
        if name == "engine.validate":
            hit = not any(k["name"] == "plans.compile_plan" for k in children.get(s["id"], []))
            add("engine.validate_ms." + ("hit" if hit else "miss"), s["run"], wall(s) * 1e3)
            continue
        if name in ("plans.parse_rules", "plans.compile_plan"):
            add(name + "_ms", s["run"], wall(s) * 1e3)
            continue
        add(f"{name}.wall_s", s["run"], wall(s))
        add(f"{name}.self_s", s["run"], self_s(s))
        g = group_of(s)
        if g is None:
            continue
        starts = [j[0] for j in g["jobs"].values()]
        plan = max(0.0, min(starts) / 1e3 - s["start"]) if starts else 0.0
        add(f"{name}.plan_s", s["run"], plan)
        add(f"{name}.exec_cpu_s", s["run"], g["executor_cpu_ns"] / 1e9)
        gap += self_s(s) - plan
        op_wall += wall(s)

    out = {name: _median(runs.values()) for name, runs in per_run.items()}
    # driver time inside actions after the first job starts that no job
    # covers: between jobs, and collecting results after the last one
    out["trace.unattributed_share"] = gap / op_wall if op_wall else 0.0

    cyc = [
        group_of(s)
        for s in timed
        if s["action"] and s["run"] in first_cycle and group_of(s)
    ]
    tot = {k: sum(g[k] for g in cyc) for k in _TASK_SUMS}
    shuffle_read = tot["shuffle_read_local"] + tot["shuffle_read_remote"]
    stage_ms = sum(
        _union_ms(g["stages"].values()) for g in cyc
    )
    out.update({
        "spark.jobs": sum(len(g["jobs"]) for g in cyc),
        "spark.stages": sum(len(g["stages"]) for g in cyc),
        "spark.tasks": sum(g["tasks"] for g in cyc),
        "spark.failed_tasks": sum(g["failed_tasks"] for g in cyc),
        "spark.executor_run_s": tot["executor_run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.input_bytes": tot["input_bytes"],
        "spark.output_bytes": tot["output_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": shuffle_read,
        "spark.spill_bytes": tot["mem_spill"] + tot["disk_spill"],
        "spark.shuffle_bytes_per_input_byte": (
            tot["shuffle_write_bytes"] / tot["input_bytes"] if tot["input_bytes"] else 0.0
        ),
        "spark.slot_idle_share": (
            1.0 - tot["executor_run_ms"] / (stage_ms * cores) if stage_ms else 0.0
        ),
    })
    return out


# -- the per-layer metric list (BENCHMARK.json "per_layer" mirrors it) --------

ACTION_OPS = (
    "engine.rule_report", "engine.violations", "engine.write_routed",
    "uniq.duplicate_keys", "uniq.duplicate_keys_salted",
    "refcheck.dangling_span_refs", "refcheck.dangling_ref_counts",
    "drift.numeric_drift", "stats.column_stats",
    "dedup.minhash_dedup_pairs", "dedup.dedup_clusters",
)

PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("plans.parse_rules_ms", "ms"),
    ("plans.compile_plan_ms", "ms"),
    ("engine.validate_ms.hit", "ms"),
    ("engine.validate_ms.miss", "ms"),
    *[(f"{op}.{m}", "s") for op in ACTION_OPS for m in ("wall_s", "plan_s", "exec_cpu_s", "self_s")],
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.shuffle_bytes_per_input_byte", "ratio"),
    ("spark.slot_idle_share", "fraction"),
    ("trace.unattributed_share", "fraction"),
]
