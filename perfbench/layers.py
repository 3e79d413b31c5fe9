"""Layer measurements taken from outside the engine.

* :class:`Tracer` keeps spans (name, start, end, parent, op id) in memory
  around the benchmark's own calls into engine modules; ``wrap_layers``
  patches the names the engine binds so that calls made *inside* the engine
  (``catalog.load_table``, the pipeline's sources, cleaning and sinks) get
  spans too.
* :func:`event_log_layers` reads the Spark event log of a traced run, keyed
  by the job group the benchmark sets for each op.
* :class:`ProcTree` reads CPU time and resident memory of this process and
  all its descendants (driver, JVM, Python workers) from ``/proc``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
import types
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **facts):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **facts,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover,
        summed over spans of the given ops."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["op"] in ops:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["op"] in ops:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _wrap(tracer: Tracer, name: str, fn, on_result=None):
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(rec, out)
            return out

    wrapper.__wrapped__ = fn
    return wrapper


def wrap_layers(tracer: Tracer) -> None:
    """Patch, in every loaded engine module, the module-level names that are
    bound to the engine's layer entry points. Callers bind them by name
    (``from ..catalog import load_table``), so each binding is patched."""
    from zylyty_data_engineer_challenge_spark import catalog, pipeline
    from zylyty_data_engineer_challenge_spark.etl import clean
    from zylyty_data_engineer_challenge_spark.sinks import jdbc
    from zylyty_data_engineer_challenge_spark.sources import http_csv, rest_pages

    def rows_written(rec, out):
        rec["rows"] = sum(out.values())

    targets = {
        catalog.load_table: _wrap(tracer, "catalog.load_table", catalog.load_table),
        http_csv.fetch_csv: _wrap(tracer, "sources.fetch_csv", http_csv.fetch_csv),
        rest_pages.read_transactions: _wrap(
            tracer, "sources.read_transactions", rest_pages.read_transactions
        ),
        clean.clean_transactions: _wrap(tracer, "etl.clean", clean.clean_transactions),
        jdbc.insert_data_to_tables: _wrap(
            tracer, "sinks.jdbc.write", jdbc.insert_data_to_tables, rows_written
        ),
        jdbc.create_views: _wrap(tracer, "sinks.jdbc.create_views", jdbc.create_views),
    }
    prefix = "zylyty_data_engineer_challenge_spark"
    modules = [m for n, m in list(sys.modules.items()) if n.startswith(prefix) and m]
    for mod in modules + [pipeline]:
        for attr, val in list(vars(mod).items()):
            if isinstance(val, types.FunctionType) and val in targets:
                setattr(mod, attr, targets[val])


class StreamListener:
    """Collects micro-batch progress from a ``StreamingQueryListener``."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        sink = self.batches

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append({
                    "time": time.time(),
                    "rows": p.numInputRows,
                    "ms": p.batchDuration,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)


def event_log_layers(log_dir: str, groups: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per job group (one per timed op): jobs, stages, tasks, stage-busy and
    driver-gap seconds, executor run and CPU seconds, shuffle, spill and
    output bytes, failed tasks, and the SQL metrics of Python/Arrow nodes.

    ``groups`` maps each job group to the wall interval (epoch seconds) of
    its op; the driver gap is that interval minus the union of its stages'
    intervals.
    """
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    python_acc: set[int] = set()
    out: dict[str, dict] = {g: defaultdict(float) for g in groups}
    intervals: dict[str, list] = defaultdict(list)

    def plan_metrics(info: dict) -> None:
        name = info.get("nodeName", "")
        if any(k in name for k in ("Python", "Pandas", "Arrow")):
            for m in info.get("metrics", []):
                python_acc.add(m["accumulatorId"])
        for c in info.get("children", []):
            plan_metrics(c)

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g in out:
                        job_group[ev["Job ID"]] = g
                        out[g]["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = g
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    plan_metrics(ev.get("sparkPlanInfo", {}))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g and "Submission Time" in info and "Completion Time" in info:
                        out[g]["stages"] += 1
                        intervals[g].append(
                            (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if not g:
                        continue
                    r = out[g]
                    r["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        r["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    r["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics", {})
                    r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    r["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    r["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("ID") in python_acc and acc.get("Update") is not None:
                            key = {
                                "data sent to Python workers": "python_bytes_in",
                                "data returned from Python workers": "python_bytes_out",
                                "number of output rows": "python_rows_in",
                            }.get(acc.get("Name"))
                            if key:
                                r[key] += float(acc["Update"])
    for g, (t0, t1) in groups.items():
        busy = _union(intervals[g], t0, t1)
        out[g]["stage_busy_s"] = busy
        out[g]["driver_gap_s"] = max(0.0, (t1 - t0) - busy)
    return {g: dict(v) for g, v in out.items()}


def _union(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class ProcTree:
    """CPU seconds and resident memory of this process and its descendants.

    Read from ``/proc`` (no psutil here): utime+stime of every live process
    in the tree, plus the cutime+cstime each one has collected from children
    that already exited.
    """

    def __init__(self) -> None:
        self.tick = os.sysconf("SC_CLK_TCK")
        self.root = os.getpid()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children[ppid].append(int(d))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def cpu_s(self) -> float:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15])
        return total / self.tick

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's peak resident set."""
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total / 1024
