"""Spans around the program's public calls, and Spark event-log totals.

Tracing is installed only for a traced run (``--trace 1``):
``Tracer.install`` wraps public functions of ``rounds``, ``storage`` and
``frontier`` in place, so every call records a span into an in-memory list.
Nothing is written while the workload runs; the spans are turned into
per-layer metrics when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from typing import Dict, List, Optional

# frontier.py plan builders; rounds.py imported them by name, so both
# modules' bindings are wrapped
FRONTIER_FNS = ("seeds_to_frontier", "apply_robots", "select_topk_per_host",
                "fetch_and_husk", "discover_links", "probe_seen",
                "to_extracted")
PHASES = ("plan", "fetch_extract_write", "flog_discover_frontier",
          "pending_blooms_stats", "metrics")
STORAGE_APPEND = ("extracted", "frontier", "fetchlog", "metrics")
STORAGE_REPLACE = ("pending", "seen")


class Tracer:
    """Spans (name, start, end, attributes) recorded in memory by wrapped
    public calls; reduced to per-layer metrics when the run ends."""

    def __init__(self) -> None:
        self.spans: List[dict] = []

    def install(self) -> None:
        """Wrap the public calls of the crawl layers, in place."""
        from sparkcrawl import frontier, rounds, storage
        self._wrap(rounds.CrawlEngine, "init", "rounds.init")
        self._wrap(rounds.CrawlEngine, "run_round", "rounds.round")
        for meth in ("append", "replace", "commit_empty", "read", "read_new"):
            self._wrap(storage.IcebergishTable, meth, f"storage.{meth}",
                       table_attr=True)
        for fn in FRONTIER_FNS:
            self._wrap(frontier, fn, "frontier.plan")
            if hasattr(rounds, fn):
                setattr(rounds, fn, getattr(frontier, fn))

    def _wrap(self, owner, attr: str, name: str,
              table_attr: bool = False) -> None:
        fn = getattr(owner, attr)
        spans = self.spans

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                span = {"name": name, "t0": t0, "t1": time.time()}
                if table_attr:  # IcebergishTable method: which table
                    span["table"] = os.path.basename(args[0].path.rstrip("/"))
                spans.append(span)

        setattr(owner, attr, traced)

    def _select(self, t_lo: float, t_hi: float, name: str, **match) -> list:
        return [s for s in self.spans if s["name"] == name
                and t_lo <= s["t0"] <= t_hi
                and all(s.get(k) == v for k, v in match.items())]

    def _busy(self, t_lo: float, t_hi: float, name: str, **match) -> float:
        return sum(s["t1"] - s["t0"]
                   for s in self._select(t_lo, t_hi, name, **match))

    def layer_metrics(self, t_lo: float, t_hi: float, summaries: List[dict],
                      workdirs: List[str]) -> Dict[str, float]:
        """Per-layer metrics of the crawl layers from the spans started in
        the timed window [t_lo, t_hi] (epoch seconds).  Concurrent calls
        each count their own duration, so a sum is busy time, not wall."""
        busy = functools.partial(self._busy, t_lo, t_hi)
        m = {
            "rounds.init_s": busy("rounds.init"),
            "rounds.round_s": busy("rounds.round"),
            "frontier.plan_s": busy("frontier.plan"),
            "storage.read_s": busy("storage.read") + busy("storage.read_new"),
            "storage.commits": float(sum(
                len(self._select(t_lo, t_hi, f"storage.{op}"))
                for op in ("append", "replace", "commit_empty"))),
            "storage.bytes_written": float(sum(_du(w) for w in workdirs)),
        }
        for ph in PHASES:
            m[f"rounds.phase.{ph}_s"] = sum(
                s["phase_ms"].get(ph, 0) for s in summaries) / 1000.0
        for tbl in STORAGE_APPEND:
            m[f"storage.{tbl}.append_s"] = busy("storage.append", table=tbl)
        for tbl in STORAGE_REPLACE:
            m[f"storage.{tbl}.replace_s"] = busy("storage.replace", table=tbl)
        return m

    def round_windows(self, t_lo: float, t_hi: float) -> List[tuple]:
        return sorted((s["t0"], s["t1"])
                      for s in self._select(t_lo, t_hi, "rounds.round"))


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ------------------------------------------------------------ event log
SPARK_KEYS = ("jobs", "stages", "tasks", "single_task_stages",
              "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb")


def read_event_log(log_dir: str) -> List[dict]:
    """Every event under ``log_dir``: a plain log file, or the rolling
    ``eventlog_v2_*/events_<n>_*`` files Spark 4 writes by default."""
    paths = []
    for dirpath, _, files in os.walk(log_dir):
        paths += [os.path.join(dirpath, f) for f in files
                  if not f.startswith((".", "appstatus"))]
    events = []
    for path in sorted(paths, key=_event_file_order):
        with open(path, encoding="utf-8") as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _event_file_order(path: str) -> tuple:
    parts = os.path.basename(path).split("_")
    return (int(parts[1]) if parts[0] == "events" and parts[1].isdigit()
            else 0, path)


def spark_metrics(events: List[dict], t_lo: float, t_hi: float,
                  rounds: Optional[List[tuple]] = None) -> Dict[str, float]:
    """Totals over the jobs submitted inside [t_lo, t_hi], and the mean
    number of jobs whose submission falls inside a ``run_round`` span.

    Engine jobs start on ThreadPoolExecutor threads, which carry no job
    group, so jobs are attributed to rounds by submission time."""
    lo_ms, hi_ms = t_lo * 1000.0, t_hi * 1000.0
    job_times, stages = [], set()
    for e in events:
        if (e.get("Event") == "SparkListenerJobStart"
                and lo_ms <= e["Submission Time"] <= hi_ms):
            job_times.append(e["Submission Time"] / 1000.0)
            stages.update(s["Stage ID"] for s in e["Stage Infos"])
    m = dict.fromkeys(SPARK_KEYS, 0.0)
    m["jobs"] = float(len(job_times))
    mb = 1024.0 * 1024.0
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stages and "Completion Time" in info:
                m["stages"] += 1
                m["single_task_stages"] += info["Number of Tasks"] == 1
        elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stages:
            tm = e.get("Task Metrics") or {}
            m["tasks"] += 1
            m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / mb
            m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0)) / mb
    out = {f"spark.{k}": float(v) for k, v in m.items()}
    if rounds:
        per = [sum(1 for t in job_times if a <= t <= b) for a, b in rounds]
        out["rounds.jobs_per_round"] = sum(per) / len(per)
    else:
        out["rounds.jobs_per_round"] = 0.0
    return out
