"""Traced-mode instrumentation: spans around the engine's public entry points
and per-span Spark job accounting from the status REST API.

Only traced runs install the wrappers (``Tracer.installed()``); untraced runs
never import this module's patching and run the engine untouched.

A span records name, start, end, parent span, thread, iteration (run id)
and free-form attributes. Spans are kept in memory and written out once, at
the end of the run. Every span tags its thread's Spark job group with its own
id, and restores the previous group on exit, so each job lands in the
innermost span of the thread that launched it. Under PySpark's pinned-thread
mode local properties are per thread, which lets the crawl's concurrent
commit pool attribute each chain's jobs to its own IceTable span.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"

# IceTable methods that commit a snapshot
ICETABLE_COMMITS = (
    "append",
    "overwrite",
    "append_bucketed_delta",
    "overwrite_bucketed",
    "overwrite_buckets_partial",
    "commit_empty",
)
BLOOM_METHODS = ("build", "merge", "probe")
# functions plans/crawl.py imports by name (wrapped as that module's attributes)
CRAWL_FUNCTIONS = (
    "select_frontier_round",
    "filter_new",
    "filter_new_bucketed",
    "with_global_rank",
    "compacted_frontier",
    "compute_frontier_zones",
)
# what a wrapper records from a call's arguments and result
CAPTURE = {
    "select_frontier_round": lambda args, out: {"info": out[1]},
    "filter_new_bucketed": lambda args, out: {"info": out[1]},
    # the exact path anti-joins against every file of the seen DataFrame
    "filter_new": lambda args, out: {"files_read": len(args[1].inputFiles())},
}


def _dir_files(path: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            try:
                out[full] = os.path.getsize(full)
            except OSError:
                continue
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.iteration = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._next_id = 1

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # a pool thread with no open span of its own hangs off whatever the
        # main thread is inside (the crawl's commit pool runs under run_round)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "iteration": self.iteration,
            "thread": threading.get_ident(),
            "attrs": dict(attrs),
        }
        old_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"pb{sid}")
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, old_group)
            with self._lock:
                self.spans.append(rec)

    # -- wrappers --------------------------------------------------------------

    def _wrap_icetable(self, method: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(tbl, *args, **kwargs):
            meta = kwargs.get("meta")
            if meta is None:
                meta = next((a for a in args if isinstance(a, dict)), None)
            data_before = set(os.listdir(tbl.data_dir))
            meta_before = sum(_dir_files(tbl.meta_dir).values())
            with tracer.span(
                f"icetable.{method}",
                table=os.path.basename(tbl.path.rstrip("/")),
                op=(meta or {}).get("op", method),
            ) as rec:
                out = fn(tbl, *args, **kwargs)
            # file accounting stays outside the timed span
            files: dict[str, int] = {}
            for d in set(os.listdir(tbl.data_dir)) - data_before:
                files.update(_dir_files(os.path.join(tbl.data_dir, d)))
            data = [v for k, v in files.items() if k.endswith(".parquet")]
            rec["attrs"].update(
                files_added=len(data),
                bytes_written=sum(data),
                metadata_bytes=sum(_dir_files(tbl.meta_dir).values()) - meta_before,
            )
            return out

        return wrapper

    def _wrap_plain(self, name: str, fn):
        tracer = self
        capture = CAPTURE.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            if capture is not None:
                rec["attrs"].update(capture(args, out))
            return out

        return wrapper

    @contextmanager
    def installed(self):
        """Patch the entry points for the duration of the block."""
        from paperchase_crawler_spark.operators.seen import BloomSeen
        from paperchase_crawler_spark.plans import crawl as crawl_mod
        from paperchase_crawler_spark.sources.icetable import IceTable

        saved = []
        for m in ICETABLE_COMMITS:
            saved.append((IceTable, m, IceTable.__dict__[m]))
            setattr(IceTable, m, self._wrap_icetable(m, IceTable.__dict__[m]))
        for m in BLOOM_METHODS:
            saved.append((BloomSeen, m, BloomSeen.__dict__[m]))
            setattr(
                BloomSeen, m,
                self._wrap_plain(f"seen.bloom_{m}", BloomSeen.__dict__[m]),
            )
        for name in CRAWL_FUNCTIONS:
            fn = getattr(crawl_mod, name)
            saved.append((crawl_mod, name, fn))
            setattr(crawl_mod, name, self._wrap_plain(name, fn))
        try:
            yield self
        finally:
            for owner, name, orig in reversed(saved):
                setattr(owner, name, orig)

    # -- Spark status REST API -------------------------------------------------

    def _api(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        # never through a proxy: the UI listens on the loopback interface
        opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
        with opener.open(url, timeout=30) as r:
            return json.load(r)

    def collect_jobs(self, max_task_groups: set[str] | None = None) -> dict:
        """Per job group: job count, summed task time, shuffle bytes, failed
        tasks and (for groups in ``max_task_groups``) the longest task.
        Waits for the listener bus to deliver the last job's events first."""
        deadline = time.time() + 10
        while True:
            jobs = self._api("jobs")
            done = all(j["status"] != "RUNNING" for j in jobs)
            if done or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {
            (s["stageId"], s["attemptId"]): s for s in self._api("stages")
        }
        by_stage: dict[int, list[dict]] = {}
        for s in stages.values():
            by_stage.setdefault(s["stageId"], []).append(s)
        out: dict[str, dict] = {}
        for j in jobs:
            g = j.get("jobGroup") or ""
            agg = out.setdefault(
                g,
                {"jobs": 0, "task_ms": 0.0, "shuffle_bytes": 0, "failed_tasks": 0,
                 "max_task_ms": 0.0, "stages": []},
            )
            agg["jobs"] += 1
            agg["failed_tasks"] += j.get("numFailedTasks", 0)
            for sid in j.get("stageIds", []):
                for s in by_stage.get(sid, []):
                    if s["status"] == "SKIPPED":
                        continue
                    agg["task_ms"] += s.get("executorRunTime", 0)
                    agg["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
                    agg["stages"].append((s["stageId"], s["attemptId"]))
        for g in max_task_groups or ():
            agg = out.get(g)
            if not agg:
                continue
            for sid, att in agg["stages"]:
                q = self._api(f"stages/{sid}/{att}/taskSummary?quantiles=1.0")
                agg["max_task_ms"] = max(
                    agg["max_task_ms"], float(q["executorRunTime"][0])
                )
        return out

    # -- roll-ups --------------------------------------------------------------

    def subtree_groups(self, span_id: int) -> set[str]:
        """Job groups of a span and all its descendants."""
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = set(), [span_id]
        while todo:
            sid = todo.pop()
            out.add(f"pb{sid}")
            todo.extend(kids.get(sid, []))
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, default=str)
