"""Spans around the program's layer entry points, and a fold of Spark's
event log into per-span job, stage and task figures.

Nothing here changes the program: :meth:`Tracer.install` swaps a few
public functions and methods for wrappers that open a span, and
:meth:`Tracer.uninstall` puts the originals back. Each span sets the
Spark job group to its own id, so every job it submits (including async
broadcast jobs, which capture the group) can be tied back to it in the
event log. Spans stay in memory; the benchmark folds them at the end.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    """Spans of the traced operations, and the wrappers that open them.

    Only spans opened while ``active`` is set are recorded; the
    benchmark sets it for the traced operations of a run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans --
    @contextmanager
    def span(self, name: str):
        attrs: dict = {}
        if not self.active:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(_GROUP, f"kgb-{sid}")
        rec["t0"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP, f"kgb-{self._stack[-1]}" if self._stack else None
            )

    # ------------------------------------------------------- wrappers --
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _timed(self, owner, attr: str, name: str, count_result=False):
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name) as a:
                    out = orig(*args, **kwargs)
                    if count_result:
                        a["n"] = len(out)
                    return out
            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        """Wrap the layer entry points the per-layer metrics are cut at."""
        from pyspark.sql.readwriter import DataFrameWriter

        from pyobo_spark.grounding import dictionary
        from pyobo_spark.operators import components, hierarchy
        from pyobo_spark.pipeline.snapshots import SnapshotTable
        from pyobo_spark.pipeline.stages import PipelineRunner

        tracer = self
        self._timed(dictionary, "dictionary_entries", "dictionary.entries",
                    count_result=True)
        self._timed(dictionary, "build_matcher", "dictionary.build")
        self._timed(dictionary, "broadcast_matcher", "dictionary.broadcast")
        self._timed(components, "connected_components", "components.call")
        self._timed(hierarchy, "ancestors", "hierarchy.ancestors")
        self._timed(hierarchy, "descendants", "hierarchy.descendants")
        self._timed(SnapshotTable, "overwrite", "snapshots.commit")
        self._timed(DataFrameWriter, "parquet", "write")

        def make_stage(orig):
            def stage(runner, name, build, *args, **kwargs):
                def traced_build():
                    with tracer.span(f"stage.{name}.build"):
                        return build()

                with tracer.span(f"stage.{name}") as a:
                    out = orig(runner, name, traced_build, *args, **kwargs)
                    res = runner.results[-1]
                    a.update(rows=res.n_rows)
                    return out
            return stage

        self._patch(PipelineRunner, "stage", make_stage)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # --------------------------------------------------------- helpers --
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        return kids

    def subtree(self, sid: int, kids: dict[int, list[int]]) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur, ()))
        return out


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


class EventLog:
    """Jobs, stages and tasks of one application's event log, keyed by
    the job group the tracer set.

    ``jobs``: job id → {"group", "stages"}; ``stages``: stage id →
    task aggregates plus SQL-metric totals keyed by (plan node name,
    metric name); ``below``: accumulator id → the plan-tree rows metric
    of the nearest descendant node that has one (the rows a node took
    in, when it reports none itself)."""

    def __init__(self, log_dir: str):
        files = sorted(
            glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
        ) or sorted(glob.glob(os.path.join(log_dir, "*")))
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(
            lambda: {"tasks": [], "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                     "shuffle_write": 0, "spill": 0, "output_bytes": 0,
                     "sql": defaultdict(int)}
        )
        self.accums: dict[int, tuple[str, str]] = {}
        self.input_rows_of: dict[int, int] = {}
        for path in files:
            if not os.path.isfile(path):
                continue
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, node: dict) -> int | None:
        """Record accumulator names; return the id of this node's (or
        the nearest descendant's) output-row accumulator."""
        rows_id = None
        for m in node.get("metrics", ()):
            self.accums[m["accumulatorId"]] = (node["nodeName"], m["name"])
            if m["name"] == "number of output rows":
                rows_id = m["accumulatorId"]
        below = None
        for child in node.get("children", ()):
            got = self._plan(child)
            if below is None:
                below = got
        if below is not None:
            for m in node.get("metrics", ()):
                self.input_rows_of[m["accumulatorId"]] = below
        return rows_id if rows_id is not None else below

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "group": (e.get("Properties") or {}).get(_GROUP),
                "stages": list(e["Stage IDs"]),
            }
        elif kind == "SparkListenerTaskEnd":
            st = self.stages[e["Stage ID"]]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st["tasks"].append(info["Finish Time"] - info["Launch Time"])
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            st["output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            for a in info.get("Accumulables", ()):
                if a.get("Metadata") == "sql" and "Update" in a:
                    try:
                        st["sql"][a["ID"]] += int(a["Update"])
                    except (TypeError, ValueError):
                        pass

    def jobs_of(self, groups: set[str]) -> list[int]:
        return [j for j, v in self.jobs.items() if v["group"] in groups]

    def stages_of(self, jobs: list[int]) -> list[int]:
        seen: set[int] = set()
        out = []
        for j in jobs:
            for s in self.jobs[j]["stages"]:
                if s not in seen and s in self.stages:
                    seen.add(s)
                    out.append(s)
        return out

    def sql_total(self, stages: list[int], node: str, metric: str) -> int:
        return sum(
            v for s in stages for aid, v in self.stages[s]["sql"].items()
            if self.accums.get(aid) == (node, metric)
        )

    def sql_input_rows(self, stages: list[int], node: str) -> int:
        """Rows fed into every ``node`` in these stages: the output rows
        of the nearest plan descendant that counts them."""
        total = 0
        for s in stages:
            sql = self.stages[s]["sql"]
            for aid in sql:
                if self.accums.get(aid, ("", ""))[0] != node:
                    continue
                src = self.input_rows_of.get(aid)
                if src is not None and self.accums[aid][1] == "number of output rows":
                    total += sql.get(src, 0)
        return total

    def stages_with(self, stages: list[int], node: str) -> list[int]:
        return [s for s in stages
                if any(self.accums.get(a, ("",))[0] == node
                       for a in self.stages[s]["sql"])]
