"""Per-layer metrics of a traced run: spans from spans.Tracer joined to
Spark's event log. Every figure is per traced operation (a build or
one pass of the lookup mix), averaged over the traced operations of
the run; a layer a workload does not enter reports 0.
"""

from __future__ import annotations

import statistics

from spans import EventLog
from workloads import MIX as API_OPS

STAGES = ("literal_mappings", "mentions", "xrefs_parsed", "components",
          "triples")
MAP_IN_PANDAS = "MapInPandas"


def _dur(span: dict) -> float:
    return span["t1"] - span["t0"]


def per_layer(tracer, log_dir: str, runner, setup: dict) -> dict:
    log = EventLog(log_dir)
    spans = tracer.spans
    kids = tracer.children()
    ops = [s for s in spans if s["name"].startswith("op.")]
    n = max(1, len(ops))
    in_op = {i for o in ops for i in tracer.subtree(o["id"], kids)}
    named = [s for s in spans if s["id"] in in_op]

    def jobs(span_ids) -> list[int]:
        return log.jobs_of({f"kgb-{i}" for i in span_ids})

    def subtree_jobs(span: dict) -> list[int]:
        return jobs(tracer.subtree(span["id"], kids))

    def where(name: str) -> list[dict]:
        return [s for s in named if s["name"] == name]

    def stage_sum(stages: list[int], key: str) -> float:
        return sum(log.stages[s][key] for s in stages)

    m: dict[str, tuple[float, str]] = {}
    for k in ("session.start_s", "setup.inputs_s", "setup.warm_s"):
        m[k] = (setup[k], "s")

    # grounding.dictionary
    for part in ("entries", "build", "broadcast"):
        m[f"dictionary.{part}_s"] = (
            sum(_dur(s) for s in where(f"dictionary.{part}")) / n, "s")
    m["dictionary.n_entries"] = (
        sum(s["attrs"].get("n", 0) for s in where("dictionary.entries")) / n,
        "count")

    # grounding.matcher: MapInPandas stages under the mentions stage or a
    # ground_df call
    grounding = [s for s in named
                 if s["name"] in ("stage.mentions", "api.ground_df")]
    g_stages = log.stages_with(
        log.stages_of([j for s in grounding for j in subtree_jobs(s)]),
        MAP_IN_PANDAS)
    run_ms = stage_sum(g_stages, "run_ms")
    py_ms = log.sql_total(g_stages, MAP_IN_PANDAS, "time to run Python workers")
    tasks = [t for s in g_stages for t in log.stages[s]["tasks"]]
    m["matcher.exec_run_s"] = (run_ms / 1000 / n, "s")
    m["matcher.exec_cpu_s"] = (stage_sum(g_stages, "cpu_ns") / 1e9 / n, "s")
    m["matcher.python_s"] = (py_ms / 1000 / n, "s")
    m["matcher.python_share"] = (py_ms / run_ms if run_ms else 0.0, "ratio")
    m["matcher.task_max_ms"] = (max(tasks, default=0), "ms")
    m["matcher.task_p50_ms"] = (
        statistics.median(tasks) if tasks else 0.0, "ms")
    m["matcher.spans_in"] = (log.sql_input_rows(g_stages, MAP_IN_PANDAS) / n,
                             "count")
    m["matcher.mentions_out"] = (
        log.sql_total(g_stages, MAP_IN_PANDAS, "number of output rows") / n,
        "count")

    # normalize (the xref parse stage's own status counters)
    rows_in = ok = 0
    edges_in = nodes_out = 0
    for o in ops:
        man = o["attrs"].get("manifests", {})
        counts = man.get("xrefs_parsed", {}).get("counters", {}).get(
            "parse_status", {})
        if any(spans[s]["name"] == "stage.xrefs_parsed"
               for s in tracer.subtree(o["id"], kids)):
            rows_in += sum(counts.values())
            ok += counts.get("ok", 0)
        if any(spans[s]["name"] == "components.call"
               for s in tracer.subtree(o["id"], kids)):
            edges_in += counts.get("ok", 0)
            nodes_out += man.get("components", {}).get("n_rows", 0)
    m["normalize.rows_in"] = (rows_in / n, "count")
    m["normalize.ok_frac"] = (ok / rows_in if rows_in else 0.0, "ratio")

    # operators.components
    cc = where("components.call")
    m["components.call_s"] = (sum(_dur(s) for s in cc) / n, "s")
    m["components.jobs"] = (sum(len(subtree_jobs(s)) for s in cc) / n, "count")
    m["components.edges_in"] = (edges_in / n, "count")
    m["components.nodes_out"] = (nodes_out / n, "count")

    # operators.hierarchy: the operator call builds the closure plan (and
    # runs its eager jobs); the closure kernel itself runs when the api
    # call collects, so pairs are counted over the whole api call
    # descendants() calls ancestors(): count only the outer call
    hier = [s for s in named if s["name"].startswith("hierarchy.")
            and not spans[s["parent"]]["name"].startswith("hierarchy.")]
    m["hierarchy.call_s"] = (sum(_dur(s) for s in hier) / n, "s")
    m["hierarchy.jobs"] = (sum(len(subtree_jobs(s)) for s in hier) / n,
                           "count")
    h_api = [s for s in named
             if s["name"] in ("api.get_ancestors", "api.get_descendants")]
    h_stages = log.stages_of([j for s in h_api for j in subtree_jobs(s)])
    pairs = log.sql_total(h_stages, MAP_IN_PANDAS, "number of output rows")
    used = sum(s["attrs"].get("n", 0) for s in h_api)
    m["hierarchy.pairs_computed"] = (pairs / n, "count")
    m["hierarchy.rows_used_frac"] = (used / pairs if pairs else 0.0, "ratio")

    # pipeline.stages
    all_stage_jobs = 0
    book_jobs = 0
    for st in STAGES:
        ss = where(f"stage.{st}")
        wall = build = write = 0.0
        n_jobs = rows = 0
        stage_ids: list[int] = []
        for s in ss:
            sub = tracer.subtree(s["id"], kids)
            b = [spans[i] for i in sub if spans[i]["name"] == f"stage.{st}.build"]
            w = [spans[i] for i in sub if spans[i]["name"] == "write"]
            wall += _dur(s)
            build += sum(_dur(x) for x in b)
            write += sum(_dur(x) for x in w)
            js = jobs(sub)
            inner = {i for x in b + w for i in tracer.subtree(x["id"], kids)}
            book_jobs += len(jobs(set(sub) - inner))
            all_stage_jobs += len(js)
            n_jobs += len(js)
            rows += s["attrs"].get("rows", 0)
            stage_ids += log.stages_of(js)
        pre = f"stage.{st}"
        m[f"{pre}.wall_s"] = (wall / n, "s")
        m[f"{pre}.build_s"] = (build / n, "s")
        m[f"{pre}.write_s"] = (write / n, "s")
        m[f"{pre}.bookkeeping_s"] = ((wall - build - write) / n, "s")
        m[f"{pre}.jobs"] = (n_jobs / n, "count")
        m[f"{pre}.rows"] = (rows / n, "count")
        m[f"{pre}.shuffle_bytes"] = (
            stage_sum(stage_ids, "shuffle_write") / n, "B")
        m[f"{pre}.spill_bytes"] = (stage_sum(stage_ids, "spill") / n, "B")
        m[f"{pre}.gc_s"] = (stage_sum(stage_ids, "gc_ms") / 1000 / n, "s")
    m["pipeline.bookkeeping_jobs_frac"] = (
        book_jobs / all_stage_jobs if all_stage_jobs else 0.0, "ratio")

    # pipeline.snapshots
    snaps = where("snapshots.commit")
    snap_stages = log.stages_of([j for s in snaps for j in subtree_jobs(s)])
    m["snapshots.commit_s"] = (sum(_dur(s) for s in snaps) / n, "s")
    m["snapshots.bytes_written"] = (
        stage_sum(snap_stages, "output_bytes") / n, "B")

    # api: latency and jobs per call
    for op in API_OPS:
        calls = where(f"api.{op}")
        m[f"api.{op}.p50_ms"] = (
            statistics.median(_dur(s) * 1000 for s in calls) if calls else 0.0,
            "ms")
        m[f"api.{op}.jobs"] = (
            statistics.mean(len(subtree_jobs(s)) for s in calls)
            if calls else 0.0, "count")

    # Spark, whole traced operations
    op_jobs = jobs(in_op)
    op_stages = log.stages_of(op_jobs)
    no_task = sum(1 for j in op_jobs
                  if not any(log.stages.get(s, {}).get("tasks")
                             for s in log.jobs[j]["stages"]))
    m["spark.jobs"] = (len(op_jobs) / n, "count")
    m["spark.tasks"] = (
        sum(len(log.stages[s]["tasks"]) for s in op_stages) / n, "count")
    m["spark.executor_run_s"] = (stage_sum(op_stages, "run_ms") / 1000 / n, "s")
    m["spark.executor_cpu_s"] = (stage_sum(op_stages, "cpu_ns") / 1e9 / n, "s")
    m["spark.gc_s"] = (stage_sum(op_stages, "gc_ms") / 1000 / n, "s")
    m["spark.shuffle_write_bytes"] = (
        stage_sum(op_stages, "shuffle_write") / n, "B")
    m["spark.no_task_frac"] = (no_task / len(op_jobs) if op_jobs else 0.0,
                               "ratio")
    plain = [w for t, w, ok in runner.op_walls if not t and ok]
    traced = [w for t, w, ok in runner.op_walls if t and ok]
    m["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(plain) - 1.0
        if plain and traced else 0.0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
