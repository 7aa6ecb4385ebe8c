"""Layer tracing from outside the library.

While installed, a :class:`Tracer` replaces the public entry points of each
layer module with wrappers that open a span (layer, name, start, end,
parent span) and tag every Spark job submitted inside it with the span's
job group.  After the run, Spark's own event log supplies per-job and
per-task counters, which are summed per span and per layer:

* a job belongs to the innermost span open when it was submitted, i.e. to
  the layer whose public function (or whose lazy result, materialised by
  the benchmark inside a span of that layer) ran it;
* inside ``CrawlEngine.run_wave`` the gate, the politeness schedule and the
  fetch are lazy plans that run inside the StateStore writes of the wave's
  staging tables, so each stage of a job inside a wave is attributed by the
  plan operators it ran (matched through the SQL metrics its tasks
  updated; a broadcast build counts for the join it feeds): the fetch
  ``MapInPandas`` goes to ``fetch``, operators over the politeness
  schedule's columns (robots rules, host budgets, ``sched_rank``) to
  ``politeness``, the ``url_hash`` left-anti join to ``frontier_dedup``,
  and everything else to the span's own layer.

Nothing here changes the library; the wrappers call the originals.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import re
import time

LAYERS = ("session", "frontier", "frontier_dedup", "politeness", "fetch",
          "statestore", "warc", "dedup", "similarity")

# (module, attribute path, layer): every call through these names is a span
TARGETS = [
    ("httpz_spark.plans.frontier", "CrawlEngine.run_wave", "frontier"),
    ("httpz_spark.operators.frontier_dedup", "dedup_unseen", "frontier_dedup"),
    ("httpz_spark.plans.frontier", "dedup_unseen", "frontier_dedup"),
    ("httpz_spark.operators.frontier_dedup", "BloomIndex.update", "frontier_dedup"),
    ("httpz_spark.operators.frontier_dedup", "BloomIndex.probe", "frontier_dedup"),
    ("httpz_spark.operators.frontier_dedup", "CuckooIndex.update", "frontier_dedup"),
    ("httpz_spark.operators.frontier_dedup", "CuckooIndex.probe", "frontier_dedup"),
    ("httpz_spark.operators.frontier_dedup", "CuckooIndex.delete", "frontier_dedup"),
    ("httpz_spark.plans.statestore", "StateStore.merge_upsert", "statestore"),
    ("httpz_spark.plans.statestore", "StateStore.merge_delete", "statestore"),
    ("httpz_spark.plans.statestore", "StateStore.read", "statestore"),
    ("httpz_spark.plans.statestore", "StateStore.write", "statestore"),
    ("httpz_spark.plans.statestore", "StateStore.append", "statestore"),
    ("httpz_spark.operators.politeness", "politeness_schedule", "politeness"),
    ("httpz_spark.plans.frontier", "politeness_schedule", "politeness"),
    ("httpz_spark.operators.fetch", "make_fetch_stage", "fetch"),
    ("httpz_spark.plans.frontier", "make_fetch_stage", "fetch"),
    ("httpz_spark.sources.warc", "write_warc", "warc"),
    ("httpz_spark.sources.warc", "read_warc", "warc"),
    ("httpz_spark.operators.dedup", "ngram_jaccard_pairs", "dedup"),
    ("httpz_spark.operators.dedup", "winnow_dup_pairs", "dedup"),
    ("httpz_spark.operators.similarity", "pq_adc_topk", "similarity"),
]

# per-layer counters every layer reports, with their units
COUNTERS = {"jobs": "count", "executor_cpu_s": "s", "shuffle_write_bytes": "B",
            "shuffle_read_bytes": "B", "spill_bytes": "B"}

# columns politeness_schedule / aimd_host_budgets introduce (exprIds follow)
_POLITENESS_COLS = re.compile(
    r"\b(_rhost|_rules|_budget|_abhost|_abudget|_pb|_hb|_lr|_off|sched_rank"
    r"|_med|_nto|_old)#")
_INDEX_MUTATIONS = ("BloomIndex.update", "CuckooIndex.update", "CuckooIndex.delete")

_MERGES = ("StateStore.merge_upsert", "StateStore.merge_delete")
_WRITES = ("StateStore.write", "StateStore.append")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "layer": layer, "name": name, "t0": time.time()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sid) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            s = self.spans[sid]
            self.sc.setJobGroup(f"perfbench-{sid}", f"{s['layer']}/{s['name']}")

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer, name) as rec:
                out = fn(*args, **kwargs)
                _annotate(rec, name, args, out)
                return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def installed(self):
        undo = []
        try:
            for mod_name, path, layer in TARGETS:
                owner = importlib.import_module(mod_name)
                *outer, attr = path.split(".")
                for part in outer:
                    owner = getattr(owner, part)
                orig = owner.__dict__[attr]
                setattr(owner, attr, self._wrap(orig, layer, path))
                undo.append((owner, attr, orig))
            yield self
        finally:
            for owner, attr, orig in reversed(undo):
                setattr(owner, attr, orig)


def _annotate(rec: dict, name: str, args: tuple, out) -> None:
    """Counts only visible at the call boundary."""
    if name == "CrawlEngine.run_wave" and isinstance(out, dict):
        rec["n_fetched"] = out.get("n_fetched", 0)
    elif name in ("StateStore.merge_upsert", "StateStore.append"):
        store, table = args[0], args[1]
        deltas = store._read_manifest(table, out)["deltas"]
        rec["compacted"] = len(deltas) == 1 and deltas[0].endswith("-compact")


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def read_event_log(ev_dir: str) -> dict:
    """Jobs (group, submit/end s, stage ids), stages (operator scopes, SQL
    metric accumulator ids, submit/end s, per-task metrics) and the SQL
    plan nodes (every plan and adaptive re-plan, with the accumulator ids
    of each node's metrics) from the Spark event log files under
    ``ev_dir``."""
    jobs, stages, nodes, acc_node = {}, {}, [], {}

    def add_plan(info: dict, parent) -> None:
        idx = len(nodes)
        nodes.append({"name": info["nodeName"], "desc": info["simpleString"],
                      "parent": parent})
        for m in info.get("metrics", []):
            acc_node[m["accumulatorId"]] = idx
        for child in info.get("children", []):
            add_plan(child, idx)

    for path in sorted(glob.glob(os.path.join(ev_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if "sparkPlanInfo" in e:  # SQL execution start / AQE update
                    add_plan(e["sparkPlanInfo"], None)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], {"scopes": set(), "tasks": []})
                    st["accs"] = [a["ID"] for a in info.get("Accumulables", [])]
                    st["t0"] = info.get("Submission Time", 0) / 1000.0
                    st["t1"] = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": e["Submission Time"] / 1000.0,
                        "stages": e["Stage IDs"], "end": None}
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    scopes = set()
                    for rdd in info.get("RDD Info", []):
                        if rdd.get("Scope"):
                            scopes.add(json.loads(rdd["Scope"])["name"])
                    stages.setdefault(info["Stage ID"], {"tasks": []})["scopes"] = scopes
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    stages.setdefault(e["Stage ID"], {"scopes": set(), "tasks": []})[
                        "tasks"].append({
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "sh_w": sw.get("Shuffle Bytes Written", 0),
                            "sh_w_rec": sw.get("Shuffle Records Written", 0),
                            "sh_r": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "sh_r_rec": sr.get("Total Records Read", 0),
                            "spill": m.get("Disk Bytes Spilled", 0),
                            "in_rec": m.get("Input Metrics", {}).get("Records Read", 0),
                            "out_b": m.get("Output Metrics", {}).get("Bytes Written", 0),
                            "out_rec": m.get("Output Metrics", {}).get("Records Written", 0),
                        })
    return {"jobs": jobs, "stages": stages, "nodes": nodes, "acc_node": acc_node}


def stage_ops(events: dict, st: dict) -> list:
    """The plan operators a stage ran -- the nodes whose SQL metrics its
    tasks updated -- plus, when the stage builds a broadcast, the join the
    broadcast feeds."""
    nodes, acc_node = events["nodes"], events["acc_node"]
    idxs = {acc_node[a] for a in st.get("accs", ()) if a in acc_node}
    ops = [nodes[i] for i in idxs]
    for i in idxs:
        p = nodes[i]["parent"]
        if p in idxs or nodes[i]["name"] == "Exchange":
            continue  # not the stage's top, or the top writes a shuffle
        through_broadcast = False
        while p is not None:
            name = nodes[p]["name"]
            if name == "BroadcastExchange":
                through_broadcast = True
            elif through_broadcast and name.endswith("Join"):
                ops.append(nodes[p])
                break
            elif name == "Exchange":
                break
            p = nodes[p]["parent"]
    return ops


def wave_stage_layer(ops: list) -> str | None:
    """The layer a stage inside ``CrawlEngine.run_wave`` worked for, or
    None for the layer of the span that ran it."""
    if any(o["name"] == "MapInPandas" for o in ops):
        return "fetch"
    if any(_POLITENESS_COLS.search(o["desc"]) for o in ops):
        return "politeness"
    if any(o["name"].endswith("Join") and "LeftAnti" in o["desc"]
           and "url_hash#" in o["desc"] for o in ops):
        return "frontier_dedup"
    return None


def _union_s(intervals: list) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(tracer: Tracer, events: dict, specific: dict) -> dict:
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def ancestors(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    def in_wave(sid) -> bool:
        return any(s["name"] == "CrawlEngine.run_wave" for s in ancestors(sid))

    # attribute every job and stage of the traced body to a layer
    totals = {layer: {"jobs": 0, "core_s": 0.0, "sh_w": 0, "sh_r": 0, "spill": 0}
              for layer in LAYERS}
    span_jobs: dict = {}
    stage_layer: dict = {}
    stage_span: dict = {}
    for jid, job in sorted(events["jobs"].items()):
        g = job["group"] or ""
        if not g.startswith("perfbench-"):
            continue
        sid = int(g.split("-", 1)[1])
        job["span"] = sid
        span_jobs.setdefault(sid, []).append(jid)
        wave = in_wave(sid)
        job_layers = set()
        for st_id in job["stages"]:
            st = events["stages"].get(st_id)
            if st is None:
                continue  # skipped: its output was reused
            lay = by_id[sid]["layer"]
            if wave:
                lay = wave_stage_layer(stage_ops(events, st)) or lay
            stage_layer[st_id] = lay
            stage_span[st_id] = sid
            job_layers.add(lay)
            for t in st["tasks"]:
                tot = totals[lay]
                tot["core_s"] += t["run_s"]
                tot["sh_w"] += t["sh_w"]
                tot["sh_r"] += t["sh_r"]
                tot["spill"] += t["spill"]
        # a job counts once for every layer one of its stages worked for
        for lay in job_layers or {by_id[sid]["layer"]}:
            totals[lay]["jobs"] += 1

    out = {}
    for layer, tot in totals.items():
        out[f"{layer}.jobs"] = float(tot["jobs"])
        out[f"{layer}.executor_cpu_s"] = tot["core_s"]
        out[f"{layer}.shuffle_write_bytes"] = float(tot["sh_w"])
        out[f"{layer}.shuffle_read_bytes"] = float(tot["sh_r"])
        out[f"{layer}.spill_bytes"] = float(tot["spill"])

    def subtree_jobs(sid) -> list:
        todo, acc = [sid], []
        while todo:
            s = todo.pop()
            acc.extend(span_jobs.get(s, []))
            todo.extend(c["id"] for c in spans if c["parent"] == s)
        return acc

    def dur(s) -> float:
        return s["t1"] - s["t0"]

    def outermost(names) -> list:
        return [s for s in spans if s["name"] in names
                and not any(a["name"] in names for a in ancestors(s["parent"]))]

    def tasks_of(job_ids, pred=lambda st_id: True):
        for jid in job_ids:
            for st_id in events["jobs"][jid]["stages"]:
                if pred(st_id) and st_id in events["stages"]:
                    yield from events["stages"][st_id]["tasks"]

    # frontier: jobs and driver-only time per wave
    waves = [s for s in spans if s["name"] == "CrawlEngine.run_wave"]
    n_w = max(1, len(waves))
    gap = jobs_w = 0.0
    for w in waves:
        jids = subtree_jobs(w["id"])
        jobs_w += len(jids)
        busy = _union_s([(max(w["t0"], events["jobs"][j]["submit"]),
                          min(w["t1"], events["jobs"][j]["end"] or w["t1"]))
                         for j in jids])
        gap += dur(w) - busy
    out["frontier.jobs_per_wave"] = jobs_w / n_w
    out["frontier.driver_gap_s_per_wave"] = gap / n_w

    # statestore
    ss_jobs = [j for j, job in events["jobs"].items()
               if "span" in job and by_id[job["span"]]["layer"] == "statestore"]
    ss_tasks = list(tasks_of(ss_jobs, lambda st: stage_layer.get(st) == "statestore"))
    out["statestore.merge_s"] = sum(dur(s) for s in outermost(_MERGES))
    out["statestore.write_s"] = sum(dur(s) for s in outermost(_WRITES))
    out["statestore.read_resolve_s"] = sum(
        dur(s) for s in outermost(("StateStore.read",))
        if not any(a["layer"] == "statestore" for a in ancestors(s["parent"])))
    out["statestore.bytes_written"] = float(sum(t["out_b"] for t in ss_tasks))
    out["statestore.files_written"] = float(sum(1 for t in ss_tasks if t["out_rec"] > 0))
    out["statestore.compactions"] = float(sum(1 for s in spans if s.get("compacted")))

    # frontier_dedup: the gate is the benchmark's gate spans plus, inside
    # waves, the stages attributed to the anti-join; the index mutations
    # are spans of their own
    gates = [s for s in spans if s["layer"] == "frontier_dedup" and s["name"] == "gate"]
    gate_stages = [st_id for st_id, lay in stage_layer.items()
                   if lay == "frontier_dedup"
                   and by_id[stage_span[st_id]]["name"] not in _INDEX_MUTATIONS]
    wave_gate_s = _union_s([(events["stages"][st]["t0"], events["stages"][st]["t1"])
                            for st in gate_stages if in_wave(stage_span[st])])
    out["frontier_dedup.probe_s"] = sum(dur(s) for s in gates) + wave_gate_s
    out["frontier_dedup.update_s"] = sum(dur(s) for s in outermost(
        ("BloomIndex.update", "CuckooIndex.update")))
    out["frontier_dedup.delete_s"] = sum(dur(s) for s in outermost(("CuckooIndex.delete",)))
    out["frontier_dedup.seen_rows_scanned"] = float(
        sum(t["in_rec"] for st in gate_stages for t in events["stages"][st]["tasks"]))

    # fetch: URLs per task-second of the fetch stages
    n_fetched = sum(w.get("n_fetched", 0) for w in waves)
    out["fetch.urls_per_core_s"] = (n_fetched / totals["fetch"]["core_s"]
                                    if totals["fetch"]["core_s"] else 0.0)

    # warc: writer balance from the records each task of the writer stage
    # (the MapInArrow after the per-file exchange) read from the shuffle
    w_spans = [s for s in spans if s["layer"] == "warc" and s["name"] == "write"]
    r_spans = [s for s in spans if s["layer"] == "warc" and s["name"] == "read"]
    out["warc.write_s"] = sum(dur(s) for s in w_spans)
    out["warc.read_s"] = sum(dur(s) for s in r_spans)
    skews, empty = [], 0
    for s in w_spans:
        for jid in subtree_jobs(s["id"]):
            for st_id in events["jobs"][jid]["stages"]:
                st = events["stages"].get(st_id, {})
                recs = [t["sh_r_rec"] for t in st.get("tasks", [])]
                if "MapInArrow" not in st.get("scopes", ()) or not sum(recs):
                    continue
                skews.append(max(recs) / (sum(recs) / len(recs)))
                empty += sum(1 for r in recs if r == 0)
    out["warc.write_task_skew"] = sum(skews) / len(skews) if skews else 0.0
    out["warc.empty_files"] = float(empty)

    # dedup / similarity
    dd_jobs = [j for s in spans if s["layer"] == "dedup" for j in span_jobs.get(s["id"], [])]
    out["dedup.shuffle_records"] = float(sum(t["sh_w_rec"] for t in tasks_of(dd_jobs)))
    out["similarity.pq_adc_s"] = sum(
        dur(s) for s in spans if s["layer"] == "similarity" and s["parent"] is None)

    # workload-side counters; layers a workload never calls read 0
    for name in ("frontier.deferred_frac", "frontier_dedup.maybe_seen_frac",
                 "frontier_dedup.false_positive_frac", "politeness.scheduled_frac",
                 "politeness.fetch_partition_skew", "fetch.inproc_urls_per_s",
                 "fetch.fallback_frac", "warc.bytes_per_record", "dedup.pairs_out"):
        out[name] = float(specific.get(name, 0.0))
    return out


def write_trace(path: str, tracer: Tracer, events: dict, layers: dict,
                **extra) -> None:
    """Spans with their jobs and summed counters, plus the layer table."""
    per_span = []
    for s in tracer.spans:
        jids = [j for j, job in events["jobs"].items() if job.get("span") == s["id"]]
        tasks = [t for j in jids for st in events["jobs"][j]["stages"]
                 for t in events["stages"].get(st, {}).get("tasks", [])]
        per_span.append({**s, "jobs": jids,
                         "core_s": sum(t["run_s"] for t in tasks),
                         "shuffle_write_bytes": sum(t["sh_w"] for t in tasks),
                         "shuffle_read_bytes": sum(t["sh_r"] for t in tasks),
                         "spill_bytes": sum(t["spill"] for t in tasks)})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": per_span, "layers": layers, **extra}, f, indent=1,
                  default=str)
