"""Spans around calls into the engine's layers, and their attribution
through Spark's event log.

A span records a name, its layer, its parent and its wall interval. While
a span is open, the driver thread's ``perfbench.span`` local property and
its job description carry the span's id, so every Spark job the call
submits is tagged in the event log (call sites alone cannot do this: most
jobs of a pass report no usable ``callSite.short``). After the session
stops, the log is parsed and each job's stages, task metrics and SQL plan
metrics are charged to the innermost span that was open when it started.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time

# the repo's modules, as the per-layer metrics name them
LAYERS = (
    "session",
    "plans.job",
    "operators.extract",
    "operators.rollup",
    "operators.blocks",
    "sources.tables",
    "plans.checkpoint",
    "operators.retention",
    "plans.query",
)

SPAN_FIELDS = (
    "spark_jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        yield {"attrs": attrs}


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _tag(self, span: dict | None) -> None:
        sid = None if span is None else str(span["id"])
        self.sc.setLocalProperty("perfbench.span", sid)
        self.sc.setJobDescription(None if span is None else f"perfbench:{sid}:{span['name']}")

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """A span for work done before the tracer existed (session boot)."""
        self.spans.append({"id": len(self.spans) + 1, "name": name, "layer": layer,
                           "parent": None, "start": start, "end": end, "attrs": {}})

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        s = {
            "id": len(self.spans) + 1,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)


# ---- wrapping the layers' public entry points ----------------------------


def _wrap(tracer, owner, attr: str, layer: str, name=None, on_result=None):
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        label = name(args, kwargs) if name else f"{layer.split('.')[-1]}.{attr}"
        with tracer.span(label, layer) as s:
            out = orig(*args, **kwargs)
            if on_result:
                on_result(s, out)
            return out

    setattr(owner, attr, wrapper)


def _table_span(attr: str, pos: int):
    def name(args, kwargs):
        table = kwargs.get("table", args[pos] if len(args) > pos else "?")
        return f"tables.{attr}[{table}]"
    return name


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public entry points from outside the package."""
    from beamium_spark.operators import blocks as blocks_mod
    from beamium_spark.plans import checkpoint as ckpt_mod
    from beamium_spark.plans import job as job_mod
    from beamium_spark.plans import query as query_mod
    from beamium_spark.sources import tables as tables_mod

    job = job_mod.RollupJob
    _wrap(tracer, job, "run", "plans.job", on_result=lambda s, r: s["attrs"].update(
        chunks=r["chunks"], scraped=r.get("scraped", 0), forwarded=r.get("forwarded", 0)))
    _wrap(tracer, job, "pending_chunks", "plans.job", name=lambda a, k: "job.discover")
    _wrap(tracer, job, "apply_retention", "plans.job")
    _wrap(tracer, job, "compact_if_needed", "plans.job")
    # the job module imports these by name, so they are wrapped there
    _wrap(tracer, job_mod, "extract_points", "operators.extract")
    _wrap(tracer, job_mod, "rollup_tier", "operators.rollup")
    _wrap(tracer, job_mod, "rollup_cascade", "operators.rollup")
    _wrap(tracer, job_mod, "encode_blocks", "operators.blocks")
    _wrap(tracer, blocks_mod, "decode_blocks", "operators.blocks")

    def dropped(s, r):
        s["attrs"]["partitions_dropped"] = r.get("expired_partitions", 0)

    _wrap(tracer, job_mod, "ttl_evict", "operators.retention", on_result=dropped)
    _wrap(tracer, job_mod, "size_cap_evict", "operators.retention")

    orig_retry = job_mod.commit_with_retry

    def commit_with_retry(fn, *args, **kwargs):
        with tracer.span("checkpoint.commit_with_retry", "plans.checkpoint") as s:
            s["attrs"]["attempts"] = 0

            def attempt():
                s["attrs"]["attempts"] += 1
                return fn()

            return orig_retry(attempt, *args, **kwargs)

    job_mod.commit_with_retry = commit_with_retry

    store = tables_mod.ParquetTierStore
    for attr, pos in (("write_chunks", 2), ("append", 2), ("read", 1), ("exists", 1),
                      ("delete_where", 1), ("drop_partitions_older_than", 1),
                      ("compact_chunks", 1), ("compact_if_over", 1),
                      ("chunk_file_counts", 1)):
        _wrap(tracer, store, attr, "sources.tables", name=_table_span(attr, pos))
    manifest = ckpt_mod.Manifest
    for attr in ("commit", "record_event", "pending_chunks", "committed_chunks"):
        _wrap(tracer, manifest, attr, "plans.checkpoint")
    _wrap(tracer, query_mod, "query", "plans.query", name=lambda a, k: "query.build")


# ---- event log -----------------------------------------------------------

_LOCATION = re.compile(r"Location: \w+(?:\(\d+ paths?\))?\[([^\],]+)")
_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def _walk(node: dict, out: list) -> None:
    out.append(node)
    for child in node.get("children", ()):
        _walk(child, out)


def scan_table(simple: str) -> str | None:
    """The table (last path component) a ``Scan parquet`` node reads."""
    m = _LOCATION.search(simple)
    return m.group(1).rstrip("/").rsplit("/", 1)[-1] if m else None


def parse_event_log(path: str) -> dict:
    """Jobs, stages, SQL plan nodes and metric values from an uncompressed
    event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    nodes: dict[int, dict] = {}  # accumulator id -> plan node
    execs: dict[int, dict] = {}
    driver_acc: dict[int, float] = {}
    last_acc: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                eid = e["executionId"]
                x = execs.setdefault(eid, {"nodes": []})
                tree: list = []
                _walk(e["sparkPlanInfo"], tree)
                for n in tree:
                    node = {"exec": eid, "name": n["nodeName"].strip(), "simple": n["simpleString"]}
                    if kind.endswith("Start"):
                        x["nodes"].append(node)
                    for m in n.get("metrics", ()):
                        nodes.setdefault(m["accumulatorId"], dict(node, metric=m["name"]))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, val in e["accumUpdates"]:
                    driver_acc[acc] = driver_acc.get(acc, 0) + val
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = props.get("perfbench.span")
                eid = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "span": int(span) if span else None,
                    "exec": int(eid) if eid is not None else None,
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": e["Stage IDs"],
                }
                for sid in e["Stage IDs"]:
                    stages.setdefault(sid, _new_stage(e["Job ID"]))
            elif kind == "SparkListenerStageCompleted":
                # SQL plan metrics arrive as each accumulator's running
                # value at stage end; the stage's share is the increase
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage(None))
                for a in info.get("Accumulables", ()):
                    if a.get("Metadata") != "sql":
                        continue
                    try:
                        value = float(a["Value"])
                    except (TypeError, ValueError):
                        continue
                    st["acc"][a["ID"]] = value - last_acc.get(a["ID"], 0.0)
                    last_acc[a["ID"]] = value
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], _new_stage(None))
                tm = e.get("Task Metrics") or {}
                st["tasks"] += 1
                st["exec_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                st["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                st["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    # a stage belongs to the first job that lists it; later jobs skip it
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            if stages[sid]["job"] is None or stages[sid]["job"] > jid:
                stages[sid]["job"] = jid
    return {"jobs": jobs, "stages": stages, "nodes": nodes, "execs": execs,
            "driver_acc": driver_acc}


def _new_stage(job: int | None) -> dict:
    st = {f: 0 for f in SPAN_FIELDS if f != "spark_jobs"}
    st.update(job=job, acc={})
    return st


def stage_nodes(log: dict, stage: dict) -> list[dict]:
    seen, out = set(), []
    for acc in stage["acc"]:
        n = log["nodes"].get(acc)
        if n is not None and (n["exec"], n["name"], n["simple"]) not in seen:
            seen.add((n["exec"], n["name"], n["simple"]))
            out.append(n)
    return out


def stage_class(nodes: list[dict]) -> str | None:
    """Which operator a stage's work belongs to, from its plan nodes."""
    # the extract explode fans each page out to its metric structs; other
    # explodes (gap-fill grids) are not extraction
    if any(n["name"] == "Generate" and "doc_count" in n["simple"] for n in nodes):
        return "extract"
    for n in nodes:
        if n["name"] == "MapInPandas" and "_encode_partition" in n["simple"]:
            return "encode"
        if n["name"] == "MapInPandas" and "_decode" in n["simple"]:
            return "decode"
    if any(n["name"] in _AGG_NODES for n in nodes):
        return "agg"
    return None


def attribute(spans: list[dict], log: dict) -> dict:
    """Charge every job and stage to the innermost open span; returns
    per-span own and inclusive totals plus per-stage records."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
        s["own"] = {f: 0 for f in SPAN_FIELDS}
        s["execs"] = set()
        s.pop("incl", None)
    for jid, j in log["jobs"].items():
        s = by_id.get(j["span"])
        if s is None:
            continue
        s["own"]["spark_jobs"] += 1
        if j["exec"] is not None:
            s["execs"].add(j["exec"])
    stage_recs = []
    for sid, st in log["stages"].items():
        job = log["jobs"].get(st["job"])
        span = by_id.get(job["span"]) if job else None
        nodes = stage_nodes(log, st)
        rec = {"stage": sid, "span": span["id"] if span else None,
               "class": stage_class(nodes), "nodes": nodes, "st": st}
        stage_recs.append(rec)
        if span is None:
            continue
        for f in SPAN_FIELDS:
            if f != "spark_jobs":
                span["own"][f] += st[f]

    def incl(sid: int) -> dict:
        s = by_id[sid]
        if "incl" not in s:
            tot = dict(s["own"])
            for c in children.get(sid, ()):
                for f, v in incl(c).items():
                    tot[f] += v
            s["incl"] = tot
        return s["incl"]

    for s in spans:
        incl(s["id"])
        dur = s["end"] - s["start"]
        covered = _union([(by_id[c]["start"], by_id[c]["end"]) for c in children.get(s["id"], ())])
        s["wall_s"] = dur
        s["self_s"] = max(0.0, dur - covered)
    return {"by_id": by_id, "children": children, "stages": stage_recs}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def descendants(att: dict, sid: int) -> list[dict]:
    out, todo = [], [sid]
    while todo:
        cur = todo.pop()
        out.append(att["by_id"][cur])
        todo.extend(att["children"].get(cur, ()))
    return out


def span_dump(spans: list[dict]) -> list[dict]:
    keep = ("id", "name", "layer", "parent", "start", "end", "wall_s", "self_s", "own", "incl", "attrs")
    return [{k: s.get(k) for k in keep} for s in spans]
