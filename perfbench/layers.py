"""Per-layer metrics of a traced run, computed from its spans and event log.

Time, byte and count metrics are per operation: per pass for the write
path (``plans.job``, ``operators.extract``, ``operators.rollup``, block
encoding, table writes, ``plans.checkpoint``, ``operators.retention``) and
per query for the read path (``plans.query``, block decoding, table reads).
The generic ``<layer>.*`` metrics are per operation of the workload (a tick
or a query). A metric whose operation did not run on a workload reads 0.
"""

from __future__ import annotations

import os

import oracle
from stats import ratio
from tracing import LAYERS, attribute, descendants, scan_table

GENERIC = ("wall_s", "self_s", "exec_run_s", "exec_cpu_s", "gc_s", "spark_jobs", "tasks")
WRITE_TABLES = ("rollup_1m", "rollup_1h", "rollup_1d", "blocks", "chunk_counts",
                "checkpoint_manifest", "run_meta")
QUERY_SHAPES = ("first", "h1_short", "h1_long", "d1", "m1_fill", "rate", "p95", "m4", "fresh")
E2E_UNITS = {"setup_s": "s", "first_op_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}


def metric_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    names = [f"{layer}.{g}" for layer in LAYERS for g in GENERIC]
    names += [
        "session.boot_s", "session.first_job_s",
        "session.old_gen_peak_mb", "session.rss_above_heap_mb",
        "job.discover_s", "job.spark_jobs_per_pass", "job.raw_scans_per_pass",
        "job.raw_rows_per_page",
        "extract.task_s", "extract.rows_out",
        "rollup.tier_1m_task_s", "rollup.shuffle_bytes", "rollup.cascade_s",
        "rollup.cascade_read_ratio",
        "blocks.encode_task_s", "blocks.bytes_per_point", "blocks.decode_task_s",
        "blocks.read_ratio",
    ]
    names += [f"tables.write_s.{t}" for t in WRITE_TABLES]
    names += [
        "tables.files_written", "tables.bytes_written", "tables.max_files_per_chunk",
        "tables.compact_s", "tables.compact_bytes_rewritten",
        "tables.files_read_per_query", "tables.files_read_ratio",
        "checkpoint.commit_s", "checkpoint.commit_attempts",
        "retention.s", "retention.partitions_dropped",
    ]
    names += [f"query.s.{s}" for s in QUERY_SHAPES]
    names += ["query.p75_s", "op.max_s", "query.plan_s", "query.spark_jobs",
              "tables.store_bytes_per_page", "error_rate"]
    names += [f"overhead.{m}" for m in E2E_UNITS]
    return names


def metric_units() -> dict:
    units = {}
    for name in metric_names():
        last = name.rsplit(".", 1)[-1]
        if name.startswith("overhead."):
            units[name] = E2E_UNITS[name.split(".", 1)[1]]
        elif name == "blocks.bytes_per_point":
            units[name] = "B/point"
        elif name == "tables.store_bytes_per_page":
            units[name] = "B/page"
        elif last.endswith("_mb"):
            units[name] = "MB"
        elif last.endswith("_s") or name.startswith(("query.s.", "tables.write_s.")) or name == "retention.s":
            units[name] = "s"
        elif "bytes" in last:
            units[name] = "B"
        elif "ratio" in last or name == "error_rate":
            units[name] = "ratio"
        else:
            units[name] = "count"
    return units


def _sum_spans(spans, pred, key="wall_s") -> float:
    return sum(s[key] for s in spans if pred(s))


def _is_scan(node: dict, table: str | None = None) -> bool:
    return node["name"].startswith("Scan parquet") and (table is None or scan_table(node["simple"]) == table)


def _stage_nodes_metric(rec: dict, node_pred, metric: str) -> float:
    return sum(v for acc, v in rec["st"]["acc"].items()
               if acc in rec["nodes_by_acc"] and rec["nodes_by_acc"][acc]["metric"] == metric
               and node_pred(rec["nodes_by_acc"][acc]))


def report(spans: list[dict], log: dict, ctx: dict) -> dict:
    """``ctx``: ``ops`` (ticks or queries run), ``boot_s``, ``table_files``
    (parquet files per table of the store read), ``blocks_in_range`` per
    query span id, and the run-level ``bytes_per_point``,
    ``max_files_per_chunk``, ``store_bytes_per_page``, ``query_p75_s``,
    ``op_max_s``, ``old_gen_peak_mb``, ``rss_above_heap_mb`` and
    ``error_rate``. The ``overhead.*`` metrics are left at 0 for the caller."""
    att = attribute(spans, log)
    by_id = att["by_id"]
    for rec in att["stages"]:
        rec["nodes_by_acc"] = {acc: log["nodes"][acc] for acc in rec["st"]["acc"] if acc in log["nodes"]}
    out = {name: 0.0 for name in metric_names()}
    n_ops = max(1, ctx["ops"])

    def span_layer(sid):
        return by_id[sid]["layer"] if sid in by_id else None

    def enclosing(sid, pred):
        while sid is not None:
            if pred(by_id[sid]):
                return by_id[sid]
            sid = by_id[sid]["parent"]
        return None

    # stage -> layer: the operator whose plan node it runs, else the span's
    def stage_layer(rec):
        cls = rec["class"]
        if cls == "extract":
            return "operators.extract"
        if cls in ("encode", "decode"):
            return "operators.blocks"
        if cls == "agg" and rec["span"] and by_id[rec["span"]]["name"].startswith("tables.write_chunks[rollup_"):
            return "operators.rollup"
        return span_layer(rec["span"])

    # generic per-layer numbers
    for layer in LAYERS:
        top = [s for s in spans if s["layer"] == layer
               and enclosing(s["parent"], lambda p, _l=layer: p["layer"] == _l) is None]
        out[f"{layer}.wall_s"] = sum(s["wall_s"] for s in top) / n_ops
        out[f"{layer}.self_s"] = _sum_spans(spans, lambda s, _l=layer: s["layer"] == _l, "self_s") / n_ops
        recs = [r for r in att["stages"] if stage_layer(r) == layer]
        out[f"{layer}.exec_run_s"] = sum(r["st"]["exec_run_s"] for r in recs) / n_ops
        out[f"{layer}.exec_cpu_s"] = sum(r["st"]["exec_cpu_s"] for r in recs) / n_ops
        out[f"{layer}.gc_s"] = sum(r["st"]["gc_s"] for r in recs) / n_ops
        out[f"{layer}.tasks"] = sum(r["st"]["tasks"] for r in recs) / n_ops
        out[f"{layer}.spark_jobs"] = sum(s["own"]["spark_jobs"] for s in spans if s["layer"] == layer) / n_ops
    out["session.wall_s"] = out["session.self_s"] = ctx["boot_s"]

    # session
    out["session.boot_s"] = ctx["boot_s"]
    out["session.old_gen_peak_mb"] = ctx["old_gen_peak_mb"]
    out["session.rss_above_heap_mb"] = ctx["rss_above_heap_mb"]
    if log["jobs"]:
        j0 = log["jobs"][min(log["jobs"])]
        out["session.first_job_s"] = (j0["end"] or j0["submit"]) - j0["submit"]

    # plans.job, per pass
    passes = [s for s in spans if s["name"] == "pass"]
    n_pass = max(1, len(passes))
    if passes:
        out["job.discover_s"] = _sum_spans(spans, lambda s: s["name"] == "job.discover") / n_pass
        out["job.spark_jobs_per_pass"] = sum(p["incl"]["spark_jobs"] for p in passes) / n_pass
        def pages_scan(n):
            return _is_scan(n, "pages")

        scans, raw_rows = 0, 0
        for p in passes:
            inside = {s["id"] for s in descendants(att, p["id"])}
            execs = set().union(*(by_id[i]["execs"] for i in inside))
            scans += sum(1 for e in execs for n in log["execs"].get(e, {}).get("nodes", ()) if pages_scan(n))
            # rows, not bytes: the parquet reader's vectored reads leave the
            # tasks' input-bytes metric near zero on this Spark build
            raw_rows += sum(_stage_nodes_metric(r, pages_scan, "number of output rows")
                            for r in att["stages"] if r["span"] in inside)
        scraped = sum(s["attrs"].get("scraped", 0) for s in spans if s["name"] == "job.run")
        out["job.raw_scans_per_pass"] = scans / n_pass
        out["job.raw_rows_per_page"] = ratio(raw_rows, scraped)

    # operators, by the plan nodes their stages run
    stages_of = lambda cls: [r for r in att["stages"] if r["class"] == cls]  # noqa: E731
    out["extract.task_s"] = sum(r["st"]["exec_run_s"] for r in stages_of("extract")) / n_pass
    out["extract.rows_out"] = sum(_stage_nodes_metric(r, lambda n: n["name"] == "Generate", "number of output rows")
                                  for r in stages_of("extract")) / n_pass
    rollup = [r for r in att["stages"] if stage_layer(r) == "operators.rollup"]
    out["rollup.tier_1m_task_s"] = sum(r["st"]["exec_run_s"] for r in rollup
                                       if by_id[r["span"]]["name"] == "tables.write_chunks[rollup_1m]") / n_pass
    out["rollup.shuffle_bytes"] = sum(r["st"]["shuffle_write_bytes"] for r in rollup) / n_pass
    cascades = [s for s in spans if s["name"] in ("tables.write_chunks[rollup_1h]", "tables.write_chunks[rollup_1d]")]
    out["rollup.cascade_s"] = sum(s["wall_s"] for s in cascades) / n_pass
    cascade_rows = sum(
        _stage_nodes_metric(r, lambda n: _is_scan(n, "rollup_1m"), "number of output rows")
        for r in att["stages"] if r["span"] and by_id[r["span"]]["name"] == "tables.write_chunks[rollup_1h]")
    forwarded = sum(s["attrs"].get("forwarded", 0) for s in spans if s["name"] == "job.run")
    out["rollup.cascade_read_ratio"] = ratio(cascade_rows, forwarded)
    out["blocks.encode_task_s"] = sum(r["st"]["exec_run_s"] for r in stages_of("encode")) / n_pass
    out["blocks.bytes_per_point"] = ctx.get("bytes_per_point", 0.0)

    # sources.tables (write side per pass)
    for t in WRITE_TABLES:
        out[f"tables.write_s.{t}"] = _sum_spans(
            spans, lambda s, _t=t: s["name"] in (f"tables.write_chunks[{_t}]", f"tables.append[{_t}]")) / n_pass

    def driver_metric(execs, node_pred, metric):
        return sum(log["driver_acc"].get(acc, 0) for acc, n in log["nodes"].items()
                   if n["exec"] in execs and n["metric"] == metric and node_pred(n))

    insert = lambda n: n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand")  # noqa: E731
    pass_execs = set().union(*(s["execs"] for p in passes for s in descendants(att, p["id"])))
    out["tables.files_written"] = driver_metric(pass_execs, insert, "number of written files") / n_pass
    out["tables.bytes_written"] = driver_metric(pass_execs, insert, "written output") / n_pass
    out["tables.max_files_per_chunk"] = ctx.get("max_files_per_chunk", 0)
    compacts = [s for s in spans if s["name"].startswith("tables.compact_chunks[")]
    out["tables.compact_s"] = sum(s["wall_s"] for s in compacts) / n_pass
    compact_execs = set().union(*(s["execs"] for c in compacts for s in descendants(att, c["id"])))
    out["tables.compact_bytes_rewritten"] = driver_metric(compact_execs, insert, "written output") / n_pass

    # checkpoint and retention, per pass
    out["checkpoint.commit_s"] = _sum_spans(spans, lambda s: s["name"] == "checkpoint.commit") / n_pass
    retries = [s for s in spans if s["name"] == "checkpoint.commit_with_retry"]
    out["checkpoint.commit_attempts"] = ratio(sum(s["attrs"]["attempts"] for s in retries), len(retries))
    out["retention.s"] = _sum_spans(spans, lambda s: s["layer"] == "operators.retention"
                                    and enclosing(s["parent"], lambda p: p["layer"] == "operators.retention") is None) / n_pass
    out["retention.partitions_dropped"] = sum(s["attrs"].get("partitions_dropped", 0)
                                              for s in spans if s["name"] == "retention.ttl_evict") / n_pass

    # the read path, per query
    queries = [s for s in spans if s["name"].startswith("query.") and s["layer"] == "plans.query"
               and s["name"] != "query.build"]
    n_q = max(1, len(queries))
    for shape in QUERY_SHAPES:
        qs = [s for s in queries if s["name"] == f"query.{shape}"]
        out[f"query.s.{shape}"] = ratio(sum(s["wall_s"] for s in qs), len(qs))
    plan_s, files_read, file_ratio, read_ratio, n_ratio = 0.0, 0, 0.0, 0.0, 0
    decode_s = 0.0
    for q in queries:
        inside = {s["id"] for s in descendants(att, q["id"])}
        jobs = [j for j in log["jobs"].values() if j["span"] in inside]
        if jobs:
            plan_s += min(j["submit"] for j in jobs) - q["start"]
        execs = set().union(*(by_id[i]["execs"] for i in inside))
        files = driver_metric(execs, _is_scan, "number of files read")
        files_read += files
        tables = {scan_table(n["simple"]) for e in execs for n in log["execs"].get(e, {}).get("nodes", ())
                  if _is_scan(n)}
        in_tables = sum(ctx["table_files"].get(t, 0) for t in tables)
        file_ratio += ratio(files, in_tables)
        recs = [r for r in att["stages"] if r["span"] in inside]
        decode_s += sum(r["st"]["exec_run_s"] for r in recs if r["class"] == "decode")
        if q["id"] in ctx.get("blocks_in_range", {}):
            read = sum(_stage_nodes_metric(r, lambda n: _is_scan(n, "blocks"), "number of output rows")
                       for r in recs)
            read_ratio += ratio(read, ctx["blocks_in_range"][q["id"]])
            n_ratio += 1
    if queries:
        out["query.plan_s"] = plan_s / n_q
        out["query.spark_jobs"] = sum(q["incl"]["spark_jobs"] for q in queries) / n_q
        out["tables.files_read_per_query"] = files_read / n_q
        out["tables.files_read_ratio"] = file_ratio / n_q
        out["blocks.decode_task_s"] = decode_s / n_q
        out["blocks.read_ratio"] = ratio(read_ratio, n_ratio)

    out["query.p75_s"] = ctx["query_p75_s"]
    out["op.max_s"] = ctx["op_max_s"]
    out["tables.store_bytes_per_page"] = ctx.get("store_bytes_per_page", 0.0)
    out["error_rate"] = ctx["error_rate"]
    return out


def store_table_files(store: str) -> dict:
    return {t: oracle.parquet_files(os.path.join(store, t)) for t in os.listdir(store)
            if os.path.isdir(os.path.join(store, t))}

