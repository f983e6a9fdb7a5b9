"""The workloads: what each one drives through the engine and checks.

``ticks``     — daemon ticks in a closed loop over a restored store: land
                one hour file, run the CLI pass (run → retention →
                compaction) and one freshness ``query()``; the first
                tick also lands late pages for a committed hour.
``dashboard`` — one closed-loop client reading a pre-built, compacted
                store through a seeded mix of ``query()`` shapes.

Each workload returns its end-to-end numbers, its op counts and the
context the per-layer report needs; every mismatch against the oracle is
printed to stderr and counted as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np

import inputs
import oracle
from hostenv import CACHE
from stats import ratio

TICK_SECONDS = 16.0  # nominal warm tick length on the reference host
QUERY_SHAPES = {
    # name: query() arguments, range length in hours, tier the oracle reads
    "h1_short": (dict(step="1 hour", agg="avg"), 6, 3600),
    "h1_long": (dict(step="1 hour", agg="sum"), 48, 3600),
    "d1": (dict(step="1 day", agg="avg"), 72, 86400),
    "m1_fill": (dict(step="1 minute", agg="sum", fill="zero"), 1, 60),
    "rate": (dict(step="1 hour", agg="sum", rate=True), 24, 3600),
    "p95": (dict(step="1 hour", stat="p95"), 3, None),
    "m4": (dict(step="2 minutes", render="m4"), 2, None),
}
METRICS = ("doc_count", "byte_size", "text_chars", "lang_rate:.*")
# hours of the pre-built store still held by the 1m tier and the blocks
# (48 h TTL at the build's data clock)
RAW_HOURS = (inputs.BASE_HOURS - 48, inputs.BASE_HOURS)


class Ops:
    """Attempted and failed operations; failures are reported, not raised."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"CHECK FAILED {what}: " + "; ".join(problems[:5]), file=sys.stderr)
        return not problems

    def crashed(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"OPERATION FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)


def n_ticks(seconds: int) -> int:
    """A fixed tick count for the run length, so every run does the same
    amount of work: the cold first tick, which also replays late pages,
    and at least one plain warm tick."""
    return max(2, min(inputs.TOTAL_HOURS - inputs.BASE_HOURS, round(seconds / TICK_SECONDS)))


# ---- ticks ---------------------------------------------------------------


def prepare_ticks(seed: int, seconds: int) -> dict:
    run_dir = os.path.join(CACHE, "run", "ticks")
    shutil.rmtree(run_dir, ignore_errors=True)
    plan = inputs.tick_plan(seed, n_ticks(seconds))
    ticks = inputs.make_tick_files(seed, plan, os.path.join(run_dir, "incoming"))
    return {"run_dir": run_dir, "ticks": ticks}


def restore_ticks(prep: dict) -> None:
    inputs.restore_pages(os.path.join(prep["run_dir"], "pages"))
    inputs.restore_store(os.path.join(prep["run_dir"], "state"))


def _land(src: str, pages_dir: str) -> None:
    dst = os.path.join(pages_dir, os.path.basename(src))
    shutil.copyfile(src, dst + ".tmp")
    os.rename(dst + ".tmp", dst)  # files appear whole, like beamium's .tmp rename


def _hour_total(rows) -> float:
    return sum(r["value"] for r in rows)


def run_ticks(spark, tracer, prep: dict, ops: Ops) -> dict:
    from beamium_spark.plans.job import JobConf, RollupJob
    from beamium_spark.plans.query import query

    pages_dir = os.path.join(prep["run_dir"], "pages")
    state_dir = os.path.join(prep["run_dir"], "state")
    job = RollupJob(spark, pages_dir, state_dir, JobConf())
    expect = {h: a for h, a in inputs.base_hours().items() if h < inputs.BASE_HOURS}
    fresh, qlat = {}, []  # tick index -> freshness seconds
    for k, tick in enumerate(prep["ticks"]):
        hour = tick["hour"]
        try:
            with tracer.span("tick", None, k=k, hour=hour):
                if tick["late_file"]:
                    _land(tick["late_file"], pages_dir)
                _land(tick["file"], pages_dir)
                t_land = time.perf_counter()
                with tracer.span("pass", None):
                    report = job.run()
                    job.apply_retention(inputs.hour_ts(hour + 1).isoformat())
                    job.compact_if_needed()
                t_query = time.perf_counter()
                with tracer.span("query.fresh", "plans.query"):
                    rows = query(job.store, "doc_count", inputs.hour_ts(hour),
                                 inputs.hour_ts(hour + 1), step="1 hour", agg="sum").collect()
                qlat.append(time.perf_counter() - t_query)
                fresh[k] = time.perf_counter() - t_land
        except Exception:  # noqa: BLE001 - a failed tick is counted, the loop goes on
            ops.crashed(f"tick {k}")
            continue
        expect = inputs.merge_aggregates(expect, tick["adds"], tick["late_adds"])
        want_scraped = sum(expect[h]["doc_count"][0] for h in {hour, tick["late_hour"]} if h is not None)
        ops.check(f"tick {k} freshness doc_count", [] if _hour_total(rows) == expect[hour]["doc_count"][1]
                  else [f"hour {hour}: got {_hour_total(rows)} want {expect[hour]['doc_count'][1]}"])
        ops.check(f"tick {k} scraped counter", [] if report.get("scraped") == want_scraped
                  else [f"got {report.get('scraped')} want {want_scraped}"])
        if tick["late_hour"] is not None:
            lh = tick["late_hour"]
            try:
                t_query = time.perf_counter()
                with tracer.span("query.replayed", "plans.query"):
                    rows = query(job.store, "doc_count", inputs.hour_ts(lh), inputs.hour_ts(lh + 1),
                                 step="1 hour", agg="sum").collect()
                qlat.append(time.perf_counter() - t_query)
            except Exception:  # noqa: BLE001
                ops.crashed(f"tick {k} replay query")
                continue
            ops.check(f"tick {k} replayed hour {lh} doc_count",
                      [] if _hour_total(rows) == expect[lh]["doc_count"][1]
                      else [f"got {_hour_total(rows)} want {expect[lh]['doc_count'][1]}"])
    written = {t["hour"] for t in prep["ticks"]}
    written |= {t["late_hour"] for t in prep["ticks"] if t["late_hour"] is not None}
    return {"fresh": fresh, "qlat": qlat, "expect": expect, "state": state_dir, "written": written,
            "last_hour": prep["ticks"][-1]["hour"]}


def check_ticks(out: dict, ops: Ops) -> None:
    """Tier and block contents after the run against the input pages."""
    state, expect = out["state"], out["expect"]
    t0_us = oracle.to_us(inputs.T0)
    hour_us = 3_600_000_000
    ops.check("rollup_1h per (metric, hour)", oracle.compare_sums(
        oracle.tier_sums(state, "rollup_1h", 3600), oracle.expected_sums(expect, 3600, t0_us)))
    ops.check("rollup_1d per (metric, day)", oracle.compare_sums(
        oracle.tier_sums(state, "rollup_1d", 86400), oracle.expected_sums(expect, 86400, t0_us)))
    # the 1m tier and the blocks hold the last 48 h (TTL at the data clock)
    first = out["last_hour"] + 1 - 48
    kept = {h: a for h, a in expect.items() if h >= first}
    got_1m = oracle.tier_sums(state, "rollup_1m", 3600)
    ops.check("rollup_1m per (metric, hour)", oracle.compare_sums(
        {k: v for k, v in got_1m.items() if k[1] >= t0_us // hour_us + first},
        oracle.expected_sums(kept, 3600, t0_us)))
    # decoding every retained block is slow in Python: decode the hours
    # this run wrote, new and replayed
    written = {h for h in out["written"] if h >= first}
    ops.check("blocks decode per (metric, hour)", oracle.compare_sums(
        oracle.decoded_block_sums(state, {t0_us // hour_us + h for h in written}),
        oracle.expected_sums({h: expect[h] for h in written}, 3600, t0_us)))


def ticks_metrics(out: dict) -> tuple[dict, dict]:
    """End-to-end metrics, and run-level numbers for the layer report. The
    first tick pays the restarted daemon's cold start and replays the late
    pages that arrived while it was down; the plain ticks after it are the
    steady state."""
    pages = sum(a["doc_count"][0] for a in out["expect"].values())
    nbytes, points = oracle.block_bytes_and_points(out["state"])
    fresh = out["fresh"]
    warm = [v for k, v in fresh.items() if k > 0]
    return {
        "first_op_s": fresh[0],
        "op_p50_s": float(np.median(warm)),
    }, {
        "op_max_s": max(warm),
        "store_bytes_per_page": oracle.dir_bytes(out["state"]) / pages,
        "query_p75_s": float(np.percentile(out["qlat"], 75.0)),
        "bytes_per_point": ratio(nbytes, points),
        "max_files_per_chunk": oracle.max_files_per_chunk(out["state"]),
        "op_samples_s": [fresh[k] for k in sorted(fresh)],
    }


# ---- dashboard -----------------------------------------------------------


def query_plan(seed: int, rounds: int) -> list[dict]:
    """The first query (the CLI's default hourly read, of one day's
    doc_count) followed by ``rounds`` rounds over every shape in a seeded
    order, with seeded hour-aligned ranges inside what the store holds."""
    from beamium_spark.plans.query import parse_step

    rng = np.random.default_rng(seed)

    def make(shape: str, metric: str, hours: int | None = None) -> dict:
        args, shape_hours, tier_s = QUERY_SHAPES[shape]
        hours = hours or shape_hours
        if shape == "d1":
            lo_h = 0
        else:
            lo_bound, hi_bound = RAW_HOURS if tier_s in (60, None) else (0, inputs.BASE_HOURS)
            lo_h = int(rng.integers(lo_bound, hi_bound - hours + 1))
        return dict(args, shape=shape, metric=metric, tier_s=tier_s,
                    step_s=parse_step(args["step"]),
                    start=inputs.hour_ts(lo_h), end=inputs.hour_ts(lo_h + hours))

    plan = [dict(make("h1_short", "doc_count", hours=24), shape="first")]
    shapes = sorted(QUERY_SHAPES)
    for r in range(rounds):
        for i in rng.permutation(len(shapes)):
            # metrics rotate over shapes by round, so every run reads the
            # same (shape, metric) pairs and the seed moves order and ranges
            plan.append(make(shapes[i], METRICS[(i + r) % len(METRICS)]))
    return plan


def run_query(store, tracer, q: dict):
    from beamium_spark.plans.query import query

    kw = {k: v for k, v in q.items() if k in ("step", "agg", "fill", "rate", "stat", "render")}
    with tracer.span(f"query.{q['shape']}", "plans.query") as s:
        q["span_id"] = s.get("id")
        return query(store, q["metric"], q["start"], q["end"], **kw).collect()


def dashboard_rounds(seconds: int) -> int:
    """Whole rounds of the shape mix for the run length (a round takes
    about 8 s on the reference host), at least two; a fixed count keeps
    every run's mix and sample count the same."""
    return max(2, round(seconds / 8))


def run_dashboard(spark, tracer, seed: int, seconds: int, ops: Ops) -> dict:
    """The cold first query, then whole rounds of the shape mix."""
    from beamium_spark.sources.tables import ParquetTierStore

    store_dir = inputs.paths()["store"]
    store = ParquetTierStore(spark, store_dir)
    plan = query_plan(seed, rounds=dashboard_rounds(seconds))
    done, lat = [], []
    t = time.perf_counter()
    try:
        done.append((plan[0], run_query(store, tracer, plan[0])))
    except Exception:  # noqa: BLE001
        ops.crashed("first query")
    first_s = time.perf_counter() - t
    for q in plan[1:]:
        t = time.perf_counter()
        try:
            rows = run_query(store, tracer, q)
        except Exception:  # noqa: BLE001
            ops.crashed(f"query {q['shape']}")
            continue
        lat.append(time.perf_counter() - t)
        done.append((q, rows))
    return {"first_s": first_s, "lat": lat, "done": done, "store": store_dir}


def check_dashboard(out: dict, ops: Ops) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        for i, (q, rows) in enumerate(out["done"]):
            ops.check(f"query {i} {q['shape']} {q['metric']} {q['start']}",
                      oracle.check_query(con, out["store"], q, rows))
    finally:
        con.close()


def dashboard_metrics(out: dict) -> tuple[dict, dict]:
    return {
        "first_op_s": out["first_s"],
        "op_p50_s": float(np.median(out["lat"])),
    }, {
        "op_max_s": max(out["lat"]),
        "query_p75_s": float(np.percentile(out["lat"], 75.0)),
        "store_bytes_per_page": oracle.dir_bytes(out["store"]) / sum(
            a["doc_count"][0] for h, a in inputs.base_hours().items() if h < inputs.BASE_HOURS),
        "bytes_per_point": ratio(*oracle.block_bytes_and_points(out["store"])),
        "max_files_per_chunk": oracle.max_files_per_chunk(out["store"]),
        "op_samples_s": out["lat"],
    }


def blocks_in_range(out: dict) -> dict:
    """Query span id -> blocks the query's range and metric select, for
    the block-read ratio of the traced run."""
    return {q["span_id"]: oracle.blocks_matching(out["store"], q)
            for q, _ in out["done"] if q.get("span_id") and (q.get("stat") or q.get("render"))}
