"""Benchmark inputs: the synthetic ``web_pages`` table, its per-hour
aggregates (the correctness oracle), seeded tick files and the pre-built
tier store.

The base table is ``sources.synth`` at sf0.01 (about 60k pages, 1.5 GB,
72 hour-chunks with the 30% hot site and the 17-minute gap), generated
once per checkout and version of the code (``hostenv.code_hash``, over
the engine's and the benchmark's sources) from the generator's own seed,
so the store every run restores or reads was built by the code under
test. Hours 0-59 are backfilled into the pre-built store that ``ticks``
restores and ``dashboard`` reads; hours 60-71 are held out and land one
per tick. ``--seed`` decides what varies between runs: which pages of
each held-out hour arrive, which committed hour receives late pages and
which pages those are, and the dashboard's query order and ranges.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from hostenv import CACHE, code_hash

SF = 0.01
BASE_HOURS = 60
TOTAL_HOURS = 72
T0 = dt.datetime(2025, 1, 1)
BASE_DIR = os.path.join(CACHE, f"base-sf0.01-{code_hash()}")
# share of a held-out hour's pages that land in its tick file
TICK_KEEP = 0.9
# share of a committed hour's pages re-crawled by a late file
LATE_SHARE = 0.05


def hour_ts(h: int) -> dt.datetime:
    return T0 + dt.timedelta(hours=h)


def paths() -> dict:
    return {
        "full": os.path.join(BASE_DIR, "full"),
        "pages": os.path.join(BASE_DIR, "pages"),
        "held": os.path.join(BASE_DIR, "held"),
        "hours": os.path.join(BASE_DIR, "hours.json"),
        "store": os.path.join(BASE_DIR, "store"),
        "ready": os.path.join(BASE_DIR, "READY"),
    }


def base_ready() -> bool:
    return os.path.isfile(paths()["ready"])


# ---- per-hour aggregates: the oracle every check compares against ------


def page_aggregates(table: pa.Table) -> dict:
    """hour index -> {metric: [cnt, sum]} over the pages the engine keeps
    (url and warc_ts non-null), with ``lang_rate:<lang>`` counts. Computed
    with pyarrow only, independently of the engine."""
    keep = pc.and_(pc.is_valid(table["url"]), pc.is_valid(table["warc_ts"]))
    t = table.filter(keep)
    if t.num_rows == 0:
        return {}
    ts_us = pc.cast(t["warc_ts"], pa.int64()).to_numpy()
    t0_us = int(T0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    hours = (ts_us - t0_us) // 3_600_000_000
    hlen = pc.fill_null(pc.binary_length(t["html"]), 0).to_numpy().astype(np.float64)
    tlen = pc.fill_null(pc.utf8_length(t["text"]), 0).to_numpy().astype(np.float64)
    langs = pc.fill_null(t["lang"], "unknown").to_numpy(zero_copy_only=False)
    out: dict = {}
    for h in np.unique(hours):
        m = hours == h
        agg = {
            "doc_count": [int(m.sum()), float(m.sum())],
            "byte_size": [int(m.sum()), float(hlen[m].sum())],
            "text_chars": [int(m.sum()), float(tlen[m].sum())],
        }
        lv, lc = np.unique(langs[m], return_counts=True)
        for lang, c in zip(lv, lc):
            agg[f"lang_rate:{lang}"] = [int(c), float(c)]
        out[int(h)] = agg
    return out


def merge_aggregates(*parts: dict) -> dict:
    out: dict = {}
    for part in parts:
        for h, agg in part.items():
            dst = out.setdefault(int(h), {})
            for metric, (c, s) in agg.items():
                cur = dst.setdefault(metric, [0, 0.0])
                cur[0] += c
                cur[1] += s
    return out


def _read_hours(src: str, lo: int, hi: int) -> pa.Table:
    """Rows of the base table with warc_ts in hours [lo, hi)."""
    f = (ds.field("warc_ts") >= pa.scalar(hour_ts(lo), pa.timestamp("us"))) & (
        ds.field("warc_ts") < pa.scalar(hour_ts(hi), pa.timestamp("us"))
    )
    return ds.dataset(src, format="parquet").to_table(filter=f)


# ---- base: generated and backfilled once per checkout ------------------


def build_base(spark_factory) -> None:
    """Generate the base table, split it, and backfill the pre-built store
    with the CLI's catch-up loop (retention pinned to the data clock)."""
    from beamium_spark.sources import synth

    p = paths()
    shutil.rmtree(BASE_DIR, ignore_errors=True)
    os.makedirs(BASE_DIR)
    synth.generate_web_pages(SF, p["full"])

    os.makedirs(p["pages"])
    os.makedirs(p["held"])
    hours: dict = {}
    cut = pa.scalar(hour_ts(BASE_HOURS), pa.timestamp("us"))
    for name in sorted(os.listdir(p["full"])):
        src = os.path.join(p["full"], name)
        t = pq.read_table(src)
        hours = merge_aggregates(hours, page_aggregates(t))
        before = pc.less(t["warc_ts"], cut)
        if pc.all(pc.fill_null(before, True)).as_py():
            os.link(src, os.path.join(p["pages"], name))  # no held-out rows
            continue
        base = t.filter(pc.or_(pc.is_null(t["warc_ts"]), before))
        if base.num_rows:
            pq.write_table(base, os.path.join(p["pages"], name), row_group_size=4096)
    for h in range(BASE_HOURS, TOTAL_HOURS):
        pq.write_table(_read_hours(p["full"], h, h + 1), os.path.join(p["held"], f"h{h:02d}.parquet"))
    with open(p["hours"], "w") as f:
        json.dump(hours, f)

    spark = spark_factory()
    try:
        from beamium_spark.plans.job import JobConf, RollupJob

        job = RollupJob(spark, p["pages"], p["store"], JobConf())
        now = hour_ts(BASE_HOURS).isoformat()
        while True:
            report = job.run()
            job.apply_retention(now)
            job.compact_if_needed()
            if report["chunks"] == 0:
                break
        for table in job.conf.retention:
            job.store.compact_chunks(table)
    finally:
        from hostenv import shutdown

        shutdown(spark)
    with open(p["ready"], "w") as f:
        f.write(code_hash())


def base_hours() -> dict:
    with open(paths()["hours"]) as f:
        return {int(h): agg for h, agg in json.load(f).items()}


# ---- seeded per-run inputs ----------------------------------------------


def tick_plan(seed: int, n_ticks: int) -> list[dict]:
    """One entry per tick: the held-out hour it lands, and on the first
    tick only a committed hour of the same day that receives late pages
    (pages that arrived while the daemon was down), so every later tick
    is plain. The same day keeps the replay inside the retained 1m tier
    and its cascade cost the same for every seed (an earlier day would
    add a second day's recompute)."""
    if not 2 <= n_ticks <= TOTAL_HOURS - BASE_HOURS:
        raise ValueError(f"2 to {TOTAL_HOURS - BASE_HOURS} ticks")
    rng = np.random.default_rng(seed)
    plan = [{"hour": BASE_HOURS + k, "late_hour": None} for k in range(n_ticks)]
    plan[0]["late_hour"] = int(rng.integers(BASE_HOURS // 24 * 24, BASE_HOURS))
    return plan


def make_tick_files(seed: int, plan: list[dict], out_dir: str) -> list[dict]:
    """Write each tick's landing file (and late file) under ``out_dir``;
    returns the plan with file paths and the oracle aggregates of what
    each file adds."""
    p = paths()
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for k, tick in enumerate(plan):
        t = pq.read_table(os.path.join(p["held"], f"h{tick['hour']:02d}.parquet"))
        t = t.filter(pa.array(rng.random(t.num_rows) < TICK_KEEP))
        f = os.path.join(out_dir, f"tick-{k:02d}.parquet")
        pq.write_table(t, f)
        entry = dict(tick, file=f, adds=page_aggregates(t), late_file=None, late_adds={})
        if tick["late_hour"] is not None:
            base = _read_hours(p["full"], tick["late_hour"], tick["late_hour"] + 1)
            n = max(5, int(base.num_rows * LATE_SHARE))
            pick = np.sort(rng.choice(base.num_rows, size=n, replace=False))
            late = base.take(pa.array(pick))
            # a re-crawl later in the same hour, byte-identical content
            end_us = int((hour_ts(tick["late_hour"] + 1) - dt.datetime(1970, 1, 1)).total_seconds() * 1e6) - 1
            ts = pc.cast(late["warc_ts"], pa.int64()).to_numpy()
            shifted = np.minimum(ts + rng.integers(1, 600_000_000, size=n), end_us)
            late = late.set_column(
                late.schema.get_field_index("warc_ts"),
                "warc_ts",
                pa.array(shifted, pa.timestamp("us")),
            )
            lf = os.path.join(out_dir, f"late-{k:02d}.parquet")
            pq.write_table(late, lf)
            entry.update(late_file=lf, late_adds=page_aggregates(late))
        out.append(entry)
    return out


def restore_pages(dst: str) -> None:
    """The base pages as a fresh directory of hard links (files are never
    modified in place, only added)."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    src = paths()["pages"]
    for name in os.listdir(src):
        os.link(os.path.join(src, name), os.path.join(dst, name))


def restore_store(dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(paths()["store"], dst)
