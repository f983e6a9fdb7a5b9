"""Self-tests of the benchmark's own math and event-log attribution.

    python3 -m pytest perfbench -q

Run from the repository root. The attribution test drives one traced
``RollupJob`` pass and one block-store query over the 2k-row sf0.0003
``web_pages`` fixture (the one the engine's tests use) on ``local[2]``.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import hostenv  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def test_ratio_has_a_zero_base():
    assert stats.ratio(3, 4) == 0.75
    assert stats.ratio(3, 0) == 0.0


def test_tick_plan_replays_on_the_first_tick_only():
    import inputs

    for seed in range(20):
        plan = inputs.tick_plan(seed, 3)
        assert [t["late_hour"] is None for t in plan] == [False, True, True]
        first = plan[0]
        assert first["hour"] // 24 * 24 <= first["late_hour"] < first["hour"]
    with pytest.raises(ValueError):
        inputs.tick_plan(1, 1)


def test_self_time_subtracts_the_union_of_children():
    assert tracing._union([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._union([]) == 0


def test_scan_table_reads_the_location():
    simple = ("FileScan parquet [warc_ts#1] Batched: true, Format: Parquet, "
              "Location: InMemoryFileIndex(1 paths)[file:/x/.perfbench/run/ticks/pages], "
              "PartitionFilters: []")
    assert tracing.scan_table(simple) == "pages"
    assert tracing.scan_table("Scan ExistingRDD[a#1]") is None


@pytest.fixture(scope="module")
def traced_pass():
    hostenv.configure()
    from beamium_spark.sources.synth import generate_web_pages

    root = os.path.join(hostenv.CACHE, "selftest")
    pages = os.path.join(root, "pages-sf0.0003")
    if not os.path.isdir(pages):
        os.makedirs(root, exist_ok=True)
        generate_web_pages(0.0003, pages)
    state, events = os.path.join(root, "state"), os.path.join(root, "events")
    for d in (state, events):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(events)
    from beamium_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selftest", master="local[2]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.maxMetadataStringLength": "1000",
    })
    tracer = tracing.Tracer(spark.sparkContext)
    tracing.instrument(tracer)
    from beamium_spark.plans.job import JobConf, RollupJob
    from beamium_spark.plans.query import query

    job = RollupJob(spark, pages, state, JobConf())
    with tracer.span("pass"):
        report = job.run(max_chunks=3)
    with tracer.span("query.p95", "plans.query"):
        query(job.store, "byte_size", "2025-01-01T00:00:00", "2025-01-01T03:00:00", stat="p95").collect()
    hostenv.shutdown(spark)
    log = tracing.parse_event_log(os.path.join(events, os.listdir(events)[0]))
    return tracer.spans, log, report


def test_every_job_is_tagged_with_an_open_span(traced_pass):
    spans, log, _ = traced_pass
    ids = {s["id"] for s in spans}
    assert log["jobs"]
    assert all(j["span"] in ids for j in log["jobs"].values())


def test_inclusive_totals_add_up(traced_pass):
    spans, log, _ = traced_pass
    att = tracing.attribute(spans, log)
    assert sum(s["own"]["spark_jobs"] for s in spans) == len(log["jobs"])
    for s in spans:
        kids = att["children"].get(s["id"], ())
        assert s["incl"]["spark_jobs"] == s["own"]["spark_jobs"] + sum(
            att["by_id"][k]["incl"]["spark_jobs"] for k in kids)
        assert 0.0 <= s["self_s"] <= s["wall_s"] + 1e-9


def test_stages_are_classified_by_plan_nodes(traced_pass):
    spans, log, report = traced_pass
    att = tracing.attribute(spans, log)
    by_id = att["by_id"]

    def under(rec, name):
        sid = rec["span"]
        while sid is not None:
            if by_id[sid]["name"] == name:
                return True
            sid = by_id[sid]["parent"]
        return False

    classes = {(r["class"], under(r, "pass"), under(r, "query.p95")) for r in att["stages"]}
    assert ("extract", True, False) in classes
    assert ("encode", True, False) in classes
    assert ("decode", False, True) in classes
    # the extract explode emits four metric points per page scanned
    gen_rows = sum(v for r in att["stages"] if r["class"] == "extract"
                   for acc, v in r["st"]["acc"].items()
                   if log["nodes"][acc]["name"] == "Generate"
                   and log["nodes"][acc]["metric"] == "number of output rows")
    assert gen_rows == 4 * report["scraped"] > 0
