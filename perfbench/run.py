"""Engine benchmark: daemon ticks and dashboard reads through the public
entry points, with correctness checks and an event-log traced mode.

    python3 perfbench/run.py --workload ticks --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import hostenv

WORKLOADS = ("ticks", "dashboard")
# restores timed per run; setup_s reports the median
SETUP_REPEATS = 3


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--build-base", action="store_true",
                   help="only generate the cached input and pre-built store")
    args = p.parse_args(argv)
    if not args.build_base and not args.workload:
        p.error("--workload is required")
    return args


def _result_path(workload: str, seed: int, seconds: int) -> str:
    return os.path.join(hostenv.CACHE, "results", hostenv.code_hash(),
                        f"{workload}-s{seed}-t{seconds}.json")


def run_workload(args, traced: bool) -> dict:
    import numpy as np

    import inputs
    import workloads as wl
    from tracing import NullTracer, Tracer, instrument

    ops = wl.Ops()
    phases = {}
    t = time.perf_counter()
    prep = wl.prepare_ticks(args.seed, args.seconds) if args.workload == "ticks" else None
    phases["inputs_s"] = time.perf_counter() - t
    event_dir = os.path.join(hostenv.CACHE, "eventlog", f"{args.workload}-s{args.seed}")
    if traced:
        shutil.rmtree(event_dir, ignore_errors=True)
    with hostenv.RssSampler() as rss:
        t_boot = time.perf_counter()
        wall_boot = time.time()
        spark = hostenv.boot(event_dir if traced else None)
        boot_s = time.perf_counter() - t_boot
        tracer = Tracer(spark.sparkContext) if traced else NullTracer()
        if traced:
            tracer.record("session.boot", "session", wall_boot, wall_boot + boot_s)
            instrument(tracer)
        try:
            restores = []
            for _ in range(SETUP_REPEATS):
                t = time.perf_counter()
                if prep:
                    wl.restore_ticks(prep)
                else:
                    from beamium_spark.sources.tables import ParquetTierStore

                    ParquetTierStore(spark, inputs.paths()["store"]).exists("rollup_1h")
                restores.append(time.perf_counter() - t)
            t = time.perf_counter()
            if prep:
                out = wl.run_ticks(spark, tracer, prep, ops)
                n_ops = len(prep["ticks"])
            else:
                out = wl.run_dashboard(spark, tracer, args.seed, args.seconds, ops)
                n_ops = len(out["done"])
            phases["work_s"] = time.perf_counter() - t
            conds = hostenv.conditions(spark)
            old_gen_peak_mb = hostenv.old_gen_peak_mb(spark)
        finally:
            t = time.perf_counter()
            hostenv.shutdown(spark)
            phases["shutdown_s"] = time.perf_counter() - t
    t = time.perf_counter()
    if prep:
        wl.check_ticks(out, ops)
        e2e, extra = wl.ticks_metrics(out)
        store = out["state"]
    else:
        wl.check_dashboard(out, ops)
        e2e, extra = wl.dashboard_metrics(out)
        store = out["store"]
    phases["checks_s"] = time.perf_counter() - t
    e2e["setup_s"] = boot_s + float(np.median(restores))
    e2e["peak_rss_mb"] = rss.peak_mb
    extra.update(old_gen_peak_mb=old_gen_peak_mb, rss_above_heap_mb=rss.peak_mb - conds["heap_mb"])
    res = {"e2e": e2e, "extra": extra, "ops": ops, "n_ops": n_ops, "boot_s": boot_s,
           "conditions": dict(conds, seed=args.seed, workload=args.workload, sf=inputs.SF,
                              seconds=args.seconds, ops=n_ops, traced=traced,
                              boot_s=boot_s, **phases)}
    if traced:
        import layers
        from tracing import parse_event_log, span_dump

        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        log = parse_event_log(logs[0])
        ctx = dict(extra, ops=n_ops, boot_s=boot_s, table_files=layers.store_table_files(store),
                   blocks_in_range=wl.blocks_in_range(out) if not prep else {},
                   error_rate=ops.failed / max(1, ops.attempted))
        res["layers"] = layers.report(tracer.spans, log, ctx)
        os.makedirs(os.path.join(hostenv.CACHE, "out"), exist_ok=True)
        with open(os.path.join(hostenv.CACHE, "out", f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"conditions": res["conditions"], "spans": span_dump(tracer.spans)}, f, default=str)
    return res


def _untraced_reference(args) -> dict:
    """The result of an untraced run of the same code, workload, seed and
    length, for the tracing overhead: the one this checkout cached, else a
    fresh run in a child process."""
    path = _result_path(args.workload, args.seed, args.seconds)
    if not os.path.isfile(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=hostenv.ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = _parse(argv)
    if not hostenv.package_present():
        print("perfbench: run from the repository root (beamium_spark/ not found)", file=sys.stderr)
        return 2
    hostenv.configure()
    import inputs

    if args.build_base:
        inputs.build_base(hostenv.boot)
        return 0
    if not inputs.base_ready():
        subprocess.run([sys.executable, os.path.abspath(__file__), "--build-base"],
                       cwd=hostenv.ROOT, check=True)
    reference = _untraced_reference(args) if args.trace else None
    res = run_workload(args, traced=bool(args.trace))
    ops = res["ops"]
    print(json.dumps({"conditions": res["conditions"]}), flush=True)
    import layers

    if args.trace:
        layer_vals = res["layers"]
        for m in layers.E2E_UNITS:
            layer_vals[f"overhead.{m}"] = res["e2e"][m] - reference["metrics"][m]["value"]
        units = layers.metric_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer_vals.items()}
    else:
        metrics = {m: {"value": res["e2e"][m], "unit": unit} for m, unit in layers.E2E_UNITS.items()}
        print(json.dumps({"error_rate": ops.failed / max(1, ops.attempted), **res["extra"]}), flush=True)
    result = {"correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
              "metrics": metrics}
    if not args.trace:
        path = _result_path(args.workload, args.seed, args.seconds)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(result, f)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
