"""Independent answers to check the engine's outputs against.

Tier contents are compared with per-hour aggregates computed by pyarrow
from the input pages (``inputs.page_aggregates``). Dashboard queries are
recomputed by DuckDB over the stored tier files; percentile and M4 reads,
which the engine answers from Gorilla blocks, are recomputed with numpy
over blocks decoded by the repo's codec (DuckDB cannot read the encoding).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re

import numpy as np
import pyarrow.dataset as ds

EPOCH = dt.datetime(1970, 1, 1)


def to_us(ts: dt.datetime) -> int:
    return (ts - EPOCH) // dt.timedelta(microseconds=1)


def close(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def _table(store: str, table: str, columns: list[str]):
    return ds.dataset(os.path.join(store, table), format="parquet",
                      partitioning="hive").to_table(columns=columns)


# ---- tier contents vs the input pages ------------------------------------


def tier_sums(store: str, table: str, grain_s: int) -> dict:
    """(metric, grain index) -> [cnt, sum] summed over buckets."""
    df = _table(store, table, ["metric", "window_start", "cnt", "sum_value"]).to_pandas()
    df["idx"] = df["window_start"].to_numpy(dtype="datetime64[us]").astype("int64") // (grain_s * 1_000_000)
    g = df.groupby(["metric", "idx"])[["cnt", "sum_value"]].sum()
    return {(m, int(i)): [int(c), float(v)] for (m, i), c, v in zip(g.index, g["cnt"], g["sum_value"])}


def expected_sums(hours: dict, grain_s: int, t0_us: int) -> dict:
    out: dict = {}
    for h, agg in hours.items():
        idx = (t0_us + h * 3_600_000_000) // (grain_s * 1_000_000)
        for metric, (c, s) in agg.items():
            cur = out.setdefault((metric, idx), [0, 0.0])
            cur[0] += c
            cur[1] += s
    return out


def compare_sums(got: dict, want: dict, keys=None) -> list[str]:
    """Mismatch descriptions (empty when equal) over ``keys`` (default: the
    union of both sides)."""
    keys = set(got) | set(want) if keys is None else keys
    bad = []
    for k in sorted(keys):
        g, w = got.get(k, [0, 0.0]), want.get(k, [0, 0.0])
        if g[0] != w[0] or not close(float(g[1]), float(w[1])):
            bad.append(f"{k}: got {g} want {w}")
    return bad


def decoded_block_sums(store: str, hours: set[int]) -> dict:
    """Blocks of the given chunks (hours since the epoch) decoded with the
    codec: (metric, hour) -> [points, sum of values]."""
    from beamium_spark.operators.codec import decode_timestamps, decode_values

    t = _table(store, "blocks", ["metric", "chunk_start", "n_points", "ts_block", "val_block"])
    d = t.to_pydict()
    out: dict = {}
    for m, cs, n, tb, vb in zip(d["metric"], d["chunk_start"], d["n_points"], d["ts_block"], d["val_block"]):
        c_us = to_us(cs)
        if c_us // 3_600_000_000 not in hours:
            continue
        ts = decode_timestamps(tb)
        vals = decode_values(vb)
        if len(ts) != n or len(vals) != n or (len(ts) and (ts.min() < c_us or ts.max() >= c_us + 3_600_000_000)):
            out.setdefault((m, "malformed"), [0, 0.0])[0] += 1
            continue
        cur = out.setdefault((m, c_us // 3_600_000_000), [0, 0.0])
        cur[0] += int(n)
        cur[1] += float(vals.sum())
    return out


def block_bytes_and_points(store: str) -> tuple[int, int]:
    t = _table(store, "blocks", ["ts_block", "val_block", "n_points"]).to_pydict()
    nbytes = sum(len(a) + len(b) for a, b in zip(t["ts_block"], t["val_block"]))
    return nbytes, sum(t["n_points"])


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def parquet_files(root: str) -> int:
    return sum(1 for _, _, fs in os.walk(root) for f in fs if f.endswith(".parquet"))


def max_files_per_chunk(store: str) -> int:
    """Most parquet files in any one chunk partition of any table."""
    return max((sum(1 for f in fs if f.endswith(".parquet"))
                for d, _, fs in os.walk(store) if os.path.basename(d).startswith("chunk_key=")),
               default=0)


def _query_blocks(store: str, q: dict, columns: list[str]):
    """Blocks of the chunk partitions the query's range prunes to, the way
    ``plans.query`` selects them."""
    lo, hi = q["start"].strftime("%Y-%m-%d-%H"), q["end"].strftime("%Y-%m-%d-%H")
    f = (ds.field("chunk_key") >= lo) & (ds.field("chunk_key") <= hi)
    return ds.dataset(os.path.join(store, "blocks"), format="parquet",
                      partitioning="hive").to_table(columns=columns, filter=f)


def blocks_matching(store: str, q: dict) -> int:
    """Blocks in the query's chunk range whose metric the query selects."""
    metrics = _query_blocks(store, q, ["metric"])["metric"].to_pylist()
    pat = re.compile(q["metric"])
    return sum(1 for m in metrics if pat.fullmatch(m))


# ---- dashboard queries ---------------------------------------------------


def _rows_key(rows, key_cols, val_cols) -> dict:
    out = {}
    for r in rows:
        key = tuple(to_us(r[c]) if isinstance(r[c], dt.datetime) else r[c] for c in key_cols)
        out[key] = tuple(r[c] for c in val_cols)
    return out


def tier_query_answer(con, store: str, q: dict) -> dict:
    """DuckDB re-roll of the stored tier, shaped like ``plans.query``."""
    tier = {60: "rollup_1m", 3600: "rollup_1h", 86400: "rollup_1d"}[q["tier_s"]]
    step_us = q["step_s"] * 1_000_000
    agg = {"avg": "sum(sum_value) / sum(cnt)", "sum": "sum(sum_value)",
           "min": "min(min_value)", "max": "max(max_value)",
           "cnt": "sum(cnt)::double"}[q["agg"]]
    sql = f"""
        select bucket, metric, (epoch_us(window_start) // {step_us}) * {step_us} as w,
               {agg} as value
        from read_parquet('{store}/{tier}/*/*.parquet', hive_partitioning = true)
        where window_start >= ? and window_start < ? and regexp_full_match(metric, ?)
        group by all
    """
    rows = con.execute(sql, [q["start"], q["end"], q["metric"]]).fetchall()
    series: dict = {}
    for b, m, w, v in rows:
        series.setdefault((b, m), {})[w] = v
    out = {}
    for (b, m), pts in series.items():
        if q.get("fill") == "zero":
            grid = range(to_us(q["start"]), to_us(q["end"]), step_us)
            pts = {w: pts.get(w, 0.0) for w in grid}
        prev = None
        for w in sorted(pts):
            v = pts[w]
            if q.get("rate"):
                out[(b, m, w)] = (None if prev is None else (v - prev) / q["step_s"],)
            else:
                out[(b, m, w)] = (v,)
            prev = v
    return out


def _decoded_points(store: str, q: dict):
    """(bucket, metric) -> (ts_us array, value array) of the points in the
    query's range, decoded from the chunk-pruned block store."""
    from beamium_spark.operators.codec import decode_timestamps, decode_values

    t = _query_blocks(store, q, ["bucket", "metric", "ts_block", "val_block"]).to_pydict()
    pat = re.compile(q["metric"])
    s_us, e_us = to_us(q["start"]), to_us(q["end"])
    series: dict = {}
    for b, m, tb, vb in zip(t["bucket"], t["metric"], t["ts_block"], t["val_block"]):
        if not pat.fullmatch(m):
            continue
        ts, vals = decode_timestamps(tb), decode_values(vb)
        keep = (ts >= s_us) & (ts < e_us)
        series.setdefault((b, m), []).append((ts[keep], vals[keep]))
    return {k: (np.concatenate([p[0] for p in v]), np.concatenate([p[1] for p in v]))
            for k, v in series.items()}


def block_query_answer(store: str, q: dict) -> dict:
    step_us = q["step_s"] * 1_000_000
    out = {}
    for (b, m), (ts, vals) in _decoded_points(store, q).items():
        if q.get("stat"):
            qv = float(q["stat"][1:])
            w = ts // step_us
            for wi in np.unique(w):
                out[(b, m, int(wi) * step_us)] = (float(np.percentile(vals[w == wi], qv)),)
        else:  # render m4: ws in epoch seconds, t_* in microseconds
            ws = (ts // 1_000_000) // q["step_s"] * q["step_s"]
            for wi in np.unique(ws):
                sel = ws == wi
                t, v = ts[sel], vals[sel]
                by_t = sorted(zip(t.tolist(), v.tolist()))
                by_v = sorted(zip(v.tolist(), t.tolist()))
                out[(b, m, int(wi))] = (
                    by_t[0][0], by_t[0][1], by_v[0][1], by_v[0][0],
                    by_v[-1][1], by_v[-1][0], by_t[-1][0], by_t[-1][1],
                )
    return out


M4_VALS = ("t_first", "v_first", "t_min", "v_min", "t_max", "v_max", "t_last", "v_last")


def check_query(con, store: str, q: dict, rows) -> list[str]:
    """Compare one ``query()`` result with the independent answer."""
    if q.get("render"):
        got = _rows_key(rows, ("bucket", "metric", "ws"), M4_VALS)
        want = block_query_answer(store, q)
    elif q.get("stat"):
        got = _rows_key(rows, ("bucket", "metric", "window_start"), ("value",))
        want = block_query_answer(store, q)
    else:
        got = _rows_key(rows, ("bucket", "metric", "window_start"), ("value",))
        want = tier_query_answer(con, store, q)
    bad = [f"missing {k}" for k in sorted(set(want) - set(got))[:3]]
    bad += [f"extra {k}" for k in sorted(set(got) - set(want))[:3]]
    for k in sorted(set(got) & set(want)):
        if not all(close(g, w) for g, w in zip(got[k], want[k])):
            bad.append(f"{k}: got {got[k]} want {want[k]}")
            if len(bad) > 5:
                break
    return bad
