"""cdc_daily: the reference's daily Hive job, closed loop with one client.

Each op is one day: `run_ingest_batch` lands the day's Canal envelopes
(dt-partitioned parquet), `merge_day` merges the day partition (read
through `sources.files.read_partitioned`) into the previous snapshot
version, and `overwrite_snapshot` writes the next version with its
staged swap. The next day merges into that result. The snapshot holds
its size: every key is preloaded, and the day's keys come from the same
key space plus a sliver of new keys. Set-up copies the preloaded
snapshot into place and runs the first WARM_DAYS days untimed, at full
size.

This workload runs by hand (`--workload cdc_daily`); it is not in
BENCHMARK.json, because three workloads overrun the time a full
comparison of two commits may take (see README.md).

Checked outside the window: every merged day equals a DuckDB run of the
reference's Hive merge SQL, chained over the same generated days.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.tracer import put_layer_counts

SIZES = {
    "full": {"snapshot_rows": 200_000, "day_envelopes": 10_000, "days": 16},
    "tiny": {"snapshot_rows": 5_000, "day_envelopes": 500, "days": 7},
}
#: keys beyond the snapshot, as a share of it: the days insert a few
NEW_KEY_SHARE = 0.002
ZIPF_S = 1.1
DDL_SHARE = 0.02
#: out-of-order envelopes within their day, by up to an hour
LATE_SHARE = 0.10
MIN_DAYS = 3
#: untimed days at full size before the window: the JIT is still
#: speeding up the merge over the first few
WARM_DAYS = 3

LAYERS = ("canal", "merge", "sources", "cdc_daily")

HIVE_MERGE_SQL = """
SELECT COALESCE(t2.uid, t1.uid) AS uid,
       COALESCE(t2.city, t1.city) AS city,
       COALESCE(t2.province, t1.province) AS province,
       COALESCE(t2.amount, t1.amount) AS amount,
       COALESCE(t2.event_time, t1.event_time) AS event_time
FROM snap t1
FULL OUTER JOIN (
    SELECT uid, city, province, amount, event_time FROM (
        SELECT *, row_number() OVER (PARTITION BY uid
                                     ORDER BY event_time DESC, ts DESC) AS rank
        FROM delta
    ) temp WHERE rank = 1
) t2 ON t1.uid = t2.uid
"""


def day_str(d: int) -> str:
    return time.strftime("%Y%m%d", time.gmtime((gen.T0_MS + d * gen.DAY_MS) / 1000))


def build_inputs(d: str, seed: int, size: str) -> None:
    s = SIZES[size]
    rng = gen.rng_for(seed, "cdc_daily")
    n_snap = s["snapshot_rows"]
    pq.write_table(gen.snapshot_table(rng, n_snap), f"{d}/snapshot.parquet")
    n_keys = int(n_snap * (1 + NEW_KEY_SHARE))
    state = {k: "INSERT" for k in range(n_snap)}
    days = []
    for day in range(s["days"]):
        n = s["day_envelopes"]
        keys = gen.zipf_keys(rng, n_keys, ZIPF_S, 6 * n)
        ev = gen.cdc_events(rng, n, keys, start_ms=gen.T0_MS + day * gen.DAY_MS + gen.HOUR_MS,
                            span_ms=22 * gen.HOUR_MS, ddl_share=DDL_SHARE, late_share=LATE_SHARE,
                            late_max_ms=gen.HOUR_MS, first_id=day * n)
        per_env, rows = gen.render_envelopes(ev, state)
        gen.write_lines(f"{d}/days/{day_str(day)}.jsonl", [ln for ls in per_env for ln in ls])
        pq.write_table(gen.rows_table(rows), f"{d}/days/{day_str(day)}.rows.parquet")
        days.append({"day": day_str(day), "envelopes": n, "rows": len(rows),
                     "ddl": int(ev["ddl"].sum())})
    gen.write_json(f"{d}/days.json", days)


def generate(run, base: str):
    d = gen.cached(base, f"cdc_daily-{run.size}-s{run.seed}",
                          lambda d: build_inputs(d, run.seed, run.size))
    s = SIZES[run.size]
    run.props.update({"snapshot_rows": s["snapshot_rows"], "day_envelopes": s["day_envelopes"],
                      "new_key_share": NEW_KEY_SHARE, "zipf_s": ZIPF_S, "ddl_share": DDL_SHARE,
                      "out_of_order_share": LATE_SHARE, "out_of_order_max_s": gen.HOUR_MS / 1000,
                      "rows_per_envelope": "1-3"})
    return {"dir": d, "days": gen.read_json(f"{d}/days.json")}


# ------------------------------------------------------------------ ops

def _one_day(run, st: dict, d: int) -> float:
    from flink_etl_spark.config import SinkConfig
    from flink_etl_spark.operators.merge import merge_day, overwrite_snapshot
    from flink_etl_spark.sources.files import read_partitioned
    from flink_etl_spark.streaming.ingest import run_ingest_batch

    spark, root = run.spark, st["root"]
    day = st["inp"]["days"][d]["day"]
    t = time.perf_counter()
    with run.op("canal:land"):
        run_ingest_batch(spark.read.text(f"{st['inp']['dir']}/days/{day}.jsonl"), gen.PAYLOAD_COLS,
                         SinkConfig(path=f"{root}/landing", checkpoint_location=f"{root}/unused"))
    with run.op("merge:day"):
        snap = spark.read.parquet(f"{root}/snapshot/v={d}")
        merged = merge_day(snap, read_partitioned(spark, f"{root}/landing"), day=day, keys=["uid"],
                           order_by=["event_time", "ts"])
        overwrite_snapshot(merged, f"{root}/snapshot/v={d + 1}")
    return time.perf_counter() - t


def setup(run, inp: dict) -> dict:
    root = run.dir("daily")
    st = {"root": root, "inp": inp, "done": []}
    t = time.perf_counter()
    os.makedirs(f"{root}/snapshot/v=0")
    shutil.copyfile(f"{inp['dir']}/snapshot.parquet", f"{root}/snapshot/v=0/part-0.parquet")
    run.put("preload_s", time.perf_counter() - t, "s")
    t = time.perf_counter()
    for d in range(WARM_DAYS):
        st["done"].append((d, _one_day(run, st, d)))
    run.put("warm_s", time.perf_counter() - t, "s")
    return st


def measure(run, st: dict, seconds: float) -> None:
    st["t_window"] = time.time()
    t0 = time.perf_counter()
    for d in range(len(st["done"]), len(st["inp"]["days"])):
        if d >= WARM_DAYS + MIN_DAYS and time.perf_counter() - t0 >= seconds:
            break
        st["done"].append((d, _one_day(run, st, d)))


# ------------------------------------------------------------ post-run

def check(run, st: dict) -> None:
    inp, root = st["inp"], st["root"]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE snap AS SELECT * FROM read_parquet('{inp['dir']}/snapshot.parquet')")
    sizes = [con.execute("SELECT count(*) FROM snap").fetchone()[0]]
    for d, _ in st["done"]:
        day = inp["days"][d]["day"]
        con.execute(f"CREATE OR REPLACE TABLE delta AS SELECT * FROM "
                    f"read_parquet('{inp['dir']}/days/{day}.rows.parquet')")
        con.execute("CREATE OR REPLACE TABLE ref AS " + HIVE_MERGE_SQL)
        got = f"read_parquet('{root}/snapshot/v={d + 1}/*.parquet', hive_partitioning = false)"
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM {got} EXCEPT ALL SELECT * FROM ref)) + "
            f"(SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL SELECT * FROM {got}))").fetchone()[0]
        if diff:
            run.fail(f"cdc_daily: day {day} snapshot differs from the Hive-SQL reference "
                     f"in {diff} rows")
        con.execute("CREATE OR REPLACE TABLE snap AS SELECT * FROM ref")
        sizes.append(con.execute("SELECT count(*) FROM snap").fetchone()[0])
    con.close()
    st["snapshot_rows"] = sizes


def _timed(st: dict) -> list[tuple[int, int, float]]:
    """(position, day index, seconds) of every timed day."""
    return [(i, d, s) for i, (d, s) in enumerate(st["done"]) if i >= WARM_DAYS]


def results(run, st: dict) -> None:
    days = _timed(st)
    secs = [s for _, _, s in days]
    rows = sum(st["snapshot_rows"][i] + st["inp"]["days"][d]["rows"] for i, d, _ in days)
    run.put("throughput_per_s", rows / sum(secs), "1/s", len(secs))
    run.put_samples("latency_p50_s", secs, "s")
    run.put("day_max_s", max(secs), "s", len(secs))
    run.put_drift("cdc_daily.drift", secs)
    run.put("snapshot_growth", st["snapshot_rows"][-1] / st["snapshot_rows"][0] - 1, "ratio")


def layers(run, st: dict) -> None:
    tr = run.tracer
    days = _timed(st)
    n = len(days)
    timed = [s for s in tr.spans if s.t0 >= st["t_window"]]
    canal = [s for s in timed if s.name == "canal:land"]
    merge = [s for s in timed if s.name == "merge:day"]
    run.put_samples("canal.day_s", [s.wall_s for s in canal], "s")
    run.put("canal.rows_out", tr.stage_sum(canal, "output_rows") / n, "count", n)
    run.put("canal.ddl_dropped", sum(st["inp"]["days"][d]["ddl"] for _, d, _ in days) / n, "count", n)
    run.put_samples("merge.day_s", [s.wall_s for s in merge], "s")
    # the staged swap runs on the driver after the merge's last stage
    run.put_samples("merge.swap_s", [s.t1 - max(x["t1"] or s.t1 for x in s.stages)
                                     for s in merge if s.stages], "s")
    run.put("merge.rows_written", tr.stage_sum(merge, "output_rows") / n, "count", n)
    run.put("sources.scan_bytes", tr.stage_sum(canal + merge, "input_bytes") / n, "B", n)
    put_layer_counts(run, {"canal": (canal, n), "merge": (merge, n)})
    run.samples["days"] = [float(d) for _, d, _ in days]
    run.props["days_timed"] = n
    run.props["snapshot_rows_final"] = int(np.asarray(st["snapshot_rows"])[-1])
