"""cdc_stream: the paper's real-time half as deployed.

`read_file_stream` -> `start_ingest` (Canal chain, dt-partitioned
parquet sink), and `start_continuous_merge` consuming the ingest sink's
committed output as a stream into a parquet snapshot keyed by `uid`.

* Set-up: the snapshot is preloaded with one row per key of the key
  space (what a replay of one INSERT per key leaves), so it holds its
  size from then on. Then untimed replays, one after the other: a
  small one starts both queries cold, and DRAINS of the backlog's size
  follow (replay drains keep speeding up over their first four or five).
* Replay (timed): DRAINS fixed backlogs of Zipf-keyed envelopes, each
  drained with available-now triggers, ingest then merge (Kafka-earliest
  catch-up). `throughput_per_s` = backlog envelopes / drain time, summed
  over the drains.
* Live (timed): an open loop. One pre-rendered file lands in the source
  directory LEAD_S before every instant of the ingest trigger grid
  (processing-time triggers fire on multiples of the interval since the
  epoch), whatever the pipeline is doing. The trigger is longer than one
  ingest batch plus one merge batch, so the two cadences do not beat.
  Each envelope is due when its file lands; its freshness runs until
  the merge batch that holds it commits. A file's freshness is that of
  its last envelope to commit. `latency_p50_s` is the median over every
  file but the first, which is the new queries' first batch and runs
  untimed.

Freshness is computed after the run from the merge checkpoint's source
and commit logs and the ingest files they name, so measuring adds no
Spark job. Checked: the final snapshot equals a DuckDB latest-per-key
over every generated row image.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.tracer import put_layer_counts

#: live_files: the live phase's files, the first of them untimed
SIZES = {
    "full": {"n_keys": 20_000, "warm": 2_000, "backlog": 40_000, "file_envelopes": 3_000,
             "live_files": 11},
    "tiny": {"n_keys": 500, "warm": 200, "backlog": 1_000, "file_envelopes": 100, "live_files": 5},
}
ZIPF_S = 1.1
DDL_SHARE = 0.03
LATE_SHARE = 0.05
LATE_MAX_MS = gen.DAY_MS
#: backlogs drained untimed in set-up, and again timed
DRAINS = 2
BACKLOG_FILES = 8
#: ingest trigger interval, s: longer than an ingest plus a merge batch
TRIGGER_S = 2
#: each live file lands this long before a trigger instant
LEAD_S = 0.25

LAYERS = ("ingest", "merge_sink", "replay", "cdc_stream", "gen")

INGEST_SCHEMA = (
    "id BIGINT, es BIGINT, ts BIGINT, type STRING, uid STRING, city STRING, "
    "province STRING, amount STRING, event_time STRING, dt STRING"
)
COLS = [c.split()[0] for c in INGEST_SCHEMA.split(", ")]


def _segment(rng, n: int, keys, first_id: int, state: dict, max_rows: int = 3,
             ddl_share: float = DDL_SHARE):
    ev = gen.cdc_events(rng, n, keys, start_ms=gen.T0_MS + gen.DAY_MS // 2 + first_id * 500,
                        span_ms=n * 500, ddl_share=ddl_share, late_share=LATE_SHARE,
                        late_max_ms=LATE_MAX_MS, first_id=first_id, max_rows=max_rows)
    return gen.render_envelopes(ev, state)


def _write_files(root: str, folder: str, per_env, n_files: int, first_id: int) -> list[dict]:
    out = []
    bounds = np.linspace(0, len(per_env), n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        name = f"{folder}-{f:05d}.jsonl"
        gen.write_lines(os.path.join(root, folder, name), [ln for ls in per_env[lo:hi] for ln in ls])
        out.append({"name": name, "first": first_id + lo, "last": first_id + hi})
    return out


def build_inputs(d: str, seed: int, size: str) -> None:
    s = SIZES[size]
    rng = gen.rng_for(seed, "cdc_stream")
    state: dict[int, str] = {}
    n_live = s["live_files"] * s["file_envelopes"]
    # the preload: one INSERT per key, merged into the initial snapshot
    perm = rng.permutation(s["n_keys"])
    _, rows = _segment(rng, s["n_keys"], np.repeat(perm, 2), 0, state, max_rows=1,
                        ddl_share=0.0)
    snap = gen.rows_table(rows)
    dt = [time.strftime("%Y%m%d", time.gmtime(es / 1000)) for es in snap["es"].to_pylist()]
    pq.write_table(snap.append_column("dt", pa.array(dt)).select(COLS), f"{d}/snapshot.parquet")
    nxt = s["n_keys"]
    meta = {"n_keys": s["n_keys"], "files": {}}
    for name, n, n_files in (("warm", s["warm"], 1),
                             ("warm_backlog", DRAINS * s["backlog"], DRAINS * BACKLOG_FILES),
                             ("replay", DRAINS * s["backlog"], DRAINS * BACKLOG_FILES),
                             ("live", n_live, s["live_files"])):
        keys = gen.zipf_keys(rng, s["n_keys"], ZIPF_S, 6 * n)
        per_env, seg_rows = _segment(rng, n, keys, nxt, state)
        meta["files"][name] = _write_files(d, name, per_env, n_files, nxt)
        rows.extend(seg_rows)
        nxt += n
    pq.write_table(gen.rows_table(rows), os.path.join(d, "rows.parquet"))
    gen.write_json(os.path.join(d, "meta.json"), meta)


def generate(run, base: str):
    d = gen.cached(base, f"cdc_stream-{run.size}-s{run.seed}",
                          lambda d: build_inputs(d, run.seed, run.size))
    run.props.update({"key_space": SIZES[run.size]["n_keys"], "zipf_s": ZIPF_S,
                      "ddl_share": DDL_SHARE, "late_share": LATE_SHARE,
                      "late_max_s": LATE_MAX_MS / 1000, "trigger_s": TRIGGER_S,
                      "lead_s": LEAD_S, "backlog_envelopes": SIZES[run.size]["backlog"],
                      "replay_drains": DRAINS,
                      "live_file_envelopes": SIZES[run.size]["file_envelopes"],
                      "live_rate_eps": SIZES[run.size]["file_envelopes"] / TRIGGER_S})
    return {"dir": d, "meta": gen.read_json(os.path.join(d, "meta.json"))}


# ------------------------------------------------------------------ ops

def _stage(inp: dict, root: str, folder: str, hidden: bool = False, part: slice = slice(None)
           ) -> list[str]:
    """Copy a segment's files, or a slice of them, into the source
    directory (hidden names are ignored by the file source until
    renamed)."""
    out = []
    for f in inp["meta"]["files"][folder][part]:
        dst = os.path.join(root, "src", ("." if hidden else "") + f["name"])
        shutil.copyfile(os.path.join(inp["dir"], folder, f["name"]), dst)
        out.append(dst)
    return out


def _ingest(run, root: str, available_now: bool):
    from flink_etl_spark.config import SinkConfig
    from flink_etl_spark.streaming.ingest import read_file_stream, start_ingest

    return start_ingest(
        read_file_stream(run.spark, f"{root}/src"), gen.PAYLOAD_COLS,
        SinkConfig(path=f"{root}/sink", checkpoint_location=f"{root}/ck_ingest",
                   trigger_seconds=TRIGGER_S),
        available_now=available_now)


def _merge(run, root: str, available_now: bool):
    from flink_etl_spark.streaming.merge_sink import start_continuous_merge

    changes = run.spark.readStream.schema(INGEST_SCHEMA).parquet(f"{root}/sink")
    return start_continuous_merge(changes, f"{root}/snapshot", ["uid"], f"{root}/ck_merge",
                                  available_now=available_now)


def _raise_if_failed(q) -> None:
    exc = q.exception()
    if exc is not None:
        raise RuntimeError(str(exc))


def _replay(run, root: str, inp: dict, folder: str, tag: str) -> list[tuple[float, float]]:
    """DRAINS backlogs of a segment, one after the other; each backlog's
    ingest and merge wall times."""
    walls = []
    for k in range(DRAINS):
        _stage(inp, root, folder, part=slice(k * BACKLOG_FILES, (k + 1) * BACKLOG_FILES))
        walls.append(_drain(run, root, tag))
    return walls


def _drain(run, root: str, tag: str) -> tuple[float, float]:
    """Ingest, then merge, everything in the source directory with
    available-now triggers; returns the two wall times."""
    walls = []
    for layer, start in (("ingest", _ingest), ("merge_sink", _merge)):
        t = time.perf_counter()
        with run.op(f"{layer}:{tag}"):
            q = start(run, root, True)
            q.awaitTermination()
            _raise_if_failed(q)
        walls.append(time.perf_counter() - t)
    return walls[0], walls[1]


def setup(run, inp: dict) -> dict:
    root = run.dir("stream")
    os.makedirs(f"{root}/src")
    t = time.perf_counter()
    os.makedirs(f"{root}/snapshot")
    shutil.copyfile(f"{inp['dir']}/snapshot.parquet", f"{root}/snapshot/part-0.parquet")
    run.put("preload_s", time.perf_counter() - t, "s")
    t = time.perf_counter()
    _stage(inp, root, "warm")
    _drain(run, root, "warm")
    _replay(run, root, inp, "warm_backlog", "warm")
    run.put("warm_s", time.perf_counter() - t, "s")
    return {"root": root, "inp": inp}


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress] if q is not None else []


def _live(run, st: dict) -> dict:
    """Start both queries, land files on the trigger grid, drain."""
    root = st["root"]
    pending = _stage(st["inp"], root, "live", hidden=True)
    log: list[tuple[int, float, float]] = []  # (file index, due, landed)
    t_start = time.time()
    ingest = merge = None
    with run.op("stream:live") as span:
        ingest = _ingest(run, root, False)
        merge = _merge(run, root, False)
        # the first file lands LEAD_S before the second trigger instant
        # from now, so both queries are past their first (empty) batch
        t0 = (math.floor(time.time() / TRIGGER_S) + 2) * TRIGGER_S - LEAD_S

        errors: list[Exception] = []

        def feed():
            try:
                for k, path in enumerate(pending):
                    due = t0 + k * TRIGGER_S
                    time.sleep(max(0.0, due - time.time()))
                    d, name = os.path.split(path)
                    os.rename(path, os.path.join(d, name[1:]))
                    log.append((k, due, time.time()))
            except Exception as e:  # re-raised in the op below
                errors.append(e)

        feeder = threading.Thread(target=feed, name="perfbench-feed", daemon=True)
        feeder.start()
        feeder.join()
        if errors:
            raise errors[0]
        ingest.processAllAvailable()
        merge.processAllAvailable()
        _raise_if_failed(ingest)
        _raise_if_failed(merge)
        ingest.stop()
        merge.stop()
    for name, q in (("ingest:live", ingest), ("merge_sink:live", merge)):
        if q is not None:
            run.tracer.stream_span(name, q, t_start, span.t1)
    return {"log": log, "t_start": t_start, "n_files": len(pending),
            "ingest": _progress(ingest), "merge": _progress(merge)}


def measure(run, st: dict, seconds: float) -> None:
    root = st["root"]
    st["replay"] = _replay(run, root, st["inp"], "replay", "replay")
    # the live phase lands a fixed number of files, so its median rests
    # on the same number of ops whatever --seconds is
    st["live"] = _live(run, st)


# ------------------------------------------------------------ post-run

def _log_entries(dirpath: str) -> list[dict]:
    """Every JSON entry of a Spark metadata log directory (a source log
    or a file sink's _spark_metadata), compacted batch files included."""
    out = []
    if not os.path.isdir(dirpath):
        return out
    for name in os.listdir(dirpath):
        if name.split(".")[0].isdigit():
            with open(os.path.join(dirpath, name)) as f:
                out.extend(json.loads(ln) for ln in f.read().splitlines() if ln.startswith("{"))
    return out


def _local(path: str) -> str:
    return "/" + path[len("file:"):].lstrip("/") if path.startswith("file:") else path


def _ids_in(path: str) -> np.ndarray:
    return np.unique(pq.read_table(_local(path), columns=["id"])["id"].to_numpy())


def _commit_times(ck: str) -> dict[int, float]:
    d = f"{ck}/commits"
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(f"{d}/{n}").st_mtime for n in os.listdir(d) if n.isdigit()}


def freshness(st: dict) -> dict:
    """Per-file freshness of the live phase, from checkpoint logs: merge
    batch b's source log names the ingest files it read, and
    `commits/b` is written once the batch's snapshot swap finished."""
    root, live = st["root"], st["live"]
    files = st["inp"]["meta"]["files"]["live"]
    due_of = np.full(files[live["n_files"] - 1]["last"], np.nan)
    for k, due, _ in live["log"]:
        due_of[files[k]["first"]: files[k]["last"]] = due
    commits = _commit_times(f"{root}/ck_merge")
    # envelope id -> commit time of the merge batch that holds it
    fresh: dict[int, float] = {}
    for e in _log_entries(f"{root}/ck_merge/sources/0"):
        b = int(e["batchId"])
        if b not in commits:
            continue
        ids = _ids_in(e["path"])
        ids = ids[(ids < len(due_of))]
        ids = ids[~np.isnan(due_of[ids])]
        for i in ids:
            fresh[int(i)] = commits[b] - due_of[i]
    per_file = []
    for k, due, _ in live["log"]:
        vals = [fresh[i] for i in range(files[k]["first"], files[k]["last"]) if i in fresh]
        per_file.append(max(vals) if vals else math.nan)
    # ingest backlog: files landed but not yet in a committed ingest batch
    in_batch: dict[str, int] = {}
    for e in _log_entries(f"{root}/ck_ingest/sources/0"):
        in_batch[os.path.basename(_local(e["path"]))] = int(e["batchId"])
    ing_commits = _commit_times(f"{root}/ck_ingest")
    spans = []
    for k, _, landed in live["log"]:
        b = in_batch.get(files[k]["name"])
        spans.append((landed, ing_commits.get(b, math.inf) if b is not None else math.inf))
    backlog = max((sum(1 for a, b in spans if a <= t < b) for t, _ in spans), default=0)
    sink = [e for e in _log_entries(f"{root}/sink/_spark_metadata")
            if e.get("action") == "add" and e["modificationTime"] / 1000.0 >= live["t_start"]]
    return {"envelopes": fresh, "per_file": per_file, "backlog_max_files": backlog,
            "files_written": len(sink), "late": [landed - due for _, due, landed in live["log"]]}


def snapshot_diff(con, rows_path: str, last_id: int, snapshot_glob: str) -> int:
    """Rows by which the snapshot files differ from a latest-per-key over
    every row image with id < last_id (both directions)."""
    con.execute(f"CREATE OR REPLACE TABLE ev AS SELECT * FROM read_parquet('{rows_path}') "
                f"WHERE id < {last_id}")
    con.execute("""CREATE OR REPLACE TABLE want AS
        SELECT id, es, ts, type, uid, city, province, amount, event_time,
               strftime(make_timestamp(es * 1000), '%Y%m%d') AS dt
        FROM ev QUALIFY row_number() OVER (PARTITION BY uid
                                           ORDER BY event_time DESC, es DESC, ts DESC) = 1""")
    con.execute(f"CREATE OR REPLACE TABLE got AS SELECT {', '.join(COLS)} FROM "
                f"read_parquet('{snapshot_glob}', hive_partitioning = false)")
    return con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)) + "
        "(SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))").fetchone()[0]


def check(run, st: dict) -> None:
    meta = st["inp"]["meta"]
    last = meta["files"]["live"][st["live"]["n_files"] - 1]["last"]
    con = duckdb.connect()
    try:
        diff = snapshot_diff(con, f"{st['inp']['dir']}/rows.parquet", last,
                             f"{st['root']}/snapshot/*.parquet")
        if diff:
            run.fail(f"cdc_stream: final snapshot differs from latest-per-key in {diff} rows")
        st["snapshot_rows"] = con.execute("SELECT count(*) FROM got").fetchone()[0]
        st["live_rows"], st["live_dml"] = con.execute(
            f"SELECT count(*), count(DISTINCT id) FROM ev "
            f"WHERE id >= {meta['files']['live'][0]['first']}").fetchone()
    except duckdb.Error as e:
        run.fail(f"cdc_stream: snapshot unreadable ({e})")
    con.close()
    st["fresh"] = fr = freshness(st)
    n_dml = st.get("live_dml", -1)
    if (len(fr["envelopes"]) != n_dml or len(fr["per_file"]) != len(meta["files"]["live"])
            or any(math.isnan(x) for x in fr["per_file"])):
        run.fail(f"cdc_stream: {len(fr['envelopes'])} of {n_dml} live DML envelopes "
                 "reached the snapshot")


def results(run, st: dict) -> None:
    fr = st["fresh"]
    walls = st["replay"]
    backlog = SIZES[run.size]["backlog"]
    run.put("throughput_per_s", backlog * len(walls) / sum(map(sum, walls)), "1/s", len(walls))
    run.samples["replay_drain_s"] = [sum(w) for w in walls]
    run.put("replay.ingest_s", sum(w[0] for w in walls), "s", len(walls))
    run.put("replay.merge_s", sum(w[1] for w in walls), "s", len(walls))
    # one sample per timed file: its envelopes commit in one merge batch
    per_file = [x for x in fr["per_file"][1:] if not math.isnan(x)]
    if per_file:
        run.put_samples("latency_p50_s", per_file, "s")
        run.put_samples("fresh_p99_s", per_file, "s", q=0.99)
        run.put_drift("cdc_stream.drift", per_file)
    run.put("gen.late_max_s", max(fr["late"], default=0.0), "s", len(fr["late"]))
    run.put("live_files", st["live"]["n_files"], "count")


def _p50(progress: list[dict], *keys: str) -> tuple[float, int]:
    rows = [p for p in progress if p.get("numInputRows", 0) > 0]
    vals = [sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0 for p in rows]
    return (float(np.median(vals)) if vals else 0.0), len(vals)


def layers(run, st: dict) -> None:
    fr, live = st["fresh"], st["live"]
    for name, keys in (("batch_p50_s", ("triggerExecution",)), ("addbatch_p50_s", ("addBatch",)),
                       ("planning_p50_s", ("queryPlanning",)),
                       ("offsets_p50_s", ("latestOffset", "getBatch")),
                       ("commit_p50_s", ("walCommit", "commitOffsets"))):
        v, n = _p50(live["ingest"], *keys)
        run.put(f"ingest.{name}", v, "s", n)
    for name, keys in (("batch_p50_s", ("triggerExecution",)), ("addbatch_p50_s", ("addBatch",))):
        v, n = _p50(live["merge"], *keys)
        run.put(f"merge_sink.{name}", v, "s", n)
    run.put("ingest.files_written", fr["files_written"], "count")
    run.put("ingest.backlog_max_files", fr["backlog_max_files"], "count")
    merge_batches = sum(1 for p in live["merge"] if p.get("numInputRows", 0) > 0)
    run.put("merge_sink.rows_rewritten_per_row",
            st.get("snapshot_rows", 0) * merge_batches / max(st.get("live_rows", 0), 1), "ratio")
    tr = run.tracer
    ing = [s for s in tr.layer("ingest") if s.name in ("ingest:replay", "ingest:live")]
    mrg = [s for s in tr.layer("merge_sink") if s.name in ("merge_sink:replay", "merge_sink:live")]
    n_ing = 1 + sum(1 for p in live["ingest"] if p.get("numInputRows", 0) > 0)
    put_layer_counts(run, {"ingest": (ing, n_ing), "merge_sink": (mrg, 1 + merge_batches)})
