"""The benchmark's own tests: generator determinism, checks that catch a
deliberately corrupted output, tiny-size smoke runs of every workload
(traced and untraced), and Spark job/stage counts that repeat for one
seed.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root. The smoke runs start Spark (about a
minute each); the other tests need no Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run as bench  # noqa: E402
from perfbench import wl_cdc_daily, wl_cdc_stream, wl_llm_data  # noqa: E402

MODULES = {"cdc_stream": wl_cdc_stream, "cdc_daily": wl_cdc_daily, "llm_data": wl_llm_data}
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
GATED = [w["name"] for w in SPEC["workloads"]]


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(MODULES))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, workload):
    digests = []
    for i, seed in enumerate((3, 3, 4)):
        d = tmp_path / str(i)
        d.mkdir()
        MODULES[workload].build_inputs(str(d), seed, "tiny")
        digests.append(_digest(str(d)))
    assert digests[0] and digests[0] == digests[1]
    assert digests[0] != digests[2]


def _new_run(tmp_path) -> bench.Run:
    return bench.Run("test", 1, str(tmp_path / "work"), "tiny", trace=False)


def test_cdc_stream_check_catches_a_corrupted_snapshot(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    wl_cdc_stream.build_inputs(str(d), 1, "tiny")
    rows = f"{d}/rows.parquet"
    last = gen.read_json(f"{d}/meta.json")["files"]["live"][-1]["last"]
    con = duckdb.connect()
    wl_cdc_stream.snapshot_diff(con, rows, last, f"{d}/snapshot.parquet")
    snap = con.execute("SELECT * FROM want").arrow()
    os.makedirs(tmp_path / "snap")
    pq.write_table(snap, tmp_path / "snap" / "part-0.parquet")
    assert wl_cdc_stream.snapshot_diff(con, rows, last, f"{tmp_path}/snap/*.parquet") == 0
    amount = snap["amount"].to_pylist()
    amount[0] = "-1"
    pq.write_table(snap.set_column(snap.schema.get_field_index("amount"), "amount", pa.array(amount)),
                   tmp_path / "snap" / "part-0.parquet")
    assert wl_cdc_stream.snapshot_diff(con, rows, last, f"{tmp_path}/snap/*.parquet") == 2


def test_cdc_daily_check_catches_a_corrupted_snapshot(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    wl_cdc_daily.build_inputs(str(d), 1, "tiny")
    inp = {"dir": str(d), "days": gen.read_json(f"{d}/days.json")}
    con = duckdb.connect()
    con.execute(f"CREATE TABLE snap AS SELECT * FROM read_parquet('{d}/snapshot.parquet')")
    con.execute(f"CREATE TABLE delta AS SELECT * FROM "
                f"read_parquet('{d}/days/{inp['days'][0]['day']}.rows.parquet')")
    ref = con.execute(wl_cdc_daily.HIVE_MERGE_SQL).df()
    for corrupt in (False, True):
        run = _new_run(tmp_path / str(corrupt))
        root = tmp_path / f"out-{corrupt}"
        out = root / "snapshot" / "v=1"
        os.makedirs(out)
        got = ref.copy()
        if corrupt:
            got.loc[0, "amount"] = "-1"
        pq.write_table(pa.Table.from_pandas(got, preserve_index=False), out / "part-0.parquet")
        wl_cdc_daily.check(run, {"inp": inp, "root": str(root), "done": [(0, 1.0)]})
        assert run.failed == (1 if corrupt else 0), run.errors


def _shard_outputs(out: str, truth: dict) -> None:
    """Stage outputs exactly as the ground truth predicts them."""
    keepers = {int(k): v for k, v in truth["keepers"].items()}
    for name, table in {
        "keepers": pa.table({"doc_id": list(keepers), "n_copies": list(keepers.values())}),
        "pairs": pa.table({"doc_a": list(range(truth["near_pairs"]))}),
        "substr": pa.table({"n_tokens": [10] * (truth["shortened"] + 3),
                            "n_tokens_kept": [5] * truth["shortened"] + [10] * 3}),
    }.items():
        os.makedirs(f"{out}/{name}")
        pq.write_table(table, f"{out}/{name}/part-0.parquet")


def test_llm_data_check_catches_a_wrong_duplicate_count(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    wl_llm_data.build_inputs(str(d), 1, "tiny")
    inp = {"dir": str(d), "truth": gen.read_json(f"{d}/truth.json")}
    for corrupt in (False, True):
        out = str(tmp_path / f"out-{corrupt}")
        _shard_outputs(out, inp["truth"][0])
        if corrupt:
            k = pq.read_table(f"{out}/keepers").to_pydict()
            k["n_copies"][0] += 1
            pq.write_table(pa.table(k), f"{out}/keepers/part-0.parquet")
        run = _new_run(tmp_path / str(corrupt))
        wl_llm_data.check_shard(run, inp, {"shard": 0, "out": out})
        assert run.failed == (1 if corrupt else 0), run.errors


def test_llm_data_recall_of_wrong_neighbours_is_below_the_floor(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    wl_llm_data.build_inputs(str(d), 1, "tiny")
    ids, vecs = wl_llm_data._vectors([f"{d}/base/part-0.parquet"])
    q_ids, q_vecs = wl_llm_data._vectors([f"{d}/queries/part-0.parquet"])
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    top = np.argsort(-(q_vecs / np.linalg.norm(q_vecs, axis=1, keepdims=True)) @ unit.T,
                     axis=1)[:, :wl_llm_data.K]
    right = [(int(q), int(ids[t])) for q, row in zip(q_ids, top) for t in row]
    wrong = [(q, int(ids[(np.searchsorted(ids, nb) + 7) % len(ids)])) for q, nb in right]
    assert wl_llm_data.recall(vecs, ids, q_vecs, q_ids, right) == 1.0
    assert wl_llm_data.recall(vecs, ids, q_vecs, q_ids, wrong) < wl_llm_data.RECALL_FLOOR


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", GATED[0], "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _smoke(workload: str, trace: int, seed: int = 5) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    return last


@pytest.mark.parametrize("workload", sorted(MODULES))
def test_tiny_smoke_run_untraced(workload):
    last = _smoke(workload, 0)
    assert set(last["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in last["metrics"].values())


@pytest.mark.parametrize("workload", sorted(set(MODULES) - set(GATED)))
def test_tiny_smoke_run_traced(workload):
    last = _smoke(workload, 1)
    assert set(last["metrics"]) == {m["name"] for m in SPEC["per_layer"]}


@pytest.mark.parametrize("workload", GATED)
def test_tiny_traced_runs_repeat_job_and_stage_counts(workload):
    first, second = _smoke(workload, 1), _smoke(workload, 1)
    assert set(first["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    counts = [k for k in first["metrics"] if k.endswith((".jobs", ".stages"))]
    mine = [k for k in counts if k.split(".")[0] in MODULES[workload].LAYERS]
    assert mine and all(first["metrics"][k]["value"] > 0 for k in mine)
    assert {k: first["metrics"][k]["value"] for k in counts} == \
        {k: second["metrics"][k]["value"] for k in counts}
