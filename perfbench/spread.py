"""Run a workload over several seeds and report the spread of each
end-to-end metric: the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median.

    python3 perfbench/spread.py --workload cdc_stream --seeds 1-10 [--seconds 12]

Each run's last output line and its host steal share are kept, one
JSON line per run, in `.perfbench/spread/<workload>-<label>.jsonl`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(rows: list[dict]) -> dict:
    out = {}
    for name in rows[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in rows]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "spread": (q3 - q1) / med, "values": vals}
    out["host.steal_frac"] = [r["steal_frac"] for r in rows]
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None,
                   help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--label", default="set")
    a = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        seconds = a.seconds or json.load(f)["run_seconds"]
    os.makedirs(".perfbench/spread", exist_ok=True)
    log = f".perfbench/spread/{a.workload}-{a.label}.jsonl"
    rows = []
    for seed in seeds(a.seeds):
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           capture_output=True, text=True, timeout=600)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            return 1
        named = json.loads(lines[-2][len("perfbench: "):])
        row = {"seed": seed, **json.loads(lines[-1]), "steal_frac": named["host"]["steal_frac"]}
        rows.append(row)
        with open(log, "a") as f:
            f.write(json.dumps(row) + "\n")
        print(json.dumps({"seed": seed, "steal": round(row["steal_frac"], 4),
                          **{k: round(v["value"], 4) for k, v in row["metrics"].items()}}), flush=True)
    if len(rows) < 2:
        return 0
    s = summarize(rows)
    for name, v in s.items():
        if name != "host.steal_frac":
            print(f"{a.workload} {name}: median {v['median']:.4g} spread {v['spread']:.3f}")
    print(f"{a.workload} host.steal_frac: {[round(x, 4) for x in s['host.steal_frac']]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
