"""Run one benchmark workload against the flink_etl_spark checkout in
the current directory.

    python3 perfbench/run.py --workload cdc_daily --seed 7 --seconds 15 --trace 0

Inputs are generated from the seed outside set-up (cached per seed in
`.perfbench/inputs/`, timed as `generate_s`). Set-up (`setup_s`) is
session start, the workload's preload and its untimed warm-up. Then the
workload runs for `--seconds`; then its outputs are checked against
references computed outside the timed window. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). The line before it, prefixed `perfbench:`,
holds every named metric with its unit and sample count, the settings
and host health. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import platform
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

WORKLOADS = ("cdc_stream", "cdc_daily", "llm_data")

#: end-to-end metrics every workload prints, with units
E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s"}

#: Spark task threads: one vCPU fewer than the host has, so the driver,
#: the feeder thread and GC keep one; capped so hosts of different
#: sizes run the same plans
MAX_THREADS = 4
#: driver heap, fixed: the heap passed to get_spark and -Xms equal to it.
#: Measured against get_spark's own 8 GB grown on demand, seed by seed:
#: llm_data shards ran 8-17% faster (see README.md)
HEAP = "4g"
#: a run whose CPU steal share exceeds this is flagged
STEAL_FLAG = 0.05


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no samples")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def drift(samples) -> float | None:
    """Median of the last third of a run's ops over that of the first
    third (1.0 is no drift); None for fewer than three ops, where the
    thirds would share or be one op."""
    n = len(samples)
    if n < 3:
        return None
    k = n // 3
    return quantile(samples[-k:], 0.5) / quantile(samples[:k], 0.5)


class Run:
    """State of one workload run: session, work directory, tracer,
    named metrics, and the count of operations attempted and failed."""

    def __init__(self, workload: str, seed: int, work: str, size: str, trace: bool):
        self.workload, self.seed, self.work, self.size, self.trace = workload, seed, work, size, trace
        self.spark = None
        self.threads = 1
        self.tracer = None
        self.props: dict = {}
        self.metrics: dict[str, dict] = {}
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def dir(self, *parts: str) -> str:
        """A directory under the run's work directory, made."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def put(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit, "n": int(n)}

    def put_drift(self, name: str, samples) -> None:
        """`<workload>.drift` over the timed ops' times, when there are
        enough ops to have one; otherwise the record says why not."""
        d = drift(samples)
        if d is None:
            self.props[name] = f"not measured: {len(samples)} timed op(s), drift needs 3"
        else:
            self.put(name, d, "ratio", len(samples))

    def put_samples(self, name: str, samples, unit: str, q: float = 0.5) -> None:
        self.samples[name] = [float(x) for x in samples]
        self.put(name, quantile(samples, q), unit, len(samples))

    @contextmanager
    def op(self, span: str):
        """One operation: counted as attempted, and as failed if it
        raises. The exception is recorded, not propagated, so the run
        still reports."""
        self.attempted += 1
        with self.tracer.span(span) as s:
            try:
                yield s
            except Exception:
                self.failed += 1
                self.errors.append(f"{span}: {traceback.format_exc(limit=4)}")

    def fail(self, what: str) -> None:
        """A correctness check that did not hold."""
        self.failed += 1
        self.errors.append(what)

    def guarded(self, what: str, fn, *args) -> None:
        """A post-window step; if it raises, the run fails with the error
        named and still reports."""
        try:
            fn(*args)
        except Exception:
            self.fail(f"{what}: {traceback.format_exc(limit=4)}")


# ------------------------------------------------------------ host health

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"cpu": _cpu_times(), "load1": load1}


def host_health(before: dict, after: dict) -> dict:
    d = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    steal = d[7] / (sum(d) or 1) if len(d) > 7 else 0.0
    return {"steal_frac": steal, "load1_start": before["load1"], "load1_end": after["load1"],
            "nproc": os.cpu_count()}


def _descendants(pid: int) -> list[int]:
    """Every live process below `pid`, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.time() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# ------------------------------------------------------------- session

def settings() -> dict:
    """The steadiness settings of a run, recorded in every result."""
    avail = len(os.sched_getaffinity(0))
    return {"threads": max(1, min(MAX_THREADS, avail - 1)), "heap": HEAP, "warmups": "serial",
            "vcpus": avail}


def start_session(run: Run, conf: dict):
    from flink_etl_spark.session import get_spark

    tmp = run.dir("tmp")
    # every scratch file of Spark, the JVM and Python stays in the checkout
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{conf['heap']}"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    extra = {
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": run.dir("warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": conf["heap"],
    }
    if run.trace:
        # keep every job, stage and SQL execution in the status store
        extra.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                      "spark.sql.ui.retainedExecutions": "100000"})
    return get_spark(app_name=f"perfbench-{run.workload}", master=f"local[{conf['threads']}]",
                     extra_conf=extra)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    _wait_gone(kids, 20)
    SparkContext._gateway = None
    SparkContext._jvm = None


def tree_hash(root: str) -> str:
    """Hash of the program's and the benchmark's Python sources, so that
    results of different code are never compared."""
    h = hashlib.sha256()
    for top in ("flink_etl_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    h.update(os.path.relpath(os.path.join(d, f), root).encode())
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- main

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", choices=("full", "tiny"),
                   help="input size; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_etl_spark", "__init__.py")):
        print("perfbench: run from the root of a flink_etl_spark checkout "
              "(flink_etl_spark/ not found)", file=sys.stderr)
        return 2
    if root not in sys.path:
        sys.path.insert(0, root)
    try:
        import flink_etl_spark  # noqa: F401
        from perfbench.tracer import Tracer
        wl = importlib.import_module(f"perfbench.wl_{args.workload}")
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run = Run(args.workload, args.seed, work, args.size, bool(args.trace))
    conf = settings()
    run.threads = conf["threads"]

    tg = time.perf_counter()
    inp = wl.generate(run, os.path.join(base, "inputs"))
    generate_s = time.perf_counter() - tg
    h0 = host_snapshot()
    t0 = time.perf_counter()
    run.spark = spark = start_session(run, conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    start_s = time.perf_counter() - t0
    run.tracer = Tracer(spark, enabled=run.trace, threads=run.threads)
    if run.trace and hasattr(wl, "instrument"):
        wl.instrument(run)
    try:
        st = wl.setup(run, inp)
        setup_s = time.perf_counter() - t0
        tm = time.perf_counter()
        run.guarded("measure", wl.measure, run, st, args.seconds)
        window_s = time.perf_counter() - tm
        run.tracer.collect()
        tc = time.perf_counter()
        run.guarded("check", wl.check, run, st)
        run.put("harness.check_s", time.perf_counter() - tc, "s")
        run.guarded("results", wl.results, run, st)
        if run.trace:
            run.guarded("layers", wl.layers, run, st)
        jvm = spark._jvm
        versions = {"spark": spark.version, "python": platform.python_version(),
                    "java": jvm.java.lang.System.getProperty("java.version")}
        args_in = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        conf["heap_flags"] = [str(a) for a in args_in if str(a).startswith("-Xm")]
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    host = host_health(h0, host_snapshot())
    run.put("harness.total_s", time.perf_counter() - t_main, "s")

    run.put("setup_s", setup_s, "s")
    run.put("session.start_s", start_s, "s")
    run.put("generate_s", generate_s, "s")
    run.put("harness.window_s", window_s, "s")
    run.put("fail_frac", run.failed / max(run.attempted, 1), "ratio", run.attempted)
    run.put("host.steal_frac", host["steal_frac"], "ratio")
    run.put("host.load1", host["load1_end"], "load")

    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{args.workload}-seed{args.seed}")
    tree = tree_hash(root)
    correct = run.failed == 0
    missing = [m for m in E2E_UNITS if m not in run.metrics]
    if run.trace:
        # the tracer's own bookkeeping time per window second
        run.put("trace.overhead_frac", run.tracer.overhead_s / max(window_s, 1e-9), "ratio")
        # and, beside it, throughput lost against an untraced run of the
        # same seed on the same code, when one is on record
        untraced = _read_json(stem + "-trace0.json") or {}
        tp = "throughput_per_s"
        if (untraced.get("tree") == tree and tp in untraced.get("named", {})
                and run.metrics.get(tp, {}).get("value")):
            run.put("trace.vs_untraced_frac",
                    untraced["named"][tp]["value"] / run.metrics[tp]["value"] - 1, "ratio")
        with open(stem + "-spans.json", "w") as f:
            json.dump(run.tracer.dump(), f, indent=1)
        want = per_layer_units(root)
        missing += [m for m in want if m not in run.metrics and m.split(".")[0] in wl.LAYERS]
        out = {m: {"value": run.metrics[m]["value"] if m in run.metrics else 0.0, "unit": unit}
               for m, unit in want.items()}
    else:
        out = {m: {"value": run.metrics[m]["value"], "unit": u}
               for m, u in E2E_UNITS.items() if m in run.metrics}
    if missing:
        correct = False
        run.errors.append(f"not measured: {', '.join(missing)}")

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "tree": tree,
              "trace": args.trace, "size": args.size, "settings": conf, "host": host,
              "versions": versions, "props": run.props, "named": run.metrics,
              "samples": run.samples, "errors": run.errors}
    with open(stem + f"-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    for err in run.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    if host["steal_frac"] > STEAL_FLAG:
        print(f"perfbench: WARNING host steal share {host['steal_frac']:.3f} exceeds "
              f"{STEAL_FLAG}; timings of this run are suspect", file=sys.stderr)
    print("perfbench: " + json.dumps({
        "named": {k: run.metrics[k] for k in sorted(run.metrics)},
        "settings": conf, "host": host, "versions": versions, "props": run.props,
    }, default=str))
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": out}))
    return 0


def _read_json(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def per_layer_units(root: str) -> dict[str, str]:
    """The per-layer metric names and units, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
