"""Benchmark command: run one workload for a seed and print its metrics.

    python3 perfbench/run.py --workload {window_battery,stream,curate}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.perfbench/cache``; Spark scratch space, checkpoints and
event logs go under ``.perfbench/work``; untraced runs record their
op_s under ``.perfbench/untraced`` for the traced runs' overhead. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The line before it (``perfbench-summary:``)
repeats every figure with its unit and sample count, the workload's
own metric names, input generation time, probe results and failures.
The exit code is 1 when any output was wrong.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# files of the program under test; without them there is nothing to run
PROGRAM = ["windflow_spark/__init__.py", "__spark_entry__.py",
           "jobs/curate_corpus.py", "tools/check_entry.py"]
WORKLOADS = ["window_battery", "stream", "curate"]


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare(work: Path) -> None:
    """Keep every file the run writes inside the checkout."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM (spark-submit's launcher and the driver): temp files in
    # the work dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def baseline_key(workload: str, seed: int, params: dict) -> str:
    """Identifies what an untraced run measured: the workload, seed and
    generator parameters, and the source of the program and of this
    benchmark."""
    h = hashlib.sha256(json.dumps([workload, seed, params], sort_keys=True).encode())
    files = [ROOT / "__spark_entry__.py"] + sorted(
        p for d in ("windflow_spark", "jobs", "tools", "perfbench") for p in (ROOT / d).rglob("*.py"))
    for p in files:
        h.update(p.relative_to(ROOT).as_posix().encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:20]


def untraced_history(path: Path, op_s: float | None = None) -> list[float]:
    """op_s of the untraced runs recorded in ``path``; an untraced run
    appends its own. Traced runs compare against them for
    tracing.overhead_pct."""
    hist = json.loads(path.read_text()) if path.exists() else []
    if op_s is not None:
        hist.append(op_s)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(hist))
    return hist


def run_untraced(args) -> float:
    """Run this command untraced for the same workload, seed and
    seconds, which records its op_s; returns its wall seconds. Its
    output goes to stderr."""
    t0 = time.time()
    subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        stdout=sys.stderr, check=False, timeout=170,
    )
    return time.time() - t0


def main(argv=None) -> int:
    t_start = process_start()
    args = parse_args(argv)
    missing = [p for p in PROGRAM if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    state = ROOT / ".perfbench"
    work = state / "work"
    prepare(work)
    sys.path.insert(0, str(ROOT))

    import harness

    # the core count curate_corpus.py's own get_spark() call reads
    os.environ["SPARK_GRAFT_CPUS"] = str(harness.cores())

    import battery
    import curate
    import gen
    import probes
    import stream
    import tracing

    module = {"window_battery": battery, "stream": stream, "curate": curate}[args.workload]
    history = state / "untraced" / f"{args.workload}-{baseline_key(args.workload, args.seed, module.PARAMS)}.json"
    # a traced run compares with untraced runs of the same code and
    # inputs; without one it makes one first, before its own set-up
    baseline_s = 0.0
    if args.trace and not untraced_history(history):
        baseline_s = run_untraced(args)
        prepare(work)
    inputs = gen.Inputs(state / "cache")
    r = harness.Run(args, ROOT, work)
    rss = harness.RssSampler().start()
    try:
        module.run(r, inputs)
        t0 = time.time()
        probes.run(r, args.workload)
        r.info["probes_s"] = round(time.time() - t0, 3)
        if r.trace:
            app_id = r.spark.sparkContext.applicationId
            extra = getattr(module, "after_trace", None)
            if extra is not None:
                extra(r)
            r.spark.stop()
            log = tracing.EventLog(tracing.event_log_path(work / "eventlog", app_id))
            module.layers(r, log, r.info["ops_timed"])
            r.spans.write(work / "spans.jsonl")
    finally:
        peak_mb = rss.stop()
        if r.spark is not None:
            harness.stop_spark(r.spark)

    r.info["total_s"] = round(time.time() - t_start, 3)
    r.e2e["setup_s"] = (r.setup_done - t_start - inputs.gen_s - baseline_s, "s", 1)
    r.layer["mem.peak_rss_mb"] = r.info["peak_rss_mb"] = peak_mb
    r.layer["setup.warmup_s"] = r.setup_done - r.spark_ready
    r.layer["probes.failed"] = float(sum(not ok for ok in r.probes.values()))
    op_s = r.e2e["op_s"][0]
    hist = untraced_history(history, None if r.trace else op_s)
    if r.trace:
        r.check("tracing.baseline", bool(hist), "no untraced run of the same code and inputs")
        if hist:
            r.layer["tracing.overhead_pct"] = (op_s / statistics.median(hist) - 1) * 100
        r.info["untraced_runs_compared"] = len(hist)

    if r.trace:
        chosen = {m["name"]: (r.layer.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: r.e2e[m["name"]][:2] for m in spec["end_to_end"]}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "params": module.PARAMS,
        "gen_s": round(inputs.gen_s, 3),
        "host": {k: r.layer.get(k) for k in ("host.steal_jiffies", "host.cpu_s")},
        "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in r.e2e.items()},
        "probes": {"attempted": len(r.probes), "failed": sum(not ok for ok in r.probes.values()),
                   "results": r.probes},
        "failures": r.failures,
        "info": r.info,
    }
    if r.trace:
        summary["per_layer"] = r.layer
    print("perfbench-summary: " + json.dumps(summary, default=str, separators=(",", ":")))
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }, separators=(",", ":")))
    return 0 if r.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
