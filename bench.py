"""Benchmark harness (driver contract + BASELINE.md protocol).

Prints COMPACT JSON lines (each ≤ 1.5 KB — the driver keeps only the
tail of stdout, and round 2's full-artifact line outran that window,
leaving the round machine-unreadable). Each section completion
re-prints the compact summary, so the LAST stdout line is always a
complete, parseable artifact:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "throughput": {...}, "full_artifact": "BENCH/latest_full.json"}
The FULL artifact (per-query steal, flagship details) is written to
BENCH/latest_full.json on every emission (BENCH/latest_fast.json when
the input is not sf0.1).

- per-query wall times for the headline operator battery at
  $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), executed to a
  noop sink (full pipeline execution, no driver collect).
- sustained events/sec on the flagship sliding-window pipeline over an
  amplified event stream (x$SPARK_GRAFT_BENCH_AMP self-replication of
  the input so the measurement isn't dominated by fixed JVM/job
  overhead; row count reported).

The session comes from session.get_spark: local[$SPARK_GRAFT_CPUS]
(else local[*]) with one shuffle partition per core. Streaming drain
and emit latency are measured by perfbench's ``stream`` workload.

Usage:
  python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
AMP = int(os.environ.get("SPARK_GRAFT_BENCH_AMP", "1024"))

HEADLINE = [
    "win_tb_tumbling",
    "win_tb_sliding",
    "win_cb_sliding",
    "win_nic_median",
    "pane_farm_sliding",
    "win_mapreduce_sliding",
    "session_windows",
    "accumulator",
    "asof_join",
    "ysb_pipeline",
    "micro1_stateless",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embedding_topk",
    "text_quality",
    "cep_pattern",  # r6: battery grew to 16 queries
    "text_repetition",  # r6: the zero-shuffle mode-frequency fold at sf
    "cep_skip",  # r7: skip-till-next-match (pointer chain + equi joins)
    "cep_kleene",  # r7: greedy-maximal Kleene-plus (run boundaries + joins)
    "pack_bucketed_dense",  # r7: two-pass prefix-sum pack layout
]


def _spark():
    from windflow_spark.session import get_spark

    return get_spark(
        "windflow-bench",
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "64MB",
            # throughput GC: the windowed-agg path is allocation-heavy;
            # G1 pauses cost ~20% at 32 threads on this class of job
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:NewRatio=1",
        },
    )


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _amp_path(amp: int) -> str:
    # "_ts" = time-clustered layout (v2, round 4) — bumping the path
    # invalidates stale randomly-partitioned dirs from earlier rounds.
    # The SF tag keys the cache by SOURCE table too: a verify run at
    # sf0.01 must not poison the sf0.1 artifact's amplified input
    # (materialize_amplified only checks _SUCCESS existence).
    sf_tag = Path(SF_DIR).name
    return f"/tmp/windflow_bench/events_{sf_tag}_amp{amp}_ts"


def materialize_amplified(spark, sf_dir: str, amp: int, n_files: int = 256) -> str:
    """Materialize the amplified event stream once: events replicated
    ``amp``× with per-replica key/value/ts perturbation so parquet
    can't RLE the copies away (realistic scan volume), written as
    ``n_files`` files so the scan has enough splits to feed every core
    (the local proxy for a many-split cluster scan).

    Layout is TIME-CLUSTERED (repartitionByRange + sort on ts) — what
    any real stream or time-partitioned Iceberg table gives you, and a
    2.4× measured difference at 32 cores (7.9 → 3.3 s on 409.6 M
    rows): with a random layout every scan task sees the full
    (key × pane) domain, so its map-side hash-agg state is ~180k
    entries (~18 MB) of random access, and 32 concurrent random-access
    streams saturate the socket's memory-level parallelism — the
    non-scaling component the sequential-bandwidth control never
    showed. Time clustering shrinks per-task state to the few panes
    the task's time slice covers (cache-resident), which is exactly
    how the pane pre-aggregation behaves on a time-partitioned source
    at cluster scale. Sorted files also compress ~40% smaller."""
    from pyspark.sql import functions as F

    path = _amp_path(amp)
    if not (Path(path) / "_SUCCESS").exists():
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(n_files)
        amped = (
            ev.withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(amp))))
            .withColumn("k", F.concat_ws("-", "event_type", F.col("rep") % 8))
            .withColumn("value", F.col("value") + F.col("rep") * 0.001)
            .withColumn(
                "ts",
                F.timestamp_micros(
                    F.unix_micros(F.col("ts").cast("timestamp")) + F.col("rep") * 1000
                ),
            )
        )
        (
            amped.repartitionByRange(n_files, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def flagship(spark, amp: int):
    """Transcripts-shaped flagship: Source→Map→Filter→keyBy→
    sliding_agg(TB 1h/15min sum+count)→sink over the materialized
    amplified stream. sliding_agg is the engine's cost router: at this
    input size it picks pane decomposition (pre-shrink to (key, pane)
    partials instead of exploding every row ⌈win/slide⌉× — measured
    direct 5.8 s vs pane 3.0 s at local[32] on 102.4 M rows), while the
    sf0.1 battery's unamplified inputs stay on the direct plan.
    Output-identical either way (test_windows::sliding_agg_auto)."""
    from pyspark.sql import functions as F

    from windflow_spark.api import Pipe
    from windflow_spark.operators.windows import WinSpec, epoch_us

    ev = spark.read.parquet(_amp_path(amp))
    return (
        Pipe.source(ev)
        .map(us=epoch_us("ts"))
        .filter(F.col("value") > 0)
        .key_by("k")
        .sliding_agg(
            "us", WinSpec("tb", 3_600_000_000, 900_000_000),
            aggs={"cnt": ("count", "value"), "sum_value": ("sum", "value")},
        )
        .df
    )


def _compact(a: dict) -> dict:
    """≤ 1.5 KB summary of the artifact — the machine-readable last
    line. Full data (per-query steal, flagship details) lives in
    BENCH/latest_full.json."""
    c = {
        "metric": a["metric"],
        "value": a["value"],
        "unit": a["unit"],
        "queries": {k: round(v, 2) for k, v in a["queries"].items()},
        "sf": a["sf"],
    }
    t = a.get("throughput") or {}
    if t:
        c["throughput"] = {
            "events_per_sec": t["events_per_sec"],
            "rows_in": t["flagship_rows_in"],
        }
    c["full_artifact"] = "BENCH/latest_full.json"
    # hard stdout guarantee (the driver parses a ~2 KB tail; r2's
    # multi-KB line made the round unreadable): emit with compact
    # separators, and if the line would still exceed 1500 bytes (1500
    # leaves the final line + newline comfortably inside the 2 KB tail)
    # drop the queries map, the only unbounded part (full data is
    # always in BENCH/latest_full.json)
    if len(json.dumps(c, separators=(",", ":"))) > 1500:
        c["queries"] = f"(dropped, {len(a['queries'])} entries — see full artifact)"
    return c




def _steal_jiffies() -> int:
    """Hypervisor steal time from /proc/stat — this VM sees bursts of
    CPU steal that slow samples up to ~3×; reporting the delta lets a
    reader discount noisy runs (see BENCH/BASELINE.md)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return -1


def _make_emit(artifact: dict):
    # a run over any input but sf0.1 (a verify run) must not clobber
    # the curated full-SF artifact
    name = "latest_full.json" if Path(SF_DIR).name == "sf0.1" else "latest_fast.json"

    def emit() -> None:
        full = REPO / "BENCH" / name
        full.parent.mkdir(exist_ok=True)
        full.write_text(json.dumps(artifact, indent=1))
        print(json.dumps(_compact(artifact), separators=(",", ":")), flush=True)

    return emit


def main() -> None:
    import __spark_entry__ as em

    spark = _spark()
    qs = em.queries()
    # warmup: scan both tables + one agg so the first timed query
    # doesn't absorb JIT/page-cache costs
    for t in ("events", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    _noop(qs["win_tb_tumbling"](spark, SF_DIR))
    # steal-stamped best-of-N per query (VERDICT r3 #2): hypervisor
    # steal bursts hit single samples up to 2-3×, and r3's battery
    # carried six regressions with no per-rep evidence to attribute
    # them to the host. Each rep records its steal delta; the kept
    # time is the fastest rep whose steal stayed under the cap (a 3rd
    # rep runs only when the first two were both steal-drenched), and
    # the chosen rep's steal lands in the full artifact beside the
    # time so a slower number carries its own attribution.
    BATTERY_STEAL_CAP = 500  # jiffies over a ≤ few-sec query ⇒ clean
    times: dict[str, float] = {}
    battery_steal: dict[str, int] = {}
    for name in HEADLINE:
        reps: list[tuple[float, int]] = []
        for i in range(4):
            s0 = _steal_jiffies()
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            el = time.time() - t0
            reps.append((el, _steal_jiffies() - s0))
            # stop after 2 reps when one was steal-clean AND the query
            # has stopped warming (rep didn't improve > 20% on the
            # previous one). Cache-building queries (dedup_minhash_lsh
            # persists its signature table; C2 keeps compiling its
            # band-join stages for ~3 reps) otherwise record an
            # arbitrary point of the warm-up curve — measured 5.58 /
            # 1.16 / 0.89 / 0.67 s across 4 steal-clean reps, and the
            # r4→r5 "regression" (0.64→0.88) was exactly this, not a
            # plan change (NOTES.md r6).
            if (
                i >= 1
                and any(st < BATTERY_STEAL_CAP for _, st in reps)
                and reps[-1][0] > 0.8 * reps[-2][0]
            ):
                break
        clean = [r for r in reps if r[1] < BATTERY_STEAL_CAP]
        el, st = min(clean or reps)
        times[name] = round(el, 3)
        battery_steal[name] = st

    # incremental artifact emission: each section re-prints a COMPACT
    # JSON line (flushed, ≤ 1.5 KB) as it completes, so a driver-side
    # timeout at any point still leaves a complete parseable artifact
    # as the last line inside the driver's stdout tail window; the full
    # artifact goes to BENCH/latest_full.json each time
    artifact = {
        "metric": "headline_battery_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "queries_steal_jiffies": battery_steal,
        "battery_steal_cap": BATTERY_STEAL_CAP,
        "sf": SF_DIR,
        "throughput": {},
    }
    emit = _make_emit(artifact)
    emit()

    # flagship throughput (amplified stream); warm once, time once
    materialize_amplified(spark, SF_DIR, AMP)
    n_in = spark.read.parquet(_amp_path(AMP)).count()
    df = flagship(spark, AMP)
    _noop(df)
    t0 = time.time()
    _noop(df)
    fl_sec = time.time() - t0
    artifact["throughput"] = {
        "flagship_rows_in": n_in,
        "flagship_sec": round(fl_sec, 3),
        "events_per_sec": round(n_in / fl_sec),
        "amplification": AMP,
    }
    emit()
    spark.stop()


if __name__ == "__main__":
    main()
