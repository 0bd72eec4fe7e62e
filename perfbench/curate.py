"""curate: ``jobs/curate_corpus.py``'s ``main()`` called in-process over
a seeded document corpus, with its stage report on."""

from __future__ import annotations

import contextlib
import json
import re
import sys
from pathlib import Path

import checks
import tracing
from __spark_entry__ import oracle_sql
from harness import Run

PARAMS = {"n_docs": 600}
# one latency sample per run (the first main()), so its tail is itself
LATENCY_Q = 100
WARM_DOCS = 100  # the warm-up runs main() once over a smaller corpus
BUDGET = 2048  # curate_corpus.py's default --budget
# curate_corpus.py's default quality thresholds
QUALITY = "n_tokens >= 5 AND distinct_token_ratio >= 0.2 AND top_token_frac <= 0.6"
TOKS = "string_split_regex(trim(text), '\\s+')"
# the library module behind each numbered stage of curate_corpus.py's
# main() ("# 1. quality + repetition signals", ...)
STAGES = {"1": "text", "2": "dedup", "3": "sampling"}


def _main(docs: str, out: str, report: str) -> None:
    """The job's own ``main()``; its summary line goes to stderr."""
    import curate_corpus

    argv = sys.argv
    sys.argv = ["curate_corpus.py", "--input", docs, "--output", out, "--report", report]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            curate_corpus.main()
    finally:
        sys.argv = argv


def run(r: Run, inputs) -> None:
    docs = str(inputs.documents(r.seed, **PARAMS) / "documents.parquet")
    sys.path.insert(0, str(r.root / "jobs"))
    r.start_spark()
    base = r.work / "curate"
    warm = str(inputs.documents(r.seed, WARM_DOCS) / "documents.parquet")
    _main(warm, str(base / "warm"), str(base / "warm.json"))

    import curate_corpus

    source = curate_corpus.main.__code__.co_filename

    def sites():
        return tracing.call_sites(r.spark.sparkContext, source) if r.trace else contextlib.nullcontext()

    def once(i: int) -> None:
        with r.op(f"curate.{i}"), sites():
            _main(docs, str(base / f"out-{i}"), str(base / f"report-{i}.json"))

    r.mark_setup_done()
    walls = r.timed_loop(once, r.seconds)
    r.metric("op_s", walls, "s")
    # the curated output lands when main() returns: the latency is the
    # first timed main()'s wall, one sample, so p50 and tail are equal
    r.latencies([walls[0] * 1e3], LATENCY_Q)
    r.info["curate_s"] = r.e2e["op_s"]
    last = len(walls) - 1
    r.guarded("curate_output", lambda: check(r, docs, base / f"out-{last}", base / f"report-{last}.json"))
    r.state["source"] = Path(source)


def check(r: Run, docs: str, out, report) -> None:
    """Quality-filter count against DuckDB; every survivor once and
    only quality survivors in the output; every bin's id and size as
    the token-budget layout gives them."""
    rep = json.loads(report.read_text())
    con = checks.duck({"documents": docs})
    try:
        _check(r, con, out, rep)
    finally:
        con.close()


def _check(r: Run, con, out, rep: dict) -> None:
    con.execute(f"""CREATE VIEW quality AS
        SELECT f.doc_id FROM ({oracle_sql()['text_repetition']}) f
        JOIN (SELECT doc_id, len({TOKS}) AS n_tokens FROM documents) USING (doc_id)
        WHERE {QUALITY}""")
    con.execute(f"""CREATE VIEW out AS SELECT doc_id, split, bin_id, len({TOKS}) AS tok
        FROM read_parquet('{out}/*/*.parquet', hive_partitioning = true)""")
    n_docs, n_quality = con.execute(
        "SELECT (SELECT count(*) FROM documents), (SELECT count(*) FROM quality)").fetchone()
    r.check("curate.rows_in", rep["rows_in"] == n_docs, f"{rep['rows_in']} vs {n_docs}")
    r.check("curate.quality_count", rep["after_quality"] == n_quality,
            f"{rep['after_quality']} vs {n_quality}")
    n_out, n_ids, n_bad = con.execute("""SELECT count(*), count(DISTINCT doc_id),
        count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM quality)) FROM out""").fetchone()
    r.check("curate.survivors_once", n_out == n_ids == rep["after_dedup_and_split"] and n_out > 0,
            f"rows {n_out}, distinct {n_ids}, report {rep['after_dedup_and_split']}")
    r.check("curate.survivors_pass_quality", n_bad == 0, f"{n_bad} non-survivors")
    bad_bin, over = con.execute(f"""
        WITH lay AS (SELECT split, bin_id, tok,
               cast(floor((sum(tok) OVER (PARTITION BY split ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - tok) / {BUDGET}.0) AS BIGINT) AS want_bin
             FROM out),
        bins AS (SELECT split, bin_id, sum(tok) AS s, max(tok) AS m FROM lay GROUP BY 1, 2)
        SELECT (SELECT count(*) FROM lay WHERE bin_id != want_bin),
               (SELECT count(*) FROM bins WHERE s >= {BUDGET} + m)""").fetchone()
    r.check("curate.pack_layout", bad_bin == 0, f"{bad_bin} docs in the wrong bin")
    r.check("curate.pack_budget", over == 0, f"{over} bins over budget")


def stage_lines(source: Path) -> dict[int, str]:
    """Line number -> STAGES module for each line of a numbered stage of
    curate_corpus.py: a stage runs from its ``# N.`` comment to the next
    numbered comment or the first line indented less than the comment."""
    out, stage, indent = {}, None, 0
    for no, line in enumerate(source.read_text().splitlines(), 1):
        body = line.strip()
        depth = len(line) - len(line.lstrip())
        m = re.match(r"#\s*(\d+)\.\s", body)
        if m:
            stage, indent = STAGES.get(m.group(1)), depth
        elif stage and body and depth < indent:
            stage = None
        if stage:
            out[no] = stage
    missing = set(STAGES.values()) - set(out.values())
    if missing:
        raise ValueError(f"stages {sorted(missing)} not found in {source}")
    return out


def layers(r: Run, log: tracing.EventLog, n_ops: int) -> None:
    """Execution layers per main(), and functions.*_ms: per main(), the
    time covered by the jobs submitted from each stage's lines."""
    r.layer_exec(log, [f"curate.{i}" for i in range(n_ops)], n_ops)
    lines = stage_lines(r.state["source"])
    spent = dict.fromkeys([*STAGES.values(), "other"], 0.0)
    for i in range(n_ops):
        by_stage: dict[str, list] = {}
        for site, intervals in log.site_intervals(f"curate.{i}").items():
            by_stage.setdefault(lines.get(site, "other"), []).extend(intervals)
        for stage, intervals in by_stage.items():
            spent[stage] += tracing.union_length(intervals) * 1e3 / n_ops
    for stage in STAGES.values():
        r.layer[f"functions.{stage}_ms"] = spent[stage]
    r.info["functions_other_ms"] = spent["other"]
