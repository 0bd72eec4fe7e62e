"""Probe operations for known open defects, run after the checks of the
workload whose layer holds the defect (``functions`` probes on curate,
``streaming`` probes on stream). Their results are reported apart from
the workload's own operations (``probes`` in the summary line,
``probes.failed`` in the traced metrics), so a defect stays visible on
every run without failing it."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entry
import checks
import gen
import stream
from harness import Run
from windflow_spark.operators.windows import WinSpec
from windflow_spark.streaming import engine as se


def _docs(r: Run, name: str, texts) -> str:
    d = r.work / "probes" / name
    d.mkdir(parents=True, exist_ok=True)
    docs = pd.DataFrame({"doc_id": pd.array(range(len(texts)), dtype="int64"),
                         "text": pd.array(texts, dtype="string")})
    gen.write_parquet(docs, d / "documents.parquet")
    return str(d)


def _oracle(sf: str, query: str) -> pd.DataFrame:
    con = checks.duck({"documents": f"{sf}/documents.parquet"})
    try:
        return con.execute(entry.oracle_sql()[query]).df()
    finally:
        con.close()


def null_text(r: Run) -> str | None:
    """Null text through repetition_features: non-null docs match the
    oracle, null docs come out with null features."""
    texts = ["spark stream window spark", None, "a b a b c"]
    sf = _docs(r, "null_text", texts)
    got = entry.queries()["text_repetition"](r.spark, sf).toPandas()
    feats = ["top_token_frac", "top_bigram_frac", "distinct_token_ratio"]
    null_row = pd.DataFrame({"doc_id": [1], **{c: [None] for c in feats}})
    want = pd.concat([_oracle(sf, "text_repetition"), null_row], ignore_index=True).astype(
        {"doc_id": "int64", **{c: "float64" for c in feats}})
    return checks.compare(got, want)


def trim_charset(r: Run) -> str | None:
    """Leading-tab and trailing-newline text against DuckDB ``trim``."""
    texts = ["\tspark stream window", "spark stream window\n", " a b  a b\n", "plain text here"]
    sf = _docs(r, "trim_charset", texts)
    got = entry.queries()["text_repetition"](r.spark, sf).toPandas()
    return checks.compare(got, _oracle(sf, "text_repetition"))


def lsh_big_bucket(r: Run) -> str | None:
    """A 300-member LSH bucket through lsh_candidate_pairs, against the
    uncapped oracle."""
    texts = ["spark stream window pane tuple shuffle"] * 300 + ["join merge emit flush check run"]
    sf = _docs(r, "lsh_big_bucket", texts)
    got = entry.queries()["dedup_minhash_lsh"](r.spark, sf).toPandas()
    return checks.compare(got, _oracle(sf, "dedup_minhash_lsh"))


def cb_multi_file_batch(r: Run) -> str | None:
    """stream_cb_windows over one micro-batch of four files, each key's
    turns spread over all of them in ts order, against DuckDB.

    Spark plans the files largest first, so a key's rows reach the
    processor out of id order; the processor sorts within each Arrow
    chunk only, so a key that straddles a chunk boundary loses rows to
    the drop rule. A 1,000-row Arrow chunk size makes 10k rows enough to
    straddle boundaries; the defect does not depend on the size."""
    keys, turns = 8, 1250
    turn = np.tile(np.arange(turns, dtype=np.int32), keys)
    conv = np.repeat(np.arange(keys), turns)
    df = pd.DataFrame({
        "conv_id": pd.Series(conv).map("probe-{:02d}".format),
        "turn_idx": turn,
        "role": gen.ROLE_CYCLE[turn % 4],
        "text": pd.Series(turn).map("probe turn {}".format),
        "tool": "none",
        "ts": (gen.TRANSCRIPTS_START_US + turn.astype(np.int64) * 1_000_000 + conv).astype("datetime64[us]"),
    }).sort_values("ts", kind="stable").reset_index(drop=True)
    d = r.work / "probes" / "cb_multi_file_batch"
    (d / "in").mkdir(parents=True, exist_ok=True)
    for k, (a, b) in enumerate([(0, 1000), (1000, 2500), (2500, 5000), (5000, 10000)]):
        path = d / "in" / f"part-{k}.parquet"
        gen.write_parquet(df.iloc[a:b], path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
    spec = WinSpec("cb", stream.CB_WIN, stream.CB_SLIDE)
    aggs = {"chars": ("sum", "n_chars"), "cnt": ("count", None)}
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = r.spark.conf.get(conf)
    r.spark.conf.set(conf, "1000")
    try:
        src = se.stream_source(r.spark, str(d / "in"), r.spark.read.parquet(str(d / "in")).schema)
        out = se.stream_cb_windows(src.withColumn("n_chars", F.length("text").cast("double")),
                                   "conv_id", "turn_idx", None, spec, aggs=aggs)
        stream.drain(out, "probe_cb", d)
    finally:
        r.spark.conf.set(conf, old)
    con = checks.duck({"tx": f"{d / 'in'}/*.parquet"})
    try:
        return stream.cb_mismatch(r, con, d, spec, aggs, flush_span="probes.flush")
    finally:
        con.close()


PROBES = {
    "curate": [null_text, trim_charset, lsh_big_bucket],
    "stream": [cb_multi_file_batch],
}


def run(r: Run, workload: str) -> None:
    for probe in PROBES.get(workload, []):
        try:
            err = probe(r)
        except Exception as e:  # a crashing probe is a failed probe
            err = f"{type(e).__name__}: {str(e)[:200]}"
        r.probes[probe.__name__] = err is None
        if err is not None:
            r.info.setdefault("probe_errors", {})[probe.__name__] = err[:300]
