"""The spark-submit entrypoint driven end-to-end (north rule: job runs
via `spark-submit --py-files`, drains exactly-once, and EOS-flushes
partial windows from the checkpoint state). One real spark-submit JVM
per mode is slow (~30 s), so only the tumbling mode runs here; the cb
and session modes exercise the same drain/flush code paths through
test_streaming's unit tests and the streaming_*_eos gate queries."""

from __future__ import annotations

import os
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

import datagen

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"
REPO = Path(__file__).resolve().parents[1]


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this image"
)
def test_job_drains_and_flushes_to_batch_parity(tmp_path):
    pdf = datagen.gen_transcripts(n_convs=10, seed=11, mean_turns=20)
    (tmp_path / "in").mkdir()
    datagen.write_parquet_us(pdf, str(tmp_path / "in" / "part-0.parquet"))

    zip_path = tmp_path / "wf.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for p in (REPO / "windflow_spark").rglob("*.py"):
            z.write(p, p.relative_to(REPO))

    cmd = [
        SPARK_SUBMIT, "--master", "local[4]", "--py-files", str(zip_path),
        str(REPO / "jobs" / "run_pipeline.py"),
        "--input", str(tmp_path / "in"),
        "--output", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--mode", "tumbling", "--win", "60",
        "--watermark", "10 seconds", "--once", "--flush-partials",
        "--timeout", "300",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                         cwd=str(REPO))
    assert out.returncode == 0, out.stderr[-2000:]
    assert "drained; sink rows" in out.stdout
    assert "flushed partial windows" in out.stdout
    first = [l for l in out.stdout.splitlines() if "drained; sink rows" in l]

    # re-running against the SAME checkpoint resumes exactly-once: the
    # backlog is already committed, so the sink row count is unchanged
    # and the re-derived flush is idempotent (overwrite mode)
    out2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                          cwd=str(REPO))
    assert out2.returncode == 0, out2.stderr[-2000:]
    second = [l for l in out2.stdout.splitlines() if "drained; sink rows" in l]
    assert first == second, (first, second)

    # emitted ∪ flushed == the batch tumbling aggregate (eosnotify
    # parity, win_seq.hpp:432-474), checked in-process
    from pyspark.sql import functions as F

    from tests.conftest import assert_frames_equal
    from windflow_spark.operators.windows import WinSpec, epoch_us, win_seq
    from windflow_spark.session import get_spark

    # streaming=True even though this is a batch read: if this test
    # creates the process's FIRST SparkSession without the RocksDB
    # state-store configs, every later streaming test's getOrCreate()
    # silently inherits the non-production HDFS backend
    spark = get_spark("job-parity", master="local[4]", shuffle_partitions=4,
                      streaming=True)
    emitted = spark.read.parquet(str(tmp_path / "out"))
    flushed = spark.read.parquet(str(tmp_path / "out_partials"))
    cols = ["conv_id", "gwid", "cnt", "sum_len"]
    got = emitted.select(*cols).unionByName(flushed.select(*cols)).toPandas()
    batch = spark.read.parquet(str(tmp_path / "in")).withColumn(
        "text_len", F.length("text")
    )
    want = win_seq(
        batch.withColumn("us", epoch_us("ts")), ["conv_id"], "us",
        WinSpec("tb", 60_000_000, 60_000_000),
        aggs={"cnt": F.count(F.lit(1)), "sum_len": F.sum("text_len")},
        with_win_end=False,
    ).toPandas()[cols]
    assert len(got) > 0
    assert_frames_equal(got, want, ["conv_id", "gwid"])
    shutil.rmtree(tmp_path, ignore_errors=True)


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this image"
)
def test_curate_corpus_job_end_to_end(tmp_path):
    """The batch curation job (quality -> dedup -> decontaminate ->
    split -> pack) under real spark-submit, verified against the same
    stages composed in-process: the job is a pure function of its
    inputs, so the spark-submit run and the library composition must
    agree row-set for row-set. The replica packs with the
    SINGLE-WINDOW layout while the job uses the bucketed two-pass
    prefix sum (--pack-buckets), so this equality is also the
    job-level parity proof for the distributed layout. The probe set
    (every 25th doc) makes --decontaminate genuinely drop rows."""
    import json

    shutil.copytree("/root/testdata/sf0.001", tmp_path / "docs_all",
                    dirs_exist_ok=True)
    (tmp_path / "in").mkdir()
    shutil.copy(tmp_path / "docs_all" / "documents.parquet",
                tmp_path / "in" / "documents.parquet")

    zip_path = tmp_path / "wf.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for p in (REPO / "windflow_spark").rglob("*.py"):
            z.write(p, p.relative_to(REPO))

    report = tmp_path / "report.json"
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]", "--py-files", str(zip_path),
        str(REPO / "jobs" / "curate_corpus.py"),
        "--input", str(tmp_path / "in"),
        "--output", str(tmp_path / "curated"),
        "--report", str(report),
        "--budget", "256",
        "--decontaminate", str(tmp_path / "probes"),
    ]
    # probe set for the decontamination stage, written BEFORE launch
    import duckdb as _dd

    con = _dd.connect()
    (tmp_path / "probes").mkdir()
    con.execute(
        "COPY (SELECT doc_id, text FROM read_parquet('"
        + str(tmp_path / "in" / "documents.parquet")
        + "') WHERE doc_id % 25 = 0) TO '"
        + str(tmp_path / "probes" / "p.parquet")
        + "' (FORMAT PARQUET)"
    )
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                         cwd=str(REPO))
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads(report.read_text())
    assert summary["rows_in"] == 500
    assert 0 < summary["after_decontaminate"] < summary["after_quality"]
    assert 0 < summary["after_dedup_and_split"] <= summary["after_decontaminate"]
    assert set(summary["splits"]) <= {"train", "val"}
    assert summary["packed_bins"] >= 1

    # in-process replica of the same composition
    from pyspark.sql import functions as F

    from windflow_spark.functions import dedup, sampling, text
    from windflow_spark.session import get_spark

    spark = get_spark("curate-parity", master="local[4]",
                      shuffle_partitions=4, streaming=True)
    docs = spark.read.parquet(str(tmp_path / "in"))
    feat = text.repetition_features(text.quality_features(docs), "text")
    kept_q = feat.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("distinct_token_ratio") >= 0.2)
        & (F.col("top_token_frac") <= 0.6)
    )
    with dedup.persisted_scope():
        keep = dedup.dedup_keep_list(kept_q, "doc_id", "text",
                                     threshold=0.8, max_df=1000,
                                     max_bucket=256)
        deduped = kept_q.join(
            keep.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        )
        probes = spark.read.parquet(str(tmp_path / "probes"))
        deduped = text.ngram_contamination(
            deduped, probes, n=13
        ).filter(~F.col("contaminated")).drop("n_hits", "contaminated")
        split = sampling.hash_split(
            deduped, "doc_id", {"train": 0.95, "val": 0.05}
        ).withColumn("_tok", text.token_count("text"))
        want = (
            sampling.pack_sequences(split, "doc_id", "_tok", 256,
                                    key_col="split")
            .select("doc_id", "split", "bin_id")
            .toPandas()
        )
    got = (
        spark.read.parquet(str(tmp_path / "curated"))
        .select("doc_id", "split", "bin_id")
        .toPandas()
    )
    from tests.conftest import assert_frames_equal

    assert_frames_equal(got, want, ["doc_id"])


def test_curate_main_evaluates_feature_input_once(spark, tmp_path, monkeypatch):
    """One in-process curate_corpus.main() feeds each document through
    the repetition-feature kernel once: the quality survivors are read
    by the quality count, the dedup shingles, the keep list and the
    semi-join, and the bucketed pack reads its input twice, yet none of
    them re-runs the kernel. Its input is counted by a pass-through
    accumulator stage."""
    import json
    import sys

    from tests.conftest import counted
    from tests.test_functions import SF
    from windflow_spark.functions import text

    (tmp_path / "in").mkdir()
    shutil.copy(f"{SF}/documents.parquet", tmp_path / "in" / "documents.parquet")
    accs = []
    kernel = text.repetition_features

    def counted_kernel(df, text_col="text"):
        df, acc = counted(df)
        accs.append(acc)
        return kernel(df, text_col)

    monkeypatch.setattr(text, "repetition_features", counted_kernel)
    monkeypatch.syspath_prepend(str(REPO / "jobs"))
    import curate_corpus

    report = tmp_path / "report.json"
    monkeypatch.setattr(sys, "argv", [
        "curate_corpus.py", "--input", str(tmp_path / "in"),
        "--output", str(tmp_path / "curated"), "--report", str(report),
    ])
    # main()'s get_spark() re-applies its default shuffle partitions to
    # the shared session
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        curate_corpus.main()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    summary = json.loads(report.read_text())
    assert 0 < summary["after_dedup_and_split"] <= summary["after_quality"]
    assert len(accs) == 1
    assert accs[0].value == summary["rows_in"] == 500, accs[0].value
