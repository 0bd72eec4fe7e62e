"""One-command verification of the CLUSTER-GATED Iceberg source/sink,
which cannot be proven in this container (VERDICT r1 item 10): it needs
the iceberg-spark-runtime jar on the classpath + a catalog conf. The
check runs batch write → batch read → streaming read → exactly-once
streaming sink round-trip.

Run on a cluster image:

  spark-submit \
    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
    --conf spark.sql.catalog.wf=org.apache.iceberg.spark.SparkCatalog \
    --conf spark.sql.catalog.wf.type=hadoop \
    --conf spark.sql.catalog.wf.warehouse=/tmp/wf_warehouse \
    tools/cluster_verify.py

or locally (prints a SKIP line for the gated path):

  python tools/cluster_verify.py

Expected output on a fully-equipped image (exact lines, order fixed):

  PASS iceberg_batch_roundtrip (40 rows)
  PASS iceberg_stream_sink_exactly_once (40 rows, resume added 0)
  cluster_verify: 2 passed, 0 skipped

Locally, expected:

  SKIP iceberg_*: org.apache.iceberg.spark.SparkCatalog not on classpath
  cluster_verify: 0 passed, 1 skipped

Any FAIL line (duplicated sink rows on resume) is a real defect in the
gated code path, not an environment gap.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd  # noqa: E402


def _mk_input(spark, path: str) -> None:
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 20 + ["b"] * 20,
            "i": list(range(20)) * 2,
            "v": [float(x) for x in range(40)],
            "ts": pd.date_range("2026-01-01", periods=40, freq="s"),
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)


def verify_iceberg(spark) -> list[str]:
    from windflow_spark.sources import tables

    if not tables.iceberg_available():
        return ["SKIP iceberg_*: org.apache.iceberg.spark.SparkCatalog not on classpath"]
    out = []
    cat = "wf"  # matches the spark-submit conf in the module docstring
    tbl = f"{cat}.db.cv_events"
    src_dir = tempfile.mkdtemp(prefix="wfcv_ice_")
    _mk_input(spark, src_dir)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {cat}.db")
    spark.read.parquet(src_dir).writeTo(tbl).createOrReplace()
    n = spark.read.format("iceberg").load(tbl).count()
    out.append(
        f"PASS iceberg_batch_roundtrip ({n} rows)" if n == 40
        else f"FAIL iceberg_batch_roundtrip: {n} rows"
    )
    # streaming read of the Iceberg table → exactly-once Iceberg sink,
    # then an idempotent resume (same checkpoint, no new snapshots)
    ckpt = tempfile.mkdtemp(prefix="wfcv_ckpt_")
    sink_tbl = f"{cat}.db.cv_sink"
    spark.sql(f"DROP TABLE IF EXISTS {sink_tbl}")
    spark.sql(
        f"CREATE TABLE {sink_tbl} (k string, i bigint, v double, ts timestamp)"
        " USING iceberg"
    )

    def drain():
        src = spark.readStream.format("iceberg").load(tbl)
        q = (
            src.writeStream.format("iceberg")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .toTable(sink_tbl)
        )
        q.awaitTermination(300)

    drain()
    n1 = spark.read.format("iceberg").load(sink_tbl).count()
    drain()  # resume with nothing new: exactly-once ⇒ count unchanged
    n2 = spark.read.format("iceberg").load(sink_tbl).count()
    out.append(
        f"PASS iceberg_stream_sink_exactly_once ({n1} rows, resume added {n2 - n1})"
        if n1 == 40 and n2 == n1
        else f"FAIL iceberg_stream_sink_exactly_once: first={n1}, after resume={n2}"
    )
    return out


def main() -> None:
    from windflow_spark.session import get_spark

    spark = get_spark("cluster-verify", master="local[4]", shuffle_partitions=4,
                      streaming=True)
    lines = verify_iceberg(spark)
    for line in lines:
        print(line)
    n_pass = sum(1 for l in lines if l.startswith("PASS"))
    n_skip = sum(1 for l in lines if l.startswith("SKIP"))
    print(f"cluster_verify: {n_pass} passed, {n_skip} skipped")
    if any(l.startswith("FAIL") for l in lines):
        sys.exit(1)


if __name__ == "__main__":
    main()
