"""spark-submit corpus-curation job: the batch pipeline a training-data
run executes over a raw document table —

  quality + repetition features → filter → near-dup dedup keep list →
  benchmark decontamination (optional, 13-gram probe overlap) →
  deterministic train/val split → token-budget sequence packing →
  curated parquet, partitioned by split.

Every stage is one of the library's bounded-shuffle primitives
(functions/text.py, dedup.py, sampling.py); the whole job is a constant
number of exchanges regardless of corpus size, so the same script runs
at sf0.001 and at 100 TB.

Usage:
  spark-submit --py-files windflow_spark.zip jobs/curate_corpus.py \
      --input <docs parquet dir> --output <dir> \
      [--min-distinct-ratio 0.2] [--max-top-token 0.6] \
      [--jaccard 0.8] [--max-df 1000] [--budget 2048] \
      [--decontaminate <probe parquet dir> [--contam-ngram 13]] \
      [--train 0.95] [--val 0.05] [--report <json path>]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of documents")
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-distinct-ratio", type=float, default=0.2,
                    help="drop docs whose distinct-token ratio is below")
    ap.add_argument("--max-top-token", type=float, default=0.6,
                    help="drop docs whose top-token fraction exceeds")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--jaccard", type=float, default=0.8,
                    help="near-dup drop threshold (LSH + verify)")
    ap.add_argument("--max-df", type=int, default=1000,
                    help="posting-list cap for the Jaccard verify stage")
    ap.add_argument("--budget", type=int, default=2048,
                    help="token budget per packed bin")
    ap.add_argument("--pack-buckets", type=int, default=256,
                    help="target bucket count for the pack stage's "
                         "distributed prefix-sum layout (= the stage's "
                         "sort parallelism; a split-keyed single window "
                         "would be ONE task per split at 100 TB). Needs "
                         "a numeric id column; 0 disables bucketing")
    ap.add_argument("--decontaminate", default=None,
                    help="parquet dir of eval/benchmark probe documents; "
                         "drops survivors sharing any normalized word "
                         "n-gram with them (GPT-3/Gopher 13-gram rule; "
                         "probe n-grams broadcast — the stage's shuffle "
                         "is proportional to contamination, not corpus)")
    ap.add_argument("--probe-text-col", default="text")
    ap.add_argument("--contam-ngram", type=int, default=13)
    ap.add_argument("--train", type=float, default=0.95)
    ap.add_argument("--val", type=float, default=0.05)
    ap.add_argument("--report", default=None,
                    help="write stage counts as one JSON line; stage "
                         "counts cost one extra scan per stage (rows_in, "
                         "after_quality) — omit on a 100 TB run where the "
                         "sink-side summary suffices")
    args = ap.parse_args()

    from windflow_spark.functions import dedup, sampling, text
    from windflow_spark.session import get_spark

    spark = get_spark("windflow-curate")
    docs = spark.read.parquet(args.input)
    n_in = docs.count() if args.report else None

    with dedup.persisted_scope():
        # 1. quality + repetition signals (both map-side, zero exchanges).
        # kept_q feeds the quality count, the dedup shingles, the keep
        # list's id side and the semi-join below: persisted, the Arrow
        # feature kernel runs once per doc instead of once per branch
        feat = text.repetition_features(
            text.quality_features(docs, args.text_col), args.text_col
        )
        kept_q = dedup.persist_scoped(feat.filter(
            (F.col("n_tokens") >= args.min_tokens)
            & (F.col("distinct_token_ratio") >= args.min_distinct_ratio)
            & (F.col("top_token_frac") <= args.max_top_token)
        ))
        n_quality = kept_q.count() if args.report else None

        # 2. near-dup dedup over the quality survivors (LSH-bounded
        # verify; degenerate LSH buckets capped at 256 members)
        keep = dedup.dedup_keep_list(
            kept_q, args.id_col, args.text_col,
            threshold=args.jaccard, max_df=args.max_df, max_bucket=256,
        )
        deduped = kept_q.join(
            keep.filter(F.col("keep")).select(args.id_col),
            args.id_col, "left_semi",
        )

        # 2b. benchmark decontamination (optional): drop survivors
        # sharing any normalized n-gram with the probe set — probe
        # grams broadcast, only MATCHED grams shuffle
        n_decontam = None
        if args.decontaminate:
            probes = spark.read.parquet(args.decontaminate)
            deduped = text.ngram_contamination(
                deduped, probes,
                text_col=args.text_col,
                probe_text_col=args.probe_text_col,
                n=args.contam_ngram,
                id_col=args.id_col,
            ).filter(~F.col("contaminated")).drop("n_hits", "contaminated")
            n_decontam = deduped.count() if args.report else None

        # 3. deterministic split + per-split token-budget packing.
        # The pack layout is bucketed (two-pass prefix sum) so its sort
        # parallelism is --pack-buckets, not the 2-3-value split
        # cardinality: bucket = floordiv(id - lo, span) is monotone in
        # the layout order (doc_id asc), and [lo, hi] comes from ONE
        # column-pruned min/max over the RAW input (parquet footer
        # stats), which bounds every surviving id.
        split = sampling.hash_split(
            deduped, args.id_col, {"train": args.train, "val": args.val}
        ).withColumn("_tok", text.token_count(args.text_col))
        from pyspark.sql.types import NumericType
        numeric_id = isinstance(docs.schema[args.id_col].dataType, NumericType)
        if args.pack_buckets > 1 and numeric_id:
            from windflow_spark.operators.windows import floordiv
            lo, hi = docs.agg(
                F.min(args.id_col), F.max(args.id_col)
            ).first()
            span = max(1, (int(hi) - int(lo)) // args.pack_buckets + 1)
            packed = sampling.pack_sequences(
                split.withColumn(
                    "_bk", floordiv(F.col(args.id_col) - F.lit(int(lo)), span)
                ),
                args.id_col, "_tok", args.budget,
                key_col="split", order_col=None, bucket_col="_bk",
            ).drop("_tok", "_bk")
        else:
            packed = sampling.pack_sequences(
                split, args.id_col, "_tok", args.budget,
                key_col="split", order_col=None,
            ).drop("_tok")

        packed.write.mode("overwrite").partitionBy("split").parquet(args.output)

    out = spark.read.parquet(args.output)
    n_out = out.count()
    split_counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_bins = out.select("split", "bin_id").distinct().count()
    summary = {
        "rows_in": n_in,
        "after_quality": n_quality,
        "after_decontaminate": n_decontam,
        "after_dedup_and_split": n_out,
        "splits": split_counts,
        "packed_bins": n_bins,
        "budget": args.budget,
    }
    line = json.dumps(summary, separators=(",", ":"))
    print(f"windflow-curate: {line}")
    if args.report:
        Path(args.report).write_text(line + "\n")


if __name__ == "__main__":
    main()
